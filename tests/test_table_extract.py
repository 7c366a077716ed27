"""Ruled-table extraction: grid detect -> line-erased OCR -> cell matching
== rendered ground truth, single-process and through the extraction."""

import pandas as pd
import pytest

from mindocr_spark.functions.glyphs import render_table
from mindocr_spark.functions.png_codec import encode_png
from mindocr_spark.kernels.table import detect_grid, extract_table

TABLES = [
    [["alpha", "beta", ""], ["one42", "", "total"]],
    [["x1"]],
    [["north", "south"], ["east99", "west"], ["", "gold"]],
]


@pytest.mark.parametrize("cells", TABLES)
def test_extract_table_exact(cells):
    page, gt = render_table(cells)
    out = extract_table(page)
    assert out["n_rows"] == len(cells)
    assert out["n_cols"] == len(cells[0])
    assert out["cells"] == gt


@pytest.mark.parametrize("cells", TABLES + [[["ab", "cd"], ["ef", "ab"]]])
def test_extract_table_cells_match_html_cells(cells):
    """Both extractors read one OCR pass: extract_table's row-major cells
    are extract_table_html's <td> texts with <b> stripped."""
    import re

    from mindocr_spark.kernels.table import extract_table_html

    page, _ = render_table(cells)
    html = extract_table_html(page)
    tds = [re.sub("</?b>", "", t) for t in re.findall("<td>(.*?)</td>", html)]
    assert [t for row in extract_table(page)["cells"] for t in row] == tds


def test_no_grid_returns_empty():
    from mindocr_spark.functions.glyphs import render_page

    page, _ = render_page([("hello", 20, 20)], 96, 224)
    assert extract_table(page) == {"n_rows": 0, "n_cols": 0, "cells": []}


def test_detect_grid_positions():
    page, _ = render_table([["ab", "cd"]])
    h_lines, v_lines = detect_grid(page)
    assert h_lines == [0, 64]
    assert v_lines == [0, 224, 448]


def test_table_media_through_extraction_pipeline(spark):
    """A ruled-table media span flows through the full extraction in both
    modes and the oracle, yielding row-major cell text."""
    import pandas as pd

    from mindocr_spark.oracle.pipeline import extract_documents_oracle
    from mindocr_spark.plans.extract import extract

    page, _ = render_table([["qty", "price"], ["x4", "total9"]])
    spans_pdf = pd.DataFrame(
        [{"doc_id": "t", "spans": [
            {"kind": "media", "text": None, "media_ref": "tbl1", "offset": 0}
        ]}]
    )
    media_pdf = pd.DataFrame([{"media_ref": "tbl1", "image": encode_png(page)}])
    want = extract_documents_oracle(spans_pdf, media_pdf).iloc[0]["out_spans"][0]["text"]
    assert want == "qty price x4 total9"

    spans_df = spark.createDataFrame(
        [("t", [("media", None, "tbl1", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    media_df = spark.createDataFrame(media_pdf)
    for mode in ["fused", "exploded"]:
        row = extract(spark, spans_df, media_df, mode=mode).collect()[0]
        assert row["out_spans"][0]["text"] == want, mode


def test_extract_table_html_end_to_end():
    """Rendered ruled grid -> TableMaster HTML (round 5): every non-empty
    cell's OCR'd text lands in its own <td>, the first row is bolded as
    <thead>, and the document is the reference's full wrap."""
    from mindocr_spark.kernels.table import extract_table_html

    cells = [["alpha", "beta"], ["one42", "total"], ["", "gold"]]
    page, _ = render_table(cells)
    html = extract_table_html(page)
    expect = (
        "<html><body><table>"
        "<thead><tr><td><b>alpha</b></td><td><b>beta</b></td></tr></thead>"
        "<tbody>"
        "<tr><td>one42</td><td>total</td></tr>"
        "<tr><td></td><td>gold</td></tr>"
        "</tbody></table></body></html>"
    )
    assert html == expect


def test_extract_table_html_no_grid_is_empty():
    from mindocr_spark.functions.glyphs import render_page
    from mindocr_spark.kernels.table import extract_table_html

    page, _ = render_page([("hello", 20, 20)], 96, 224)
    assert extract_table_html(page) == ""
