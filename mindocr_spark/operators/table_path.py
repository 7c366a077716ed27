"""Table-span path: ruled-table structure extraction as a mapInPandas
stage (the predict_table_e2e analogue; see kernels/table.py)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ..kernels.system import decode_gray
from ..kernels.table import extract_table

TABLE_CELLS_SCHEMA = "media_ref string, row int, col int, text string"


def table_cells_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image) -> one row per table cell (row-major)."""
    for pdf in batches:
        out = {"media_ref": [], "row": [], "col": [], "text": []}
        for ref, blob in zip(pdf["media_ref"], pdf["image"]):
            img = decode_gray(blob)
            if img is None:
                continue
            table = extract_table(img)
            for r, row_cells in enumerate(table["cells"]):
                for c, text in enumerate(row_cells):
                    out["media_ref"].append(ref)
                    out["row"].append(r)
                    out["col"].append(c)
                    out["text"].append(text)
        yield pd.DataFrame(out, columns=["media_ref", "row", "col", "text"])


TABLE_HTML_SCHEMA = "media_ref string, html string, n_cells int"


def table_html_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image) -> one row per ruled-table image with the
    TableMaster pred_html (kernels/table.extract_table_html —
    the predict_table_recognition.py output shape). Non-table or
    undecodable payloads are skipped, like the decode-skip node."""
    from ..kernels.table import extract_table_html

    for pdf in batches:
        out = {"media_ref": [], "html": [], "n_cells": []}
        for ref, blob in zip(pdf["media_ref"], pdf["image"]):
            img = decode_gray(blob)
            if img is None:
                continue
            html = extract_table_html(img)
            if not html:
                continue
            out["media_ref"].append(ref)
            out["html"].append(html)
            out["n_cells"].append(html.count("<td"))
        yield pd.DataFrame(out, columns=["media_ref", "html", "n_cells"])
