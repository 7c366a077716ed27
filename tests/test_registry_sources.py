"""Stage registry (config-driven pipelines) + binaryFile image source."""

import numpy as np
import pytest

from mindocr_spark.functions.glyphs import render_page
from mindocr_spark.functions.ordering import sort_words_reading_order
from mindocr_spark.functions.png_codec import encode_png
from mindocr_spark.registry import available_stages, build_pipeline


def test_registry_lists_builtins():
    assert available_stages() == [
        "det_crops", "det_labels", "det_polys", "drop_score", "east_labels",
        "filter", "gear_pad", "normalize_image", "ocr_fused", "pad_crops",
        "pse_labels", "rec_resize_tensor", "recognize", "repartition_cpu",
        "rotate_crops", "strip_html", "table_cells", "to_chw",
    ]


def test_unknown_stage_raises():
    with pytest.raises(KeyError):
        build_pipeline([{"name": "nope"}])
    with pytest.raises(KeyError, match="unknown decoder"):
        build_pipeline([{"name": "recognize", "decoder": "foo"}])
    # an unknown parameter fails while the pipeline is built, on the driver
    with pytest.raises(TypeError):
        build_pipeline([{"name": "det_crops", "bogus": 1}])
    with pytest.raises(TypeError):
        build_pipeline([{"name": "recognize", "use_cls": False}])


def test_config_pipeline_media(spark, small_corpus):
    import pandas as pd

    _, _, media_pdf = small_corpus
    sub = media_pdf.head(4)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i}" for i in range(len(sub))],
                "offset": list(range(len(sub))),
                "media_ref": sub["media_ref"].tolist(),
                "image": sub["image"].tolist(),
            }
        )
    )
    pipe = build_pipeline(
        [
            {"name": "repartition_cpu"},
            {"name": "det_crops"},
            {"name": "recognize"},
            {"name": "drop_score"},
        ]
    )
    out = pipe(df).collect()
    assert len(out) > 0
    assert all(r["conf"] >= 0.5 for r in out)


def test_config_pipeline_text(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"raw_text": ["<p>hello world</p><script>x</script>"]})
    )
    pipe = build_pipeline([{"name": "strip_html"}])
    assert pipe(df).collect()[0]["text"] == "hello world"


def test_image_dir_source(spark, tmp_path):
    from mindocr_spark.sources.images import predict_image_dir, read_image_dir

    for i, word in enumerate(["alpha", "beta"]):
        page, _ = render_page([(word, 30, 30)], 96, 224)
        (tmp_path / f"img_{i}.png").write_bytes(encode_png(page))
    (tmp_path / "notes.txt").write_text("ignore me")

    df = read_image_dir(spark, str(tmp_path))
    assert df.count() == 2  # txt filtered by glob
    recs = predict_image_dir(spark, str(tmp_path)).orderBy("media_ref").collect()
    assert sorted(r["transcription"] for r in recs) == ["alpha", "beta"]


def test_sort_words_reading_order():
    def quad(x, y, w=40, h=20):
        return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]])

    polys = [quad(100, 2), quad(0, 0), quad(0, 50), quad(100, 48)]
    assert sort_words_reading_order(polys) == [1, 0, 2, 3]


def test_registry_table_stage(spark):
    from mindocr_spark.functions.glyphs import render_table
    from mindocr_spark.functions.png_codec import encode_png

    page, _ = render_table([["aa", "bb"]])
    df = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["t"], "image": [encode_png(page)]})
    )
    pipe = build_pipeline([{"name": "table_cells"}])
    rows = {(r["row"], r["col"]): r["text"] for r in pipe(df).collect()}
    assert rows == {(0, 0): "aa", (0, 1): "bb"}


import pandas as pd  # noqa: E402


def _media_df(spark, media_pdf, n=4):
    import pandas as pd

    sub = media_pdf[~media_pdf["media_ref"].str.startswith("pdf_")].head(n)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i}" for i in range(len(sub))],
                "offset": list(range(len(sub))),
                "media_ref": sub["media_ref"].tolist(),
                "image": sub["image"].tolist(),
            }
        )
    )


def test_registry_attn_recognize_matches_ctc(spark, small_corpus):
    """The attention head (RecAttnLabelDecode contract) and the CTC head
    produce the same transcriptions on clean generator crops."""
    _, _, media_pdf = small_corpus
    df = _media_df(spark, media_pdf)

    def run(decoder):
        pipe = build_pipeline(
            [
                {"name": "det_crops"},
                {"name": "recognize", "decoder": decoder},
                {"name": "drop_score"},
            ]
        )
        return sorted(
            (r["media_ref"], r["box_idx"], r["text"]) for r in pipe(df).collect()
        )

    ctc, attn = run("ctc"), run("attn")
    assert ctc == attn
    assert len(ctc) > 0


def test_registry_det_polys_stage(spark, small_corpus):
    """box_type='poly' output: ragged array<array<int>> points per region."""
    _, _, media_pdf = small_corpus
    df = _media_df(spark, media_pdf)
    pipe = build_pipeline([{"name": "det_polys"}])
    rows = pipe(df.select("media_ref", "image")).collect()
    assert len(rows) > 0
    for r in rows:
        assert len(r["points"]) >= 4
        assert all(len(pt) == 2 for pt in r["points"])
        assert r["score"] >= 0.6


def test_registry_pad_and_rotate_crops_compose(spark, small_corpus):
    """pad_crops (white border) and a full rotate_crops(360) round trip do
    not change recognition output."""
    _, _, media_pdf = small_corpus
    df = _media_df(spark, media_pdf)
    base = build_pipeline(
        [{"name": "det_crops"}, {"name": "recognize"}, {"name": "drop_score"}]
    )
    padded = build_pipeline(
        [
            {"name": "det_crops"},
            {"name": "pad_crops", "padding_size": 10, "padding_color": 255.0},
            {"name": "rotate_crops", "angle": 360.0},
            {"name": "recognize"},
            {"name": "drop_score"},
        ]
    )
    key = lambda rows: sorted((r["media_ref"], r["box_idx"], r["text"]) for r in rows)
    assert key(base(df).collect()) == key(padded(df).collect())
