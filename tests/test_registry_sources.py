"""binaryFile image source + reading-order sort of word boxes."""

import numpy as np

from mindocr_spark.functions.glyphs import render_page
from mindocr_spark.functions.ordering import sort_words_reading_order
from mindocr_spark.functions.png_codec import encode_png


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
