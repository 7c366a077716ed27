"""End-to-end kernel tests: render -> detect -> crop -> cls -> rec == ground
truth (the reference's synthetic-image system-test strategy,
``tests/st/test_online_infer.py``)."""

import numpy as np
import pytest

from mindocr_spark.config import CHARSET, DROP_SCORE
from mindocr_spark.functions.glyphs import render_page
from mindocr_spark.functions.imaging import rotate180
from mindocr_spark.kernels.cls import cls_probs_from_analyses
from mindocr_spark.kernels.det import db_postprocess, det_resize, det_score
from mindocr_spark.kernels.rec import analyze_crop, head_logits, rec_resize_norm
from mindocr_spark.kernels.system import (
    crop_box,
    detect_quads,
    media_span_text,
    ocr_image,
)

WORDS = [
    "hello", "world", "spark42", "quickbrown", "fox", "jumps", "lazydog",
    "vexing", "fjord", "waltz", "nymph", "blitz", "quartz", "iceberg",
    "mix2024", "zero0", "judge", "keyboard",
]


def _page_for(word, rotate=False):
    w = ((len(word) * 24 + 80) // 32 + 1) * 32
    return render_page([(word, 30, 30)], 96, w, rotate180=rotate)


class TestDetect:
    def test_boxes_cover_gt(self):
        page, gt = render_page([("hello", 20, 20), ("world", 64, 20)], 128, 256)
        boxes = detect_quads(page)
        assert len(boxes) == 2
        for box, rec in zip(boxes, gt):
            (gx0, gy0) = rec["points"][0]
            (gx1, gy1) = rec["points"][2]
            assert box[:, 0].min() <= gx0 and box[:, 0].max() >= gx1
            assert box[:, 1].min() <= gy0 and box[:, 1].max() >= gy1
            # tight: no more than 6px margin anywhere
            assert gx0 - box[:, 0].min() <= 6
            assert box[:, 1].max() - gy1 <= 6

    def test_blank_page_no_boxes(self):
        page = np.full((64, 64), 255, dtype=np.uint8)
        assert detect_quads(page) == []

    def test_prob_map_contract(self):
        page, _ = _page_for("abc")
        resized, shape_list = det_resize(page)
        prob = det_score(resized)
        assert prob.shape == resized.shape
        assert prob.dtype == np.float32
        assert 0.0 <= prob.min() and prob.max() <= 1.0
        polys, scores = db_postprocess(prob, shape_list)
        assert len(polys) == 1 and scores[0] > 0.9

    def test_det_resize_large_image_limited(self):
        img = np.full((1200, 2400), 255, dtype=np.uint8)
        resized, (sh, sw, rh, rw) = det_resize(img)
        assert max(resized.shape) <= 960
        assert resized.shape[0] % 32 == 0 and resized.shape[1] % 32 == 0
        assert (sh, sw) == (1200, 2400)


class TestRecognize:
    @pytest.mark.parametrize("word", WORDS)
    def test_word_exact(self, word):
        page, _ = _page_for(word)
        recs = ocr_image(page)
        assert [r["transcription"] for r in recs] == [word]
        assert recs[0]["score"] >= DROP_SCORE

    def test_charset_pairs_exact(self):
        pairs = [CHARSET[i : i + 2] for i in range(0, 36, 2)] + [
            CHARSET[i + 1] + CHARSET[i] for i in range(0, 36, 2)
        ]
        for p in pairs:
            page, _ = render_page([(p, 20, 20)], 96, 128)
            assert [r["transcription"] for r in ocr_image(page)] == [p], p

    def test_logits_contract(self):
        page, _ = _page_for("ab")
        crop = crop_box(page, detect_quads(page)[0])
        logits = head_logits(analyze_crop(rec_resize_norm(crop)))
        assert logits.ndim == 2 and logits.shape[1] == len(CHARSET) + 1
        assert logits.dtype == np.float32


class TestCls:
    def test_upright_label_0(self):
        page, _ = _page_for("reading")
        crop = crop_box(page, detect_quads(page)[0])
        up = rec_resize_norm(crop)
        probs = cls_probs_from_analyses(
            analyze_crop(up), analyze_crop(rotate180(up))
        )
        assert probs.argmax() == 0 and probs[0] > 0.9

    def test_rotated_page_recovered(self):
        page, _ = _page_for("rotated", rotate=True)
        recs = ocr_image(page)
        assert [r["transcription"] for r in recs] == ["rotated"]

    def test_rotated_multiword(self):
        page, gt = render_page(
            [("alpha", 20, 20), ("beta77", 64, 200)], 128, 384, rotate180=True
        )
        texts = sorted(r["transcription"] for r in ocr_image(page))
        assert texts == ["alpha", "beta77"]


class TestMerge:
    def test_reading_order_and_join(self):
        page, _ = render_page(
            [("bb", 20, 200), ("aa", 20, 20), ("cc", 64, 20), ("dd", 64, 200)],
            128, 320,
        )
        assert media_span_text(page) == "aa bb cc dd"

    def test_drop_score_filters_noise(self):
        # random speckle blob: detected maybe, but decodes at low conf -> dropped
        rng = np.random.RandomState(7)
        page = np.full((64, 64), 255, dtype=np.uint8)
        page[20:40, 20:40] = (rng.rand(20, 20) > 0.5).astype(np.uint8) * 255
        for rec in ocr_image(page):
            assert rec["score"] >= DROP_SCORE


def test_validate_polygons_train_reference_semantics():
    """ValidatePolygons (det_transforms.py:668-712) as a standalone kernel:
    outside-drop and min-area ignore (incl. the boundary-touch area-0
    case)."""
    import numpy as np

    from mindocr_spark.kernels.det import validate_polygons_train

    hw = (100, 200)  # h, w
    inside = np.array([[10, 10], [50, 10], [50, 40], [10, 40]], float)
    outside = np.array([[300, 300], [320, 300], [320, 320], [300, 320]], float)
    partial = np.array([[180, 10], [260, 10], [260, 40], [180, 40]], float)
    tiny = np.array([[5, 5], [5.5, 5], [5.5, 5.5], [5, 5.5]], float)
    polys = [inside, outside, partial, tiny]
    texts = ["in", "out", "part", "tiny"]
    tags = [False, False, False, False]

    ps, ts, ig = validate_polygons_train(polys, texts, tags, hw)
    # fully-outside dropped; others kept with ORIGINAL coords (no clip flag)
    assert ts == ["in", "part", "tiny"]
    np.testing.assert_allclose(ps[1], partial)
    # tiny: clipped area 0.25 < min_area=1 -> ignored; partial's visible
    # area is 20x30=600 -> kept
    assert list(ig) == [False, False, True]

    # boundary-touching polygon: intersects with area 0 -> kept, ignored
    touch = np.array([[200, 10], [240, 10], [240, 40], [200, 40]], float)
    ps3, ts3, ig3 = validate_polygons_train([touch], ["t"], [False], hw)
    assert ts3 == ["t"] and list(ig3) == [True]

    # preexisting ignore tag survives
    _, _, ig4 = validate_polygons_train([inside], ["x"], [True], hw)
    assert list(ig4) == [True]
