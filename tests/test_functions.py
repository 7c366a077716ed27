"""Unit tests for the pure-numpy kernel library (SURVEY.md §5 strategy:
exact-value goldens per kernel, like the reference's tests/ut)."""

import json

import numpy as np
import pytest

from mindocr_spark.config import CHARSET, BLANK_IDX, NUM_CLASSES
from mindocr_spark.functions.ctc import ctc_greedy_decode
from mindocr_spark.functions.geometry import (
    convex_hull,
    min_area_rect,
    offset_convex_poly,
    order_points_clockwise,
    poly_area_perimeter,
    poly_iou,
    rescale_polys,
    unclip,
)
from mindocr_spark.functions.glyphs import glyph_bitmap, render_page, render_word, templates
from mindocr_spark.functions.html_text import extract_main_text
from mindocr_spark.functions.imaging import (
    box_filter,
    component_order,
    label_runs,
    resize_bilinear,
    rotate180,
    warp_perspective_crop,
)
from mindocr_spark.functions.ordering import sorted_boxes
from mindocr_spark.functions.png_codec import decode_png, encode_png


class TestGlyphs:
    def test_all_chars_have_glyphs(self):
        assert templates().shape == (36, 7, 5)

    def test_glyphs_pairwise_distinct(self):
        t = templates().reshape(36, -1)
        for i in range(36):
            for j in range(i + 1, 36):
                assert (t[i] != t[j]).any(), f"{CHARSET[i]} == {CHARSET[j]}"

    def test_occupied_columns_contiguous(self):
        # required for unambiguous column-run segmentation in the recognizer
        for ch in CHARSET:
            cols = np.nonzero(glyph_bitmap(ch).any(axis=0))[0]
            assert np.all(np.diff(cols) == 1), f"glyph {ch} has internal blank column"

    def test_baseline_row_inked(self):
        # bottom-alignment invariant used by bbox-normalized matching
        for ch in CHARSET:
            assert glyph_bitmap(ch)[-1].any() or glyph_bitmap(ch)[-2].any()

    def test_render_word_shape(self):
        img = render_word("ab")
        assert img.shape == (28, 44)
        assert img.min() == 0 and img.max() == 255

    def test_render_page_gt(self):
        page, gt = render_page([("hi", 8, 12)], 64, 96)
        assert page.shape == (64, 96)
        assert gt[0]["transcription"] == "hi"
        assert gt[0]["points"][0] == [12, 8]

    def test_render_page_rotate180_remaps_points(self):
        page, gt = render_page([("hi", 8, 12)], 64, 96, rotate180=True)
        # ink moved to the opposite corner
        (x0, y0) = gt[0]["points"][0]
        assert x0 == 96 - 1 - (12 + 43)  # right edge mirrored
        assert page.shape == (64, 96)


class TestPng:
    def test_roundtrip_gray(self):
        rng = np.random.RandomState(0)
        img = rng.randint(0, 256, (33, 47), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    def test_roundtrip_rgb(self):
        rng = np.random.RandomState(1)
        img = rng.randint(0, 256, (16, 21, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    def test_junk_raises(self):
        with pytest.raises(ValueError):
            decode_png(b"not a png at all")


class TestImaging:
    def test_resize_identity(self):
        img = np.arange(12, dtype=np.uint8).reshape(3, 4)
        assert np.array_equal(resize_bilinear(img, 3, 4), img.astype(np.float32))

    def test_resize_constant(self):
        img = np.full((10, 10), 7, dtype=np.uint8)
        out = resize_bilinear(img, 23, 31)
        assert out.shape == (23, 31)
        assert np.allclose(out, 7.0)

    def test_box_filter_constant(self):
        img = np.full((8, 8), 3.0, dtype=np.float32)
        assert np.allclose(box_filter(img, 5), 3.0)

    @staticmethod
    def _component_sizes(m):
        run_y, run_x0, run_x1, root = label_runs(m)
        order, bounds = component_order(run_y, run_x0, root)
        lens = (run_x1 - run_x0)[order]
        return [int(lens[a:b].sum()) for a, b in zip(bounds[:-1], bounds[1:])]

    def test_connected_components_two_blobs(self):
        m = np.zeros((10, 10), dtype=bool)
        m[1:3, 1:3] = True
        m[6:9, 6:9] = True
        assert self._component_sizes(m) == [4, 9]

    def test_connected_components_diagonal_8conn(self):
        m = np.zeros((4, 4), dtype=bool)
        m[0, 0] = True
        m[1, 1] = True
        assert len(self._component_sizes(m)) == 1

    def test_warp_identity_rect(self):
        img = np.arange(100, dtype=np.float32).reshape(10, 10)
        quad = np.array([[2, 3], [7, 3], [7, 6], [2, 6]])
        crop = warp_perspective_crop(img, quad)
        # reference convention: out size = corner-distance norms (5x3)
        assert crop.shape == (3, 5)
        assert crop[0, 0] == img[3, 2] and crop[-1, -1] == img[6, 7]

    def test_warp_tall_rotates(self):
        img = np.zeros((20, 20), dtype=np.float32)
        quad = np.array([[2, 2], [5, 2], [5, 14], [2, 14]])  # 4x13 tall
        crop = warp_perspective_crop(img, quad)
        assert crop.shape[0] < crop.shape[1]  # rot90 applied

    def test_rotate180(self):
        img = np.array([[1, 2], [3, 4]], dtype=np.uint8)
        assert np.array_equal(rotate180(img), [[4, 3], [2, 1]])


class TestGeometry:
    def test_hull_square(self):
        pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [2, 2], [1, 3]])
        assert len(convex_hull(pts)) == 4

    def test_min_area_rect_axis_aligned(self):
        pts = np.array([[0, 0], [10, 0], [10, 4], [0, 4], [5, 2]])
        rect, short, long_ = min_area_rect(pts)
        assert short == pytest.approx(4.0)
        assert long_ == pytest.approx(10.0)
        assert np.allclose(rect[0], [0, 0])

    def test_min_area_rect_rotated(self):
        # diamond: rotated square side sqrt(2)*5
        pts = np.array([[5, 0], [10, 5], [5, 10], [0, 5]], dtype=float)
        _, short, long_ = min_area_rect(pts)
        assert short == pytest.approx(long_, rel=1e-6)
        assert short == pytest.approx(np.sqrt(50), rel=1e-6)

    def test_order_points_clockwise(self):
        pts = np.array([[9, 9], [1, 1], [9, 1], [1, 9]])
        out = order_points_clockwise(pts)
        assert np.array_equal(out, [[1, 1], [9, 1], [9, 9], [1, 9]])

    def test_offset_square_outward(self):
        sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        out = offset_convex_poly(sq, 1.0)
        area, _ = poly_area_perimeter(out)
        assert area == pytest.approx(36.0)

    def test_offset_square_inward(self):
        sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        out = offset_convex_poly(sq, -1.0)
        area, _ = poly_area_perimeter(out)
        assert area == pytest.approx(4.0)

    def test_unclip_formula(self):
        # DB: distance = area*ratio/perimeter; 10x4 rect, ratio 1.5 -> d=1.5*40/28
        sq = np.array([[0, 0], [10, 0], [10, 4], [0, 4]], dtype=float)
        out = unclip(sq, 1.5)
        d = 1.5 * 40 / 28
        area, _ = poly_area_perimeter(out)
        assert area == pytest.approx((10 + 2 * d) * (4 + 2 * d))

    def test_rescale_clip_round(self):
        polys = np.array([[[10, 20], [30, 40], [30, 60], [10, 60]]], dtype=float)
        out = rescale_polys(polys, 2.0, 2.0, 25, 14)
        assert out.max(initial=0) <= 29
        assert np.array_equal(out[0][0], [5, 10])

    def test_iou_identical(self):
        q = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        assert poly_iou(q, q) == pytest.approx(1.0)

    def test_iou_half_overlap(self):
        a = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        b = np.array([[2, 0], [6, 0], [6, 4], [2, 4]], dtype=float)
        assert poly_iou(a, b) == pytest.approx(8 / 24)

    def test_iou_disjoint(self):
        a = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
        b = np.array([[5, 5], [6, 5], [6, 6], [5, 6]], dtype=float)
        assert poly_iou(a, b) == 0.0


class TestCtc:
    def _logits(self, ids, conf=0.9):
        out = np.full((len(ids), NUM_CLASSES), (1 - conf) / (NUM_CLASSES - 1), np.float32)
        for t, i in enumerate(ids):
            out[t, i] = conf
        return out

    def test_dedup_and_blank(self):
        # h h <b> i i -> "hi"  (indices into CHARSET)
        h, i = CHARSET.index("h"), CHARSET.index("i")
        text, conf = ctc_greedy_decode(self._logits([h, h, BLANK_IDX, i, i]))
        assert text == "hi"
        assert conf == pytest.approx(0.9, abs=1e-6)

    def test_repeated_char_needs_blank(self):
        a = CHARSET.index("a")
        text, _ = ctc_greedy_decode(self._logits([a, a]))
        assert text == "a"
        text, _ = ctc_greedy_decode(self._logits([a, BLANK_IDX, a]))
        assert text == "aa"

    def test_all_blank_empty(self):
        text, conf = ctc_greedy_decode(self._logits([BLANK_IDX, BLANK_IDX]))
        assert text == "" and conf == 0.0

    def test_empty_logits(self):
        assert ctc_greedy_decode(np.zeros((0, NUM_CLASSES), np.float32)) == ("", 0.0)


class TestSortedBoxes:
    def _quad(self, x, y, w=10, h=5):
        return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]])

    def test_reading_order(self):
        boxes = [self._quad(50, 0), self._quad(0, 2), self._quad(0, 40), self._quad(50, 40)]
        order = sorted_boxes(boxes)
        assert order == [1, 0, 2, 3]  # same line by y-tolerance, then next line

    def test_strict_rows(self):
        boxes = [self._quad(0, 100), self._quad(0, 0)]
        assert sorted_boxes(boxes) == [1, 0]


class TestHtmlText:
    def test_plain_text_passthrough(self):
        assert extract_main_text("  hello   world ") == "hello world"

    def test_strip_script_style(self):
        raw = "<p>keep this text</p><script>var x=1; drop me</script><style>.a{}</style>"
        assert extract_main_text(raw) == "keep this text"

    def test_strip_nav_footer(self):
        raw = "<nav><a href='/'>Home</a> <a href='/x'>X</a></nav><p>main body here</p><footer>c 2020 site</footer>"
        assert extract_main_text(raw) == "main body here"

    def test_link_density_drops_menus(self):
        raw = "<div><a href='/a'>one</a> <a href='/b'>two</a> <a href='/c'>three</a></div><p>real content sentence</p>"
        assert extract_main_text(raw) == "real content sentence"

    def test_entities(self):
        assert extract_main_text("<p>a &amp; b are friends</p>") == "a & b are friends"

    def test_none(self):
        assert extract_main_text(None) == ""


class TestCharDict:
    def test_default_dict(self):
        from mindocr_spark.functions.chardict import load_char_dict

        chars = load_char_dict()
        assert len(chars) == 36 and chars[0] == "0" and chars[-1] == "z"

    def test_file_dict_and_space(self, tmp_path):
        from mindocr_spark.functions.chardict import load_char_dict

        p = tmp_path / "dict.txt"
        p.write_text("a\nb\nc\n")
        assert load_char_dict(str(p)) == ["a", "b", "c"]
        assert load_char_dict(str(p), use_space_char=True) == ["a", "b", "c", " "]

    def test_reference_en_dict_loads(self):
        import os

        from mindocr_spark.functions.chardict import load_char_dict

        ref = "/root/reference/mindocr/utils/dict/en_dict.txt"
        if not os.path.exists(ref):
            return
        chars = load_char_dict(ref)
        assert len(chars) > 36 and "A" in chars

    def test_ctc_effective_len(self):
        from mindocr_spark.functions.chardict import ctc_effective_len

        assert ctc_effective_len("abc") == 3
        assert ctc_effective_len("aabcc") == 7
        assert ctc_effective_len("") == 0

    def test_valid_rec_label(self):
        from mindocr_spark.functions.chardict import valid_rec_label

        assert valid_rec_label("hello", 10)
        assert not valid_rec_label("aa", 2)  # effective len 3 > 2
        assert not valid_rec_label("!!!", 10)  # nothing in-dict


def test_html_head_title_stripped():
    raw = ("<html><head><title>Site Name Here</title><meta x='y'></head>"
           "<body><p>the real article body</p></body></html>")
    assert extract_main_text(raw) == "the real article body"


def test_min_area_rect_45deg_regression():
    """hypothesis-found regression: near-45-degree point sets used to get a
    crossed corner order (area below the hull's)."""
    pts = np.array([(0, 1), (0, 200), (1, 0), (100, 100)], dtype=float)
    rect, short, long_ = min_area_rect(pts)
    from mindocr_spark.functions.geometry import poly_area_perimeter

    area_r, _ = poly_area_perimeter(rect)
    hull = convex_hull(pts)
    area_h, _ = poly_area_perimeter(hull)
    assert area_r >= area_h - 1e-6
    assert short * long_ == pytest.approx(area_r, rel=1e-9)
