"""Round-2 coverage kernels: RecAttnLabelDecode, box_type='poly' output,
add_padding + the layout-region rec route, arbitrary-angle img_rotate."""

from __future__ import annotations

import numpy as np
import pytest

from mindocr_spark.config import CHARSET
from mindocr_spark.functions.attn import (
    ATTN_GO_IDX,
    ATTN_NUM_CLASSES,
    ATTN_STOP_IDX,
    attn_greedy_decode,
)
from mindocr_spark.functions.geometry import approx_poly_dp, arc_length, is_convex
from mindocr_spark.functions.glyphs import render_page
from mindocr_spark.functions.imaging import (
    add_padding,
    img_rotate,
    rotate180,
    trace_boundary,
)
from mindocr_spark.kernels.system import (
    classify_and_recognize,
    crop_box,
    detect_polys,
    detect_quads,
    layout_region_text,
)


def _attn_logits(ids, probs=None):
    t = np.full((len(ids), ATTN_NUM_CLASSES), 0.001, dtype=np.float32)
    for step, i in enumerate(ids):
        t[step, i] = 0.9 if probs is None else probs[step]
    return t


class TestAttnDecode:
    """Exact-value goldens mirroring rec_postprocess.py:318-347 semantics."""

    def test_basic_stop_cut(self):
        a, b = 2 + CHARSET.index("a"), 2 + CHARSET.index("b")
        text, conf = attn_greedy_decode(_attn_logits([a, b, ATTN_STOP_IDX, a]))
        assert text == "ab"
        assert conf == pytest.approx(0.9, abs=1e-6)

    def test_no_stop_means_empty(self):
        a = 2 + CHARSET.index("a")
        text, conf = attn_greedy_decode(_attn_logits([a, a, a]))
        assert (text, conf) == ("", 0.0)

    def test_stop_first_step(self):
        text, conf = attn_greedy_decode(_attn_logits([ATTN_STOP_IDX]))
        assert (text, conf) == ("", 0.0)

    def test_go_token_emitted_literally(self):
        # the reference joins raw dict entries; a predicted <GO> appears as-is
        a = 2 + CHARSET.index("x")
        text, _ = attn_greedy_decode(_attn_logits([ATTN_GO_IDX, a, ATTN_STOP_IDX]))
        assert text == "<GO>x"

    def test_conf_is_mean_of_prefix(self):
        a = 2 + CHARSET.index("z")
        logits = _attn_logits([a, a, ATTN_STOP_IDX], probs=[0.8, 0.6, 0.99])
        _, conf = attn_greedy_decode(logits)
        assert conf == pytest.approx(0.7, abs=1e-6)

    def test_end_to_end_attn_equals_ctc_on_clean_crop(self):
        page, _ = render_page([("spark", 16, 16)], 64, 224)
        (poly,) = detect_quads(page)
        crop = crop_box(page, poly)
        t_ctc, _ = classify_and_recognize(crop, decoder="ctc")
        t_attn, c_attn = classify_and_recognize(crop, decoder="attn")
        assert t_ctc == t_attn == "spark"
        assert c_attn > 0.5

    def test_logits_contract_shape(self):
        from mindocr_spark.kernels.rec import analyze_crop, head_logits, rec_resize_norm

        page, _ = render_page([("ab", 16, 16)], 64, 128)
        (poly,) = detect_quads(page)
        crop = rec_resize_norm(crop_box(page, poly))
        logits = head_logits(analyze_crop(crop), "attn")
        assert logits.shape[1] == ATTN_NUM_CLASSES
        assert logits[-1].argmax() == ATTN_STOP_IDX


class TestPolyOutput:
    def test_poly_covers_ink_axis_aligned(self):
        page, _ = render_page([("hello", 16, 16), ("spark", 80, 16)], 128, 224)
        polys, scores = detect_polys(page)
        quads = detect_quads(page)
        assert len(polys) == len(quads) == 2
        for p, s in zip(polys, scores):
            assert len(p) >= 4
            assert s >= 0.6
            # ragged dtype/shape contract: (N, 2) int64
            assert p.dtype == np.int64 and p.shape[1] == 2

    def test_poly_covers_ink_rotated_page(self):
        # rotate the rendered page 20 deg (ink-inverted so the rotation
        # border fill reads as white paper, not ink)
        flat, _ = render_page([("oblique", 64, 64)], 192, 288)
        page = (
            255 - np.clip(np.rint(img_rotate(255.0 - flat, 20.0)), 0, 255)
        ).astype(np.uint8)
        polys, _ = detect_polys(page)
        assert len(polys) == 1
        ink_y, ink_x = np.nonzero(page < 127)
        (p,) = polys
        # every ink pixel inside the poly's bbox (poly is the unclipped hull)
        assert p[:, 0].min() <= ink_x.min() and p[:, 0].max() >= ink_x.max()
        assert p[:, 1].min() <= ink_y.min() and p[:, 1].max() >= ink_y.max()

    def test_approx_poly_dp_square_and_diamond(self):
        sq = []
        for i in range(20):
            sq.append((i, 0))
        for i in range(20):
            sq.append((19, i))
        for i in range(20):
            sq.append((19 - i, 19))
        for i in range(20):
            sq.append((0, 19 - i))
        out = approx_poly_dp(np.array(sq, float), 0.5)
        assert len(out) == 4
        # 80 points incl. 4 duplicated corners -> 76 unit segments
        assert arc_length(np.array(sq, float)) == pytest.approx(76.0)
        assert is_convex(out)

    def test_trace_boundary_is_closed_cycle(self):
        mask = np.zeros((12, 12), bool)
        mask[2:9, 3:10] = True
        mask[5, 1:3] = True  # protrusion
        b = trace_boundary(np.argwhere(mask))  # one component's (y, x) pixels
        # consecutive boundary pixels are 8-neighbors, including wraparound
        d = np.abs(np.diff(np.vstack([b, b[:1]]), axis=0)).max(axis=1)
        assert (d <= 1).all()


class TestPaddingAndRotate:
    def test_add_padding_int_and_tuple(self):
        img = np.ones((2, 3), dtype=np.float32)
        p = add_padding(img, 2, 7.0)
        assert p.shape == (6, 7) and p[0, 0] == 7.0 and p[2, 2] == 1.0
        q = add_padding(img, (1, 0, 0, 2), 0.0)
        assert q.shape == (3, 5) and q[1, 0] == 1.0 and q[0, 4] == 0.0

    def test_img_rotate_180_matches_exact_kernel(self):
        img = np.arange(35, dtype=np.float32).reshape(5, 7)
        assert np.allclose(img_rotate(img, 180), rotate180(img), atol=1e-3)

    def test_img_rotate_90_on_square(self):
        img = np.arange(49, dtype=np.float32).reshape(7, 7)
        assert np.allclose(img_rotate(img, 90), np.rot90(img), atol=1e-3)

    def test_img_rotate_round_trip_center(self):
        # a smooth field is preserved through the double interpolation
        # almost exactly (bilinear is exact on affine functions); noise
        # images would only measure the interpolation low-pass, not geometry
        yy, xx = np.mgrid[0:33, 0:33]
        img = (3.0 * yy + 2.0 * xx).astype(np.float32)
        back = img_rotate(img_rotate(img, 30), -30)
        c = slice(12, 21)
        assert np.abs(back[c, c] - img[c, c]).mean() < 1e-3

    def test_layout_region_text_route(self):
        page, _ = render_page([("merge", 16, 16), ("batch", 80, 16)], 128, 224)
        # region = the whole page; route: crop -> white pad 10 -> OCR -> join
        text = layout_region_text(page, (0, 0, page.shape[1], page.shape[0]))
        assert text == "merge batch"
        # sub-region containing only the second word
        text2 = layout_region_text(page, (0, 64, page.shape[1], 128))
        assert text2 == "batch"


class TestResizeVariants:
    def test_rec_resize_padded_fixed_shape(self):
        from mindocr_spark.kernels.rec import rec_resize_padded

        crop = np.full((16, 80), 200, dtype=np.uint8)  # ratio 5 -> w 160
        out, vr = rec_resize_padded(crop)
        assert out.shape == (32, 320)
        assert vr == pytest.approx(160 / 320)
        assert out[:, :160].mean() == pytest.approx(200.0, abs=0.5)
        assert float(np.abs(out[:, 160:]).max()) == 0.0  # zero right-pad
        # wider than the gear width: capped, valid_ratio 1.0
        wide = np.full((16, 400), 50, dtype=np.uint8)
        out2, vr2 = rec_resize_padded(wide)
        assert out2.shape == (32, 320) and vr2 == 1.0

    def test_letterbox_roundtrip_with_scale_coords(self):
        from mindocr_spark.kernels.layout_post import letterbox, scale_coords

        img = np.full((100, 200), 30, dtype=np.uint8)
        out, r, (dh, dw) = letterbox(img, 640, scaleup=True)
        assert out.shape == (640, 640)
        assert r == pytest.approx(3.2)
        # pad rows are the 114 gray, content area preserved
        assert out[0, 0] == pytest.approx(114.0)
        assert out[320, 320] == pytest.approx(30.0, abs=1.0)
        # a box at original (10, 20, 50, 60) maps into letterbox space and
        # scale_coords (the existing undo kernel) inverts it
        box = np.array([[10 * r + dw, 20 * r + dh, 50 * r + dw, 60 * r + dh]])
        back = scale_coords(box.copy(), (100, 200), r, (dw, dh))
        assert np.allclose(back, [[10, 20, 50, 60]], atol=1.0)

    def test_letterbox_no_scaleup_by_default(self):
        from mindocr_spark.kernels.layout_post import letterbox

        img = np.zeros((100, 200), dtype=np.uint8)
        out, r, _ = letterbox(img, 640)
        assert r == 1.0  # scale-down only (reference scaleup=False default)
        assert out.shape == (640, 640)
