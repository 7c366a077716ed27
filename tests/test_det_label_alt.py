"""EAST / PSE training-label generators (kernels/det_label_alt.py) —
exact hand-derived goldens."""

import numpy as np

from mindocr_spark.kernels.det_label_alt import (
    east_min_rect_angle,
    east_score_geo,
    east_shrink_poly,
    pse_gt_decode,
    pse_shrink_polys,
)


def quad(x0, y0, side):
    return [
        [x0, y0], [x0 + side, y0],
        [x0 + side, y0 + side], [x0, y0 + side],
    ]


# --- EAST: shrink golden ------------------------------------------------------


def test_east_shrink_square_hand_derived():
    """Square (0,0)-(200,200), coef 0.3: every r_i = 200, equal edge-sum
    pair -> offset = 1, and the four sequential moves each displace 60px
    along an axis (lengths stay 200 throughout for this square):
      move(1,2): y2 0->60, y3 200->140
      move(3,0): y4 200->140, y1 0->60
      move(2,3): x3 200->140, x4 0->60
      move(0,1): x1 0->60, x2 200->140
    -> the square shrunk to (60,60)-(140,140)."""
    v = np.array([0, 0, 200, 0, 200, 200, 0, 200], dtype=np.float64)
    got = east_shrink_poly(v)
    assert np.allclose(got, [60, 60, 140, 60, 140, 140, 60, 140])
    # input untouched (reference copies before moving)
    assert np.allclose(v, [0, 0, 200, 0, 200, 200, 0, 200])


def test_east_shrink_short_edge_frozen():
    # an edge of length <= 1 must not move (det_east_transforms.py:66)
    v = np.array([0, 0, 0.5, 0, 0.5, 40, 0, 40], dtype=np.float64)
    got = east_shrink_poly(v)
    # the two 0.5-length horizontal edges are frozen; only the long
    # vertical edges shrink (r = 0.5 -> 0.15px moves along y)
    assert np.allclose(got[[0, 2, 4, 6]], v[[0, 2, 4, 6]])


def test_east_min_rect_angle():
    # axis-aligned rect in canonical order -> theta exactly 0
    v = np.array([10, 10, 110, 10, 110, 50, 10, 50], dtype=np.float64)
    assert east_min_rect_angle(v) == 0.0
    # a rotated rect: the chosen angle's bounding area is minimal over
    # the whole 1-degree sweep (non-circular property check)
    th = np.deg2rad(30.0)
    c, s = np.cos(th), np.sin(th)
    base = np.array([[-50, -20], [50, -20], [50, 20], [-50, 20]], float)
    rot = base @ np.array([[c, s], [-s, c]]) + 200
    vr = rot.reshape(-1)
    best = east_min_rect_angle(vr)

    def bbox_area(theta):
        m = np.array(
            [[np.cos(theta), -np.sin(theta)], [np.sin(theta), np.cos(theta)]]
        )
        p = (m @ (rot - rot[0]).T).T + rot[0]
        return (p[:, 0].max() - p[:, 0].min()) * (p[:, 1].max() - p[:, 1].min())

    areas = [bbox_area(np.deg2rad(a)) for a in range(-90, 90)]
    assert bbox_area(best) <= min(areas) + 1e-6


def test_east_score_geo_axis_aligned():
    """Square (0,0)-(200,200) on a 512 crop: shrunk poly (60,60)-(140,140)
    scales to the map square 15..35 (441 pixels); with theta = 0 the
    float16 rotation is exact on integer coords, so d1+d2 == height and
    d3+d4 == width at every scored pixel, and the angle channel is 0."""
    score, geo, ignored = east_score_geo(
        np.array([[0, 0, 200, 0, 200, 200, 0, 200]], dtype=np.float64),
        np.array([1]),
    )
    assert score.shape == (1, 128, 128) and geo.shape == (5, 128, 128)
    assert score.sum() == 441
    assert score[0, 15:36, 15:36].all() and score[0, 40:, 40:].sum() == 0
    m = score[0] == 1
    assert np.allclose((geo[0] + geo[1])[m], 200.0)
    assert np.allclose((geo[2] + geo[3])[m], 200.0)
    assert (geo[4][m] == 0).all()
    assert ignored.sum() == 0


def test_east_score_geo_ignored_and_empty_quirk():
    # ignored poly -> ignored map only; empty score -> score[0,0,0] = 1
    score, geo, ignored = east_score_geo(
        np.array([[0, 0, 200, 0, 200, 200, 0, 200]], dtype=np.float64),
        np.array([0]),
    )
    assert ignored.sum() > 0
    assert score.sum() == 1 and score[0, 0, 0] == 1  # the reference quirk
    assert geo.sum() == 0


# --- PSE ----------------------------------------------------------------------


def test_pse_gt_decode_hand_derived():
    """Square (0,0)-(60,60) on 640x640 (no rescale): offsets by the
    reference formula int(area*(1-rate^2)/(peri+.001)+0.5) capped 20 are
    [3, 5, 8, 10, 11, 13] for kernels 1..6, giving boundary-inclusive
    pixel counts (61-2*off)^2."""
    out = pse_gt_decode((640, 640), [np.array(quad(0, 0, 60), float)], [False])
    assert out["shape_hw"] == (640, 640)
    assert out["gt_text"].sum() == 61 * 61
    assert out["mask"].sum() == 640 * 640  # nothing ignored
    offs = [3, 5, 8, 10, 11, 13]
    assert out["gt_kernels"].shape == (6, 640, 640)
    for i, off in enumerate(offs):
        side = 61 - 2 * off
        assert out["gt_kernels"][i].sum() == side * side, (i, off)


def test_pse_gt_decode_rescale_and_ignore():
    # short edge 320 < 640 -> everything scales by 2
    out = pse_gt_decode(
        (320, 320),
        [np.array(quad(0, 0, 60), float), np.array(quad(100, 100, 30), float)],
        [False, True],
    )
    assert out["shape_hw"] == (640, 640)
    assert out["gt_text"].sum() == 121 * 121 + 61 * 61  # instances binarized
    assert (out["mask"] == 0).sum() == 61 * 61  # the ignored (scaled) quad


def test_pse_shrink_vanish_fallback():
    # a 40x2 sliver: kernel-6 offset 1 collapses the 2px height ->
    # orientation flip -> fall back to the ORIGINAL polygon
    sliver = np.array([[0, 0], [40, 0], [40, 2], [0, 2]], float)
    rate = 1.0 - (1.0 - 0.4) / 6 * 6  # = 0.4, the smallest kernel
    got = pse_shrink_polys([sliver], rate)
    assert len(got) == 1 and np.allclose(got[0], sliver)


def test_pse_kernel_monotone():
    # kernels must be nested: each smaller-rate kernel is a subset
    out = pse_gt_decode((640, 640), [np.array(quad(5, 5, 100), float)], [False])
    sums = out["gt_kernels"].sum(axis=(1, 2))
    assert (np.diff(sums) < 0).all()
    assert sums[0] < out["gt_text"].sum()
