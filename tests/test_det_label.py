"""Goldens for the DBNet training-label generators (ShrinkBinaryMap /
BorderMap slow-path semantics) — expected geometry derived by hand from
the DB shrink formula on axis-aligned squares."""

import numpy as np

from mindocr_spark.kernels.det_label import (
    border_map,
    fill_poly,
    shrink_binary_map,
)


def _square(x0, y0, side):
    return np.array(
        [[x0, y0], [x0 + side, y0], [x0 + side, y0 + side], [x0, y0 + side]],
        dtype=np.float64,
    )


def test_fill_poly_square_inclusive():
    canvas = np.zeros((20, 20), dtype=np.float32)
    fill_poly(canvas, _square(5, 5, 10), 1.0)
    assert canvas[10, 10] == 1.0
    assert canvas[5, 5] == 1.0 and canvas[15, 15] == 1.0  # boundary
    assert canvas[4, 10] == 0.0 and canvas[10, 16] == 0.0
    # filled extent is exactly the [5,15]^2 block
    ys, xs = np.nonzero(canvas)
    assert ys.min() == 5 and ys.max() == 15 and xs.min() == 5 and xs.max() == 15


def test_shrink_binary_map_square_golden():
    # side-40 square at (20,20): d = 0.84 * 1600 / 160 = 8.4 ->
    # shrunk square [28.4, 51.6]^2; rasterized interior ~ [29, 51]^2
    poly = _square(20, 20, 40)
    gt, mask, tags = shrink_binary_map((100, 100), [poly], [False])
    assert gt.shape == (1, 100, 100)
    assert not tags[0]
    assert mask.min() == 1.0  # nothing masked out
    ys, xs = np.nonzero(gt[0])
    assert 28 <= ys.min() <= 29 and 51 <= ys.max() <= 52
    assert 28 <= xs.min() <= 29 and 51 <= xs.max() <= 52
    assert gt[0, 40, 40] == 1.0 and gt[0, 22, 22] == 0.0


def test_shrink_binary_map_small_poly_ignored_and_masked():
    small = _square(10, 10, 5)  # min side 5 < min_text_size 8
    big = _square(40, 40, 40)
    gt, mask, tags = shrink_binary_map((100, 100), [small, big], [False, False])
    assert list(tags) == [True, False]
    assert mask[12, 12] == 0.0 and mask[60, 60] == 1.0
    assert gt[0, 12, 12] == 0.0


def test_shrink_binary_map_pre_ignored_masks():
    poly = _square(10, 10, 30)
    gt, mask, tags = shrink_binary_map((60, 60), [poly], [True])
    assert tags[0]
    assert mask[25, 25] == 0.0
    assert gt.sum() == 0


def test_border_map_gradient_and_mask():
    # d = 8.4 as above; the border field peaks (thresh_max) at the polygon
    # EDGE and decays to thresh_min at distance d on both sides
    poly = _square(20, 20, 40)
    tm, tmask = border_map((100, 100), [poly], [False])
    # mask covers the padded polygon [~11.6, ~68.4]^2 (miter corners)
    assert tmask[40, 13] == 1.0 and tmask[40, 9] == 0.0
    assert tmask[40, 40] == 1.0
    # on-edge pixel ~ thresh_max; far inside/outside the band ~ thresh_min
    assert tm[40, 20] > 0.69
    assert abs(tm[40, 40] - 0.3) < 1e-5      # deep inside: d-clipped
    assert abs(tm[40, 5] - 0.3) < 1e-5       # far outside
    # monotone decay moving outward from the edge
    row = tm[40, :]
    assert row[20] > row[16] > row[13] > row[11]
    # symmetric on the inside
    assert row[20] > row[24] > row[27]
    assert abs(row[24] - row[16]) < 0.02  # ~same |offset| from the edge


def test_border_map_ignored_polys_skipped():
    tm, tmask = border_map((50, 50), [_square(10, 10, 20)], [True])
    assert tmask.sum() == 0
    assert np.allclose(tm, 0.3)  # thresh_min everywhere


def test_border_map_value_formula():
    # the map equals 1 - clip(min_edge_distance / d, 0, 1), rescaled to
    # [0.3, 0.7]: at a pixel 4.2 px from the nearest edge (half of d=8.4)
    # the value is 0.3 + 0.4 * 0.5 = 0.5
    poly = _square(20, 20, 40)
    tm, _ = border_map((100, 100), [poly], [False])
    # pixel (40, 24.2) is ~4.2 inside the left edge x=20 -> use x=24
    want = 0.3 + 0.4 * (1 - 4.0 / 8.4)
    assert abs(tm[40, 24] - want) < 0.02
