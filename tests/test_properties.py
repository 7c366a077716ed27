"""Property-based tests (hypothesis) over the kernel library — a layer the
reference lacks (SURVEY.md §5: no randomized testing there)."""

import warnings
from collections import deque

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mindocr_spark.config import BLANK_IDX, CHARSET, NUM_CLASSES
from mindocr_spark.functions.ctc import ctc_greedy_decode
from mindocr_spark.functions.geometry import (
    aabb_iou,
    convex_hull,
    min_area_rect,
    offset_convex_poly,
    poly_area_perimeter,
    poly_iou,
)
from mindocr_spark.functions.html_text import extract_main_text
from mindocr_spark.functions.geometry import _bbox_rect
from mindocr_spark.functions.imaging import (
    _homography,
    component_order,
    label_runs,
    row_extremes,
    run_pixels,
    warp_perspective_crop,
)
from mindocr_spark.functions.png_codec import decode_png, encode_png
from mindocr_spark.functions.pse import _components4
from mindocr_spark.kernels.cls import _var
from mindocr_spark.kernels.det import _dilate

points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),
        st.integers(min_value=0, max_value=200),
    ),
    min_size=3,
    max_size=40,
)


@settings(max_examples=60, deadline=None)
@given(points_strategy)
def test_min_area_rect_contains_all_points(pts):
    arr = np.array(pts, dtype=np.float64)
    rect, short, long_ = min_area_rect(arr)
    hull = convex_hull(arr)
    if len(hull) < 3:
        return
    area_r, _ = poly_area_perimeter(rect)
    area_h, _ = poly_area_perimeter(hull)
    assert area_r >= area_h - 1e-6  # enclosing
    assert short <= long_ + 1e-9


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=2, max_value=30),
    st.integers(min_value=2, max_value=30),
    st.floats(min_value=0.1, max_value=5.0),
)
def test_offset_outward_grows_area(w, h, d):
    rect = np.array([[0, 0], [w, 0], [w, h], [0, h]], dtype=float)
    grown = offset_convex_poly(rect, d)
    a0, _ = poly_area_perimeter(rect)
    a1, _ = poly_area_perimeter(grown)
    assert a1 > a0
    # exact (up to float ulp) for rectangles
    assert abs(a1 - (w + 2 * d) * (h + 2 * d)) < 1e-9 * max(a1, 1.0)


@settings(max_examples=40, deadline=None)
@given(points_strategy, points_strategy)
def test_iou_symmetric_bounded(p1, p2):
    h1 = convex_hull(np.array(p1, dtype=float))
    h2 = convex_hull(np.array(p2, dtype=float))
    if len(h1) < 3 or len(h2) < 3:
        return
    i12 = poly_iou(h1, h2)
    i21 = poly_iou(h2, h1)
    assert abs(i12 - i21) < 1e-9
    assert 0.0 <= i12 <= 1.0 + 1e-9


box_strategy = st.tuples(
    st.integers(min_value=0, max_value=50),
    st.integers(min_value=0, max_value=50),
    st.integers(min_value=0, max_value=30),
    st.integers(min_value=0, max_value=30),
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(box_strategy, min_size=1, max_size=6),
    st.lists(box_strategy, min_size=1, max_size=6),
)
def test_aabb_iou_equals_poly_iou(a, b):
    def xyxy(boxes):
        xywh = np.array(boxes, dtype=float)
        return np.concatenate([xywh[:, :2], xywh[:, :2] + xywh[:, 2:]], axis=1)

    def quad(x0, y0, x1, y1):
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)

    a, b = xyxy(a), xyxy(b)
    got = aabb_iou(a, b)
    assert got.shape == (len(a), len(b))
    for i in range(len(a)):
        for j in range(len(b)):
            assert abs(got[i, j] - poly_iou(quad(*a[i]), quad(*b[j]))) <= 1e-12


def test_aabb_iou_empty_union_is_zero():
    points = np.array([[3.0, 3.0, 3.0, 3.0], [5.0, 1.0, 5.0, 1.0]])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = aabb_iou(points, points)
    assert np.array_equal(got, np.zeros((2, 2)))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=NUM_CLASSES - 1), max_size=30)
)
def test_ctc_decode_never_longer_than_input(ids):
    logits = np.zeros((len(ids), NUM_CLASSES), dtype=np.float32)
    for t, i in enumerate(ids):
        logits[t, i] = 1.0
    text, conf = ctc_greedy_decode(logits)
    assert len(text) <= len(ids)
    assert all(c in CHARSET for c in text)
    assert 0.0 <= conf <= 1.0
    # decoding a decode-clean sequence is stable: re-encoding char runs with
    # blanks between yields the same text
    if text:
        ids2 = []
        for ch in text:
            ids2 += [CHARSET.index(ch), BLANK_IDX]
        logits2 = np.zeros((len(ids2), NUM_CLASSES), dtype=np.float32)
        for t, i in enumerate(ids2):
            logits2[t, i] = 1.0
        assert ctc_greedy_decode(logits2)[0] == text


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_random(h, w, seed):
    img = np.random.RandomState(seed).randint(0, 256, (h, w), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_components_partition_mask(seed):
    rng = np.random.RandomState(seed)
    mask = rng.rand(20, 20) > 0.7
    comps = _components(mask)
    total = sum(len(c) for c in comps)
    assert total == int(mask.sum())
    seen = set()
    for c in comps:
        for y, x in c:
            assert mask[y, x]
            assert (y, x) not in seen
            seen.add((y, x))


def _components(mask: np.ndarray) -> list[list[tuple[int, int]]]:
    """Each 8-connected component's (y, x) pixels, raster order, the
    components in :func:`component_order`'s top-left order."""
    run_y, run_x0, run_x1, root = label_runs(mask)
    order, bounds = component_order(run_y, run_x0, root)
    ys, xs = run_pixels(run_y[order], run_x0[order], run_x1[order])
    pix = np.concatenate([[0], np.cumsum((run_x1 - run_x0)[order])])[bounds]
    return [
        list(zip(ys[a:b].tolist(), xs[a:b].tolist()))
        for a, b in zip(pix[:-1], pix[1:])
    ]


def _flood_fill(mask: np.ndarray, diagonal: bool) -> list[list[tuple[int, int]]]:
    """Reference labeler: BFS from each unvisited pixel in raster order, so
    components come in raster order of their first pixel."""
    h, w = mask.shape
    steps = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if diagonal:
        steps += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    seen = np.zeros((h, w), dtype=bool)
    comps = []
    for y in range(h):
        for x in range(w):
            if not mask[y, x] or seen[y, x]:
                continue
            seen[y, x] = True
            queue, comp = deque([(y, x)]), []
            while queue:
                cy, cx = queue.popleft()
                comp.append((cy, cx))
                for dy, dx in steps:
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and not seen[ny, nx]:
                        seen[ny, nx] = True
                        queue.append((ny, nx))
            comps.append(comp)
    return comps


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.floats(min_value=0.05, max_value=0.95),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_labelers_match_flood_fill(h, w, density, seed):
    mask = np.random.RandomState(seed).rand(h, w) < density
    # 8-connected: the same pixel sets, ordered by (min y, min x)
    ref8 = sorted(
        _flood_fill(mask, diagonal=True),
        key=lambda c: (min(y for y, _ in c), min(x for _, x in c)),
    )
    got8 = _components(mask)
    assert [set(c) for c in got8] == [set(c) for c in ref8]
    # 4-connected: the same label map, numbered in raster order
    ref4 = np.zeros((h, w), dtype=np.int32)
    for k, comp in enumerate(_flood_fill(mask, diagonal=False), start=1):
        for y, x in comp:
            ref4[y, x] = k
    assert np.array_equal(_components4(mask), ref4)


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=300))
def test_extract_main_text_total(raw):
    out = extract_main_text(raw)
    assert isinstance(out, str)
    assert "  " not in out
    assert out == out.strip()


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_mat5_roundtrip_random(seed):
    """savemat/loadmat (pure-numpy MAT-5 subset) roundtrip: cell arrays of
    strings, char rows, and double tensors survive bit-exactly."""
    from mindocr_spark.functions.mat5 import loadmat, savemat

    rng = np.random.RandomState(seed)
    n = rng.randint(1, 4)
    names = np.empty((1, n), dtype=object)
    bbs = np.empty((1, n), dtype=object)
    txts = np.empty((1, n), dtype=object)
    for i in range(n):
        names[0, i] = [f"dir{rng.randint(9)}/img_{rng.randint(999)}.jpg"]
        m = rng.randint(1, 5)
        bbs[0, i] = rng.rand(2, 4, m) * 100
        txts[0, i] = [
            " ".join(
                "".join(rng.choice(list("abcxyz"), rng.randint(1, 6)))
                for _ in range(rng.randint(1, 4))
            )
            for _ in range(rng.randint(1, 3))
        ]
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".mat") as f:
        savemat(f.name, {"imnames": names, "wordBB": bbs, "txt": txts},
                compress=bool(seed % 2))
        m5 = loadmat(f.name)
    for i in range(n):
        assert m5["imnames"][0, i] == names[0, i]
        assert np.array_equal(m5["wordBB"][0, i], bbs[0, i])
        # char matrices right-pad rows to equal width
        w = max(len(s) for s in txts[0, i])
        assert m5["txt"][0, i] == [s.ljust(w) for s in txts[0, i]]


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_approx_poly_dp_output_subset_within_eps(seed):
    """DP simplification only keeps input vertices, always keeps >= 2, and
    every dropped point lies within eps of the simplified chain (checked on
    an open chain, the half approx_poly_dp simplifies, where the DP
    guarantee is exact)."""
    from mindocr_spark.functions.geometry import _dp_open

    rng = np.random.RandomState(seed)
    pts = np.cumsum(rng.randn(rng.randint(5, 40), 2), axis=0)
    eps = float(rng.rand() * 2)
    out = pts[_dp_open(pts, eps)]
    in_set = {tuple(p) for p in pts.tolist()}
    assert all(tuple(p) in in_set for p in out.tolist())
    assert len(out) >= 2
    # max deviation bound for the open-chain variant
    kept_idx = [int(np.nonzero((pts == p).all(axis=1))[0][0]) for p in out]
    for a_i, b_i in zip(kept_idx, kept_idx[1:]):
        a, b = pts[a_i], pts[b_i]
        ab = b - a
        ln = np.linalg.norm(ab)
        seg = pts[a_i + 1 : b_i]
        if len(seg) == 0:
            continue
        if ln < 1e-12:
            d = np.linalg.norm(seg - a, axis=1)
        else:
            d = np.abs((seg[:, 0] - a[0]) * ab[1] - (seg[:, 1] - a[1]) * ab[0]) / ln
        assert (d <= eps + 1e-9).all()


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_img_rotate_360_identity(seed):
    from mindocr_spark.functions.imaging import img_rotate

    rng = np.random.RandomState(seed)
    img = rng.rand(17, 23).astype(np.float32) * 255
    out = img_rotate(img, 360.0)
    assert np.allclose(out, img, atol=1e-2)


def _row_extremes_of_pixels(pts_yx: np.ndarray) -> np.ndarray:
    """Reference: a pixel set's per-row x-extremes as (x, y) points, rows
    ascending, left then right extreme (one point when they coincide)."""
    ys, xs = pts_yx[:, 0], pts_yx[:, 1]
    order = np.lexsort((xs, ys))
    ys_s, xs_s = ys[order], xs[order]
    _, first = np.unique(ys_s, return_index=True)
    last = np.concatenate([first[1:] - 1, [len(ys_s) - 1]])
    sel = np.unique(np.concatenate([first, last]))
    return np.stack([xs_s[sel], ys_s[sel]], axis=1).astype(np.float64)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.floats(min_value=0.05, max_value=0.95),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_row_extremes_of_runs_match_pixels(h, w, density, seed):
    """Runs-based per-row extremes of every component equal the extremes
    of its expanded pixels, point for point."""
    mask = np.random.RandomState(seed).rand(h, w) < density
    run_y, run_x0, run_x1, root = label_runs(mask)
    order, bounds = component_order(run_y, run_x0, root)
    xy, pt_bounds = row_extremes(run_y[order], run_x0[order], run_x1[order], bounds)
    comps = _components(mask)
    assert len(pt_bounds) == len(comps) + 1
    for k, comp in enumerate(comps):
        want = _row_extremes_of_pixels(np.array(comp))
        got = xy[pt_bounds[k] : pt_bounds[k + 1]]
        assert got.dtype == want.dtype and np.array_equal(got, want)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=25),
    st.integers(min_value=1, max_value=25),
    st.integers(min_value=0, max_value=9),
    st.sampled_from([0, 1]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_dilate_equals_shifted_or(h, w, radius, axis, seed):
    mask = np.random.RandomState(seed).rand(h, w) < 0.15
    want = mask.copy()
    n = mask.shape[axis]
    for k in range(1, radius + 1):  # OR of the mask shifted by -k .. +k
        if k >= n:
            break
        if axis:
            want[:, k:] |= mask[:, :-k]
            want[:, :-k] |= mask[:, k:]
        else:
            want[k:] |= mask[:-k]
            want[:-k] |= mask[k:]
    assert np.array_equal(_dilate(mask, radius, axis), want)


def _bbox_rect_numpy(pts: np.ndarray):
    """Reference: min_area_rect's bounding-box fast path as numpy
    reductions (all four bbox corners present, every point on the border)."""
    if len(pts) < 4:
        return None
    xs, ys = pts[:, 0], pts[:, 1]
    x0, x1, y0, y1 = xs.min(), xs.max(), ys.min(), ys.max()
    if not (x1 > x0 and y1 > y0):
        return None
    on_x0, on_x1 = xs == x0, xs == x1
    corners = (
        np.any(on_x0 & (ys == y0)) and np.any(on_x1 & (ys == y0))
        and np.any(on_x1 & (ys == y1)) and np.any(on_x0 & (ys == y1))
    )
    if not (corners and np.all(on_x0 | on_x1 | (ys == y0) | (ys == y1))):
        return None
    rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)
    w, h = float(x1 - x0), float(y1 - y0)
    return rect, min(w, h), max(w, h)


point_set_strategy = st.one_of(
    points_strategy,  # random integer sets
    st.lists(  # duplicates
        st.sampled_from([(0, 0), (3, 1), (3, 1), (7, 7), (2, 9)]), min_size=1, max_size=20
    ),
    st.lists(  # <= 2 points
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=2
    ),
    st.builds(  # collinear
        lambda d, o, ks: [(o[0] + k * d[0], o[1] + k * d[1]) for k in ks],
        st.tuples(st.integers(-3, 3), st.integers(-3, 3)),
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        st.lists(st.integers(0, 30), min_size=1, max_size=25),
    ),
    st.builds(  # an axis-aligned rect's corners and border points
        lambda x0, y0, w, h, ts: [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
        + [(x0 + t % (w + 1), y0 + h * (t % 2)) for t in ts],
        st.integers(0, 40), st.integers(0, 40), st.integers(1, 30),
        st.integers(1, 30), st.lists(st.integers(0, 100), max_size=20),
    ),
)


@settings(max_examples=150, deadline=None)
@given(point_set_strategy, st.integers(min_value=-1, max_value=40), st.booleans())
def test_bbox_fast_path_matches_numpy(pts, nan_at, nan_x):
    """min_area_rect's python fast path takes the same decision and returns
    the same bits as the numpy reductions, including on a NaN point."""
    arr = np.array(pts, dtype=np.float64)
    if 0 <= nan_at < len(arr):
        arr[nan_at, 0 if nan_x else 1] = np.nan
    got, want = _bbox_rect(arr), _bbox_rect_numpy(arr)
    assert (got is None) == (want is None)
    if want is not None:
        assert got[0].tobytes() == want[0].tobytes()
        assert (got[1].hex(), got[2].hex()) == (want[1].hex(), want[2].hex())
        assert min_area_rect(arr)[0].tobytes() == want[0].tobytes()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=64), min_size=1, max_size=40),
    st.lists(st.floats(min_value=-1e3, max_value=1e3), min_size=1, max_size=300),
)
def test_cls_variance_matches_numpy_var(ints, floats):
    """The cls evidence's variance is numpy's, bit for bit (float.hex)."""
    for arr in (np.array(ints, dtype=np.float64), np.array(floats, dtype=np.float64)):
        assert _var(arr).hex() == float(arr.var()).hex()


@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=2, max_value=30),
    st.integers(min_value=2, max_value=30),
    st.lists(st.integers(min_value=-4, max_value=34), min_size=8, max_size=8),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_warp_flat_gathers_match_2d_gathers(h, w, coords, seed):
    """The crop's flat-index gathers sample the same four neighbours, with
    the same replicated border and bilinear weights, as 2-D gathers."""
    img = np.random.RandomState(seed).randint(0, 256, size=(h, w)).astype(np.uint8)
    quad = np.array(coords, dtype=np.float64).reshape(4, 2)
    got = warp_perspective_crop(img, quad)
    if got.size == 0:
        return  # a degenerate quad (tests/test_degenerate_boxes.py)
    w_out = int(round(max(np.linalg.norm(quad[0] - quad[1]), np.linalg.norm(quad[2] - quad[3]))))
    h_out = int(round(max(np.linalg.norm(quad[0] - quad[3]), np.linalg.norm(quad[1] - quad[2]))))
    w_out, h_out = max(w_out, 1), max(h_out, 1)
    dst = np.array([[0, 0], [w_out - 1, 0], [w_out - 1, h_out - 1], [0, h_out - 1]], dtype=np.float64)
    hm = _homography(quad, dst)
    xs = np.arange(w_out, dtype=np.float64)[None, :]
    ys = np.arange(h_out, dtype=np.float64)[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        denom = hm[2, 0] * xs + hm[2, 1] * ys + hm[2, 2]
        sx = np.clip((hm[0, 0] * xs + hm[0, 1] * ys + hm[0, 2]) / denom, 0, w - 1)
        sy = np.clip((hm[1, 0] * xs + hm[1, 1] * ys + hm[1, 2]) / denom, 0, h - 1)
    x0, y0 = np.floor(sx).astype(np.int64), np.floor(sy).astype(np.int64)
    x1, y1 = np.minimum(x0 + 1, w - 1), np.minimum(y0 + 1, h - 1)
    fx, fy = (sx - x0).astype(np.float32), (sy - y0).astype(np.float32)
    src = img.astype(np.float32)
    want = (
        src[y0, x0] * (1 - fx) * (1 - fy) + src[y0, x1] * fx * (1 - fy)
        + src[y1, x0] * (1 - fx) * fy + src[y1, x1] * fx * fy
    )
    if h_out / w_out >= 1.5:
        want = np.rot90(want)
    assert got.tobytes() == want.astype(np.float32).tobytes()
