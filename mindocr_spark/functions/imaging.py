"""Pure-numpy image kernels (resize, filter, runs and components, warp).

Replaces the reference's OpenCV calls with deterministic numpy so the oracle
and the Spark UDFs share identical code paths:

- ``resize_bilinear`` ~ ``cv2.resize`` used by DetResize/RecResize
  (``mindocr/data/transforms/det_transforms.py:375-550``,
  ``rec_transforms.py:548-636``); each axis's index/weight grid is memoised
  by its two lengths (a small, read-only, size-keyed memo).
- ``box_filter`` ~ the smoothing implicit in a conv-net probability head.
- ``runs`` / ``row_runs`` are the one run scanner, ``label_runs`` the one
  row-run union-find (vectorized: ``searchsorted`` finds the meeting runs
  of adjacent rows, min-hooking plus pointer jumping labels them), used
  8-connected by DB and 4-connected by ``pse._components4``.
- Components stay runs (~ ``cv2.findContours`` component discovery,
  ``mindocr/postprocess/det_db_postprocess.py:90``): ``component_order``
  groups a labeling's runs by component in top-left order and
  ``row_extremes`` takes each row's extremes from its first ``x0`` and last
  ``x1 - 1``; ``run_pixels`` expands pixels only where a value needs them.
- ``warp_perspective_crop`` ~ ``crop_text_region``'s
  getPerspectiveTransform+warpPerspective (``tools/infer/text/utils/utils.py:50-92``);
  a degenerate quad gives an empty crop instead of raising.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np


@lru_cache(maxsize=64)
def _axis_grid(n: int, n_out: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bilinear source indices (lo, hi) and float32 weights of one axis
    resampled from ``n`` to ``n_out`` samples, aligned like cv2 (half-pixel
    centers). Memoised by size alone and read-only: the grid is a function
    of the two lengths, never of the image."""
    c = (np.arange(n_out, dtype=np.float64) + 0.5) * (n / n_out) - 0.5
    lo = np.clip(np.floor(c).astype(np.int64), 0, n - 1)
    hi = np.minimum(lo + 1, n - 1)
    wt = np.clip(c - lo, 0.0, 1.0).astype(np.float32)
    for a in (lo, hi, wt):
        a.flags.writeable = False
    return lo, hi, wt


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic bilinear resize, float32 out. img: (H,W) or (H,W,C) uint8/float."""
    h, w = img.shape[:2]
    out_h, out_w = max(1, int(out_h)), max(1, int(out_w))
    if (h, w) == (out_h, out_w):
        return img.astype(np.float32)
    src = img.astype(np.float32)
    y0, y1, wy = _axis_grid(h, out_h)
    x0, x1, wx = _axis_grid(w, out_w)
    # rows first, then columns: two small gathers instead of four np.ix_
    top_rows, bot_rows = src[y0], src[y1]
    a, b = top_rows[:, x0], top_rows[:, x1]
    c, d = bot_rows[:, x0], bot_rows[:, x1]
    if src.ndim == 2:
        wx, wy = wx[None, :], wy[:, None]
    else:
        wx, wy = wx[None, :, None], wy[:, None, None]
    top = a + (b - a) * wx
    bot = c + (d - c) * wx
    return (top + (bot - top) * wy).astype(np.float32)


def box_filter(img: np.ndarray, k: int) -> np.ndarray:
    """k x k mean filter via integral image (edge-replicated), float32."""
    if k <= 1:
        return img.astype(np.float32)
    h, w = img.shape
    r = k // 2
    pad = np.pad(img.astype(np.float64), r, mode="edge")
    ii = np.zeros((pad.shape[0] + 1, pad.shape[1] + 1), dtype=np.float64)
    ii[1:, 1:] = np.cumsum(np.cumsum(pad, axis=0), axis=1)
    k2 = 2 * r + 1
    s = (
        ii[k2 : k2 + h, k2 : k2 + w]
        - ii[:h, k2 : k2 + w]
        - ii[k2 : k2 + h, :w]
        + ii[:h, :w]
    )
    return (s / (k2 * k2)).astype(np.float32)


def runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal True runs of a 1-D mask -> (starts, exclusive ends)."""
    padded = np.zeros(len(mask) + 2, dtype=np.int8)
    padded[1:-1] = mask
    # the zero ends make edges alternate: start, end, start, end, ...
    edges = np.flatnonzero(padded[1:] != padded[:-1])
    return edges[0::2], edges[1::2]


def row_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Maximal True runs of every row of a 2-D mask, in raster order ->
    (run_y, run_x0, run_x1), ``run_x1`` exclusive."""
    h, w = mask.shape
    # one zero column per row keeps runs from wrapping onto the next row
    flat = np.zeros((h, w + 1), dtype=bool)
    flat[:, :w] = mask
    starts, ends = runs(flat.ravel())
    run_y = starts // (w + 1)
    return run_y, starts - run_y * (w + 1), ends - run_y * (w + 1)


def label_runs(
    mask: np.ndarray, diagonal: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Row-run union-find over a 2-D mask -> (run_y, run_x0, run_x1, root).

    Runs are in raster order, ``run_x1`` exclusive. Runs on adjacent rows
    meet when ``x0 < px1 + e and px0 < x1 + e`` with ``e = 1`` for
    8-connectivity (``diagonal``) and ``0`` for 4-connectivity. A root is
    its component's first run in raster order (its smallest run index).

    No per-run Python: the runs of the row above that meet run ``i`` are one
    contiguous range, found by two ``searchsorted`` calls on the runs laid
    out with row stride ``w + 2``; the edge list is then labeled by
    min-hooking roots (``np.minimum.at``) and pointer jumping until every
    edge joins one root.
    """
    run_y, run_x0, run_x1 = row_runs(mask)
    n = len(run_y)
    root = np.arange(n, dtype=np.int64)
    if n < 2:
        return run_y, run_x0, run_x1, root
    e = 1 if diagonal else 0
    # stride w + 2: a run's window on the row above cannot reach row y - 2
    # (its ends sit <= start - stride - e) nor row y (starts >= end - stride + e)
    stride = mask.shape[1] + 2
    start = run_y * stride + run_x0
    end = run_y * stride + run_x1
    lo = np.searchsorted(end, start - stride - e, side="right")
    hi = np.searchsorted(start, end - stride + e, side="left")
    cnt = hi - lo
    total = int(cnt.sum())
    if total == 0:
        return run_y, run_x0, run_x1, root
    cur = np.repeat(np.arange(n, dtype=np.int64), cnt)
    above = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt - lo, cnt)
    while True:
        ra, rb = root[cur], root[above]
        cross = ra != rb
        if not cross.any():
            return run_y, run_x0, run_x1, root
        np.minimum.at(root, np.maximum(ra, rb)[cross], np.minimum(ra, rb)[cross])
        while True:  # pointer jumping: every run points at its root
            nxt = root[root]
            if np.array_equal(nxt, root):
                break
            root = nxt


def run_pixels(
    run_y: np.ndarray, run_x0: np.ndarray, run_x1: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Every pixel of the given runs, in run order -> (ys, xs), emitted in
    one arange pass (per-run np.stack/np.full dominated the profile)."""
    lens = run_x1 - run_x0
    offsets = np.cumsum(lens) - lens
    xs = np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(
        run_x0 - offsets, lens
    )
    return np.repeat(run_y, lens), xs


def component_order(
    run_y: np.ndarray, run_x0: np.ndarray, root: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Group :func:`label_runs` output by component -> (order, bounds).

    ``order`` permutes the runs so each component's runs are contiguous and
    in raster order; component ``k`` owns ``order[bounds[k]:bounds[k + 1]]``.
    Components come in top-left order: top row, then leftmost column, then
    first run (the ``cv2.findContours`` discovery order the DB postprocess
    relies on, ``det_db_postprocess.py:90``)."""
    if not len(root):
        return root, np.zeros(1, dtype=np.int64)
    by_root = np.argsort(root, kind="stable")
    grouped = root[by_root]
    first = np.flatnonzero(np.concatenate(([True], grouped[1:] != grouped[:-1])))
    left = np.minimum.reduceat(run_x0[by_root], first)
    roots = grouped[first]
    # a root is its component's first run, so run_y[root] is its top row
    perm = np.lexsort((roots, left, run_y[roots]))
    rank = np.empty(len(first), dtype=np.int64)
    rank[perm] = np.arange(len(first))
    sizes = np.diff(np.append(first, len(root)))
    order = by_root[np.argsort(np.repeat(rank, sizes), kind="stable")]
    bounds = np.zeros(len(first) + 1, dtype=np.int64)
    np.cumsum(sizes[perm], out=bounds[1:])
    return order, bounds


def row_extremes(
    run_y: np.ndarray, run_x0: np.ndarray, run_x1: np.ndarray, bounds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row x-extremes of grouped runs -> ((n, 2) float64 (x, y) points,
    point bounds per group).

    Each group's runs are in raster order, so a row's leftmost pixel is its
    first run's ``x0`` and its rightmost its last run's ``x1 - 1``. A
    group's points go row by row, top down, left extreme then right extreme
    (one point when they coincide). The convex hull of a row-run set only
    uses these points, so ``min_area_rect`` over them equals it over every
    pixel."""
    n = len(run_y)
    if n == 0:
        return np.zeros((0, 2), dtype=np.float64), np.zeros_like(bounds)
    new_row = np.ones(n, dtype=bool)
    new_row[1:] = run_y[1:] != run_y[:-1]
    new_row[bounds[:-1][bounds[:-1] < n]] = True
    first = np.flatnonzero(new_row)
    last = np.append(first[1:] - 1, n - 1)
    xmin = run_x0[first]
    xmax = run_x1[last] - 1
    ys = run_y[first]
    pts = np.stack([xmin, ys, xmax, ys], axis=1).reshape(-1, 2)
    keep = np.ones((len(first), 2), dtype=bool)
    keep[:, 1] = xmax != xmin
    counts = keep.sum(axis=1)
    row_bounds = np.searchsorted(first, bounds)
    pt_bounds = np.zeros(len(first) + 1, dtype=np.int64)
    np.cumsum(counts, out=pt_bounds[1:])
    return pts[keep.ravel()].astype(np.float64), pt_bounds[row_bounds]


def _homography(src_quad: np.ndarray, dst_quad: np.ndarray) -> np.ndarray:
    """3x3 H with dst -> src mapping solved from 4 point pairs (like
    cv2.getPerspectiveTransform, then inverted use)."""
    a = []
    b = []
    # python floats: the same IEEE products as numpy scalars, ~10x cheaper
    for (xs, ys), (xd, yd) in zip(src_quad.tolist(), dst_quad.tolist()):
        a.append([xd, yd, 1, 0, 0, 0, -xs * xd, -xs * yd])
        a.append([0, 0, 0, xd, yd, 1, -ys * xd, -ys * yd])
        b.extend([xs, ys])
    coef = np.linalg.solve(np.array(a, dtype=np.float64), np.array(b, dtype=np.float64))
    return np.append(coef, 1.0).reshape(3, 3)


def warp_perspective_crop(img: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """4-pt perspective crop to an axis-aligned rectangle (float32 gray out).

    Mirrors ``crop_text_region`` (``tools/infer/text/utils/utils.py:50-92``):
    output size from the quad's edge lengths, bilinear sampling, replicated
    border, then rotate 90 ccw if out_h/out_w >= 1.5.

    A degenerate quad gives an empty (0, 0) crop, which recognizes to no
    text: one whose output side rounds to 1 px (the homography is singular)
    or one that repeats a vertex (the sample coordinates are NaN).
    """
    quad = np.asarray(quad, dtype=np.float64)
    w_out = int(
        round(
            max(
                np.linalg.norm(quad[0] - quad[1]),
                np.linalg.norm(quad[2] - quad[3]),
            )
        )
    )
    h_out = int(
        round(
            max(
                np.linalg.norm(quad[0] - quad[3]),
                np.linalg.norm(quad[1] - quad[2]),
            )
        )
    )
    w_out, h_out = max(w_out, 1), max(h_out, 1)
    dst = np.array([[0, 0], [w_out - 1, 0], [w_out - 1, h_out - 1], [0, h_out - 1]], dtype=np.float64)
    try:
        hmat = _homography(quad, dst)
    except np.linalg.LinAlgError:
        return np.zeros((0, 0), dtype=np.float32)
    # broadcasting instead of meshgrid: same per-element arithmetic
    # (verified bit-identical), two fewer full-size temporaries
    xs = np.arange(w_out, dtype=np.float64)[None, :]
    ys = np.arange(h_out, dtype=np.float64)[:, None]
    denom = hmat[2, 0] * xs + hmat[2, 1] * ys + hmat[2, 2]
    with np.errstate(divide="ignore", invalid="ignore"):  # inf clips; NaN below
        sx = (hmat[0, 0] * xs + hmat[0, 1] * ys + hmat[0, 2]) / denom
        sy = (hmat[1, 0] * xs + hmat[1, 1] * ys + hmat[1, 2]) / denom
    if np.isnan(sx).any() or np.isnan(sy).any():
        return np.zeros((0, 0), dtype=np.float32)
    h, w = img.shape[:2]
    sx = np.clip(sx, 0, w - 1)
    sy = np.clip(sy, 0, h - 1)
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    fx = (sx - x0).astype(np.float32)
    fy = (sy - y0).astype(np.float32)
    gx = 1 - fx
    gy = 1 - fy
    # flat gathers from the page as it is (x1/y1 as offsets of 0 or 1
    # step), each converted to float32 after the gather: the same values
    # as converting the whole page first
    src = np.ravel(img)
    i00 = y0 * w + x0
    i01 = i00 + (x0 < w - 1)
    i10 = i00 + (y0 < h - 1) * w
    i11 = i10 + (x0 < w - 1)
    f32 = np.float32
    out = (
        src[i00].astype(f32) * gx * gy
        + src[i01].astype(f32) * fx * gy
        + src[i10].astype(f32) * gx * fy
        + src[i11].astype(f32) * fx * fy
    )
    if h_out / max(w_out, 1) >= 1.5:
        out = np.rot90(out).copy()  # auto-rotate tall crops (utils.py:86-90)
    return out.astype(np.float32)


def rotate180(img: np.ndarray) -> np.ndarray:
    """180-degree rotation (the cls stage's corrective action,
    ``predict_system.py:300-304`` / ``img_rotate`` utils.py:240-257)."""
    return img[::-1, ::-1].copy()


def trace_boundary(comp_pts: np.ndarray) -> np.ndarray:
    """Ordered outer boundary of an 8-connected component — the
    ``cv2.findContours`` contour analogue the poly-output det path needs
    (``det_db_postprocess.py:90,104``). Input: (n,2) (y,x) pixel coords.
    Output: (m,2) float64 (x,y) boundary pixels, clockwise in image coords,
    starting at the topmost-leftmost pixel (Moore-neighbor tracing with
    Jacob's stopping criterion)."""
    pts = np.asarray(comp_pts)
    oy = int(pts[:, 0].min()) - 1
    ox = int(pts[:, 1].min()) - 1
    h = int(pts[:, 0].max()) - oy + 2
    w = int(pts[:, 1].max()) - ox + 2
    mask = np.zeros((h, w), dtype=bool)
    mask[pts[:, 0] - oy, pts[:, 1] - ox] = True
    sy = int(pts[:, 0].min()) - oy
    sx = int(pts[pts[:, 0] == pts[:, 0].min(), 1].min()) - ox
    # clockwise in image coords (y down): N, NE, E, SE, S, SW, W, NW
    nb = ((-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1))
    # the walk reads a python list by flat index: numpy scalar indexing
    # costs ~10x per neighbour probe
    cells = mask.ravel().tolist()
    step = [dy * w + dx for dy, dx in nb]
    boundary = [(sy, sx)]
    cur = (sy, sx)
    at = sy * w + sx
    back = 6  # virtual backtrack: the (empty) W neighbor of the start pixel
    first_move: tuple[tuple[int, int], int] | None = None
    max_steps = 4 * int(mask.sum()) + 8  # a boundary cannot exceed this
    while True:
        found = -1
        for k in range(1, 9):
            d = (back + k) % 8
            if cells[at + step[d]]:
                found = d
                break
        if found < 0:  # isolated pixel
            break
        nxt = (cur[0] + nb[found][0], cur[1] + nb[found][1])
        move = (cur, found)
        if first_move is None:
            first_move = move
        elif move == first_move:  # Jacob's criterion: same pixel, same exit
            break
        cur = nxt
        at += step[found]
        # new backtrack: direction from nxt to the previous pixel
        back = (found + 4) % 8
        boundary.append(cur)
        if len(boundary) > max_steps:  # safety
            break
    if len(boundary) > 1 and boundary[-1] == boundary[0]:
        boundary = boundary[:-1]
    arr = np.array(boundary, dtype=np.float64)
    # (y,x) grid coords -> (x,y) image coords in the original frame
    return np.stack([arr[:, 1] + ox, arr[:, 0] + oy], axis=1)


def add_padding(
    img: np.ndarray, padding_size: int | tuple[int, int, int, int],
    padding_color: float = 0.0,
) -> np.ndarray:
    """Constant-color border pad (``cv2.copyMakeBorder`` BORDER_CONSTANT —
    ``tools/infer/text/utils/utils.py:188-198``, applied to layout regions
    before recognition at ``predict_table_e2e.py:183``)."""
    if isinstance(padding_size, int):
        t = b = left = r = padding_size
    else:
        t, b, left, r = padding_size
    pad = ((t, b), (left, r)) + ((0, 0),) * (img.ndim - 2)
    return np.pad(img, pad, mode="constant", constant_values=padding_color)


def img_rotate(img: np.ndarray, angle: float) -> np.ndarray:
    """Arbitrary-angle rotation about the image center, same output dims,
    bilinear sampling, zero border (``img_rotate``,
    ``tools/infer/text/utils/utils.py:240-257`` =
    cv2.getRotationMatrix2D + warpAffine defaults). Positive angle rotates
    content counterclockwise (cv2 convention). 180 degrees reproduces
    :func:`rotate180` exactly on any grid."""
    h, w = img.shape[:2]
    cx, cy = (w - 1) / 2.0, (h - 1) / 2.0
    a = np.deg2rad(angle)
    cos_a, sin_a = float(np.cos(a)), float(np.sin(a))
    xs, ys = np.meshgrid(
        np.arange(w, dtype=np.float64), np.arange(h, dtype=np.float64)
    )
    xr, yr = xs - cx, ys - cy
    # inverse map (dst -> src): rotate by -angle in y-down image coords
    sx = cos_a * xr - sin_a * yr + cx
    sy = sin_a * xr + cos_a * yr + cy
    inside = (sx >= -0.5) & (sx <= w - 0.5) & (sy >= -0.5) & (sy <= h - 0.5)
    sxc = np.clip(sx, 0, w - 1)
    syc = np.clip(sy, 0, h - 1)
    x0 = np.floor(sxc).astype(np.int64)
    y0 = np.floor(syc).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = (sxc - x0).astype(np.float32)
    fy = (syc - y0).astype(np.float32)
    src = img.astype(np.float32)
    if src.ndim == 3:
        fx = fx[..., None]
        fy = fy[..., None]
        inside = inside[..., None]
    out = (
        src[y0, x0] * (1 - fx) * (1 - fy)
        + src[y0, x1] * fx * (1 - fy)
        + src[y1, x0] * (1 - fx) * fy
        + src[y1, x1] * fx * fy
    )
    return np.where(inside, out, 0.0).astype(np.float32)
