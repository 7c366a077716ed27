"""Pure-numpy image kernels (resize, filter, connected components, warp).

Replaces the reference's OpenCV calls with deterministic numpy so the oracle
and the Spark UDFs share identical code paths:

- ``resize_bilinear`` ~ ``cv2.resize`` used by DetResize/RecResize
  (``mindocr/data/transforms/det_transforms.py:375-550``,
  ``rec_transforms.py:548-636``).
- ``box_filter`` ~ the smoothing implicit in a conv-net probability head.
- ``runs`` / ``label_runs`` are the one run scanner and the one row-run
  union-find: ``connected_components`` (8-connected, DB) and
  ``pse._components4`` (4-connected, PSE) are both built on ``label_runs``.
- ``connected_components`` ~ ``cv2.findContours`` component discovery
  (``mindocr/postprocess/det_db_postprocess.py:90``).
- ``warp_perspective_crop`` ~ ``crop_text_region``'s
  getPerspectiveTransform+warpPerspective (``tools/infer/text/utils/utils.py:50-92``).
"""

from __future__ import annotations

import numpy as np


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic bilinear resize, float32 out. img: (H,W) or (H,W,C) uint8/float."""
    h, w = img.shape[:2]
    out_h, out_w = max(1, int(out_h)), max(1, int(out_w))
    if (h, w) == (out_h, out_w):
        return img.astype(np.float32)
    src = img.astype(np.float32)
    # align like cv2 (half-pixel centers)
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0).astype(np.float32)
    wx = np.clip(xs - x0, 0.0, 1.0).astype(np.float32)
    if src.ndim == 2:
        a = src[np.ix_(y0, x0)]
        b = src[np.ix_(y0, x1)]
        c = src[np.ix_(y1, x0)]
        d = src[np.ix_(y1, x1)]
        top = a + (b - a) * wx[None, :]
        bot = c + (d - c) * wx[None, :]
        return (top + (bot - top) * wy[:, None]).astype(np.float32)
    a = src[np.ix_(y0, x0)]
    b = src[np.ix_(y0, x1)]
    c = src[np.ix_(y1, x0)]
    d = src[np.ix_(y1, x1)]
    top = a + (b - a) * wx[None, :, None]
    bot = c + (d - c) * wx[None, :, None]
    return (top + (bot - top) * wy[:, None, None]).astype(np.float32)


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


def label_runs(
    mask: np.ndarray, diagonal: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Row-run union-find over a 2-D mask -> (run_y, run_x0, run_x1, root).

    Runs are in raster order, ``run_x1`` exclusive. Runs on adjacent rows
    meet when ``x0 < px1 + e and px0 < x1 + e`` with ``e = 1`` for
    8-connectivity (``diagonal``) and ``0`` for 4-connectivity. A union
    keeps the smaller root, so a root is its component's first run in
    raster order. Pure numpy + O(#runs) python.
    """
    h, w = mask.shape
    # one zero column per row keeps runs from wrapping onto the next row
    flat = np.zeros((h, w + 1), dtype=bool)
    flat[:, :w] = mask
    starts, ends = runs(flat.ravel())
    run_y = starts // (w + 1)
    run_x0 = starts - run_y * (w + 1)
    run_x1 = ends - run_y * (w + 1)
    e = 1 if diagonal else 0
    parent = list(range(len(starts)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    prev_runs: list[tuple[int, int, int]] = []  # runs of row y-1
    cur_runs: list[tuple[int, int, int]] = []  # runs of current row
    cur_y = -2
    for i, (y, x0, x1) in enumerate(
        zip(run_y.tolist(), run_x0.tolist(), run_x1.tolist())
    ):
        if y != cur_y:
            prev_runs = cur_runs if y == cur_y + 1 else []
            cur_runs = []
            cur_y = y
        for px0, px1, j in prev_runs:
            if x0 < px1 + e and px0 < x1 + e:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
        cur_runs.append((x0, x1, i))
    root = np.array([find(i) for i in range(len(parent))], dtype=np.int64)
    return run_y, run_x0, run_x1, root


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


def connected_components(mask: np.ndarray) -> list[np.ndarray]:
    """8-connected components of a boolean mask (:func:`label_runs`).

    Returns a list of (n_i, 2) int arrays of (y, x) pixel coordinates, ordered
    by component top-left (deterministic).
    """
    run_y, run_x0, run_x1, roots = label_runs(mask)
    if not len(roots):
        return []
    # group runs by root with a stable sort that keeps raster run order
    order = np.argsort(roots, kind="stable")
    run_y, run_x0, run_x1 = run_y[order], run_x0[order], run_x1[order]
    roots = roots[order]
    pts_all = np.stack(run_pixels(run_y, run_x0, run_x1), axis=1)
    # split where the root changes (each later root's first run)
    first = np.nonzero(np.diff(roots))[0] + 1
    comps = np.split(pts_all, np.cumsum(run_x1 - run_x0)[first - 1])
    comps.sort(key=lambda p: (int(p[:, 0].min()), int(p[:, 1].min())))
    return comps


def _homography(src_quad: np.ndarray, dst_quad: np.ndarray) -> np.ndarray:
    """3x3 H with dst -> src mapping solved from 4 point pairs (like
    cv2.getPerspectiveTransform, then inverted use)."""
    a = []
    b = []
    for (xs, ys), (xd, yd) in zip(src_quad, dst_quad):
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
    hmat = _homography(quad, dst)
    # broadcasting instead of meshgrid: same per-element arithmetic
    # (verified bit-identical), two fewer full-size temporaries
    xs = np.arange(w_out, dtype=np.float64)[None, :]
    ys = np.arange(h_out, dtype=np.float64)[:, None]
    denom = hmat[2, 0] * xs + hmat[2, 1] * ys + hmat[2, 2]
    sx = (hmat[0, 0] * xs + hmat[0, 1] * ys + hmat[0, 2]) / denom
    sy = (hmat[1, 0] * xs + hmat[1, 1] * ys + hmat[1, 2]) / denom
    h, w = img.shape[:2]
    sx = np.clip(sx, 0, w - 1)
    sy = np.clip(sy, 0, h - 1)
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = (sx - x0).astype(np.float32)
    fy = (sy - y0).astype(np.float32)
    src = img.astype(np.float32)
    out = (
        src[y0, x0] * (1 - fx) * (1 - fy)
        + src[y0, x1] * fx * (1 - fy)
        + src[y1, x0] * (1 - fx) * fy
        + src[y1, x1] * fx * fy
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
    boundary = [(sy, sx)]
    cur = (sy, sx)
    back = 6  # virtual backtrack: the (empty) W neighbor of the start pixel
    first_move: tuple[tuple[int, int], int] | None = None
    max_steps = 4 * int(mask.sum()) + 8  # a boundary cannot exceed this
    while True:
        found = -1
        for k in range(1, 9):
            d = (back + k) % 8
            ny, nx = cur[0] + nb[d][0], cur[1] + nb[d][1]
            if mask[ny, nx]:
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
