"""Pure-numpy polygon geometry (hull, min-area rect, offset, IoU).

Replaces the reference's cv2/shapely/pyclipper geometry:

- ``min_area_rect`` ~ ``cv2.minAreaRect`` + ``cv2.boxPoints``
  (``mindocr/postprocess/det_db_postprocess.py:142-174``). Its inputs are a
  few to ~150 points, so the per-call numpy overhead is the cost: the
  bounding-box fast path and the monotone chain run on python floats (the
  same IEEE arithmetic), and the calipers project the hull onto every
  candidate angle in one numpy step.
- ``order_points_clockwise`` ~ ``tools/infer/text/predict_det.py:151-161``.
- ``offset_convex_poly`` ~ pyclipper unclip ``expand_poly``
  (``mindocr/data/transforms/det_transforms.py:553-556``), exact for convex
  polygons (our rects always are).
- ``poly_iou`` ~ shapely intersection/union used by DetMetric
  (``mindocr/metrics/det_metrics.py:14-19``) via Sutherland–Hodgman clipping;
  the one polygon IoU (DetMetric matching and LANMS's ``nms.box_iou`` call it).
- ``aabb_iou`` is the one axis-aligned IoU, an (N, M) matrix (the table
  matcher's IoU rule and the layout NMS).
- ``rescale_polys`` ~ ``det_base_postprocess.py:110-125``.
"""

from __future__ import annotations

import numpy as np


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain. points (N,2) -> hull (M,2) counter-clockwise
    in image coords (y down), no duplicate endpoint.

    The chain runs on python float tuples: numpy-scalar arithmetic inside
    the pop-loop costs ~10x the same math on floats, and np.unique(axis=0)
    costs more than the dedup it does — sorted(set(...)) gives the same
    lexicographic (x, y) order."""
    rows = np.asarray(points, dtype=np.float64).reshape(-1, 2).tolist()
    pts = sorted({(x, y) for x, y in rows})
    if len(pts) <= 2:
        return np.array(pts, dtype=np.float64)

    def half(seq: list[tuple[float, float]]) -> list[tuple[float, float]]:
        out: list[tuple[float, float]] = []
        for px, py in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((px, py))
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1], dtype=np.float64)


def _bbox_rect(pts: np.ndarray) -> tuple[np.ndarray, float, float] | None:
    """``min_area_rect``'s fast path: the bounding box when all four of its
    corners are in the point set and every point lies on its border (the
    shape of per-row extremes of an axis-aligned filled region) — the
    minimal enclosing rectangle of a rectangle's corners is that rectangle.
    None otherwise. Runs on python floats; a NaN point fails the range
    check, as it fails numpy's min/max comparison."""
    if len(pts) < 4:
        return None
    rows = pts.tolist()
    xs = [p[0] for p in rows]
    ys = [p[1] for p in rows]
    x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
    if not (x1 > x0 and y1 > y0):
        return None
    corners_seen = set()
    for x, y in rows:
        if not (x0 <= x <= x1 and y0 <= y <= y1):
            return None
        on_x = x == x0 or x == x1
        on_y = y == y0 or y == y1
        if not (on_x or on_y):
            return None
        if on_x and on_y:
            corners_seen.add((x, y))
    if len(corners_seen) < 4:
        return None
    rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)
    w = x1 - x0
    h = y1 - y0
    return rect, float(min(w, h)), float(max(w, h))


def _hull_rect(hull: np.ndarray) -> tuple[np.ndarray, float, float]:
    """Rotating calipers over a convex hull (``convex_hull``'s output)."""
    if len(hull) == 1:
        c = np.tile(hull[0], (4, 1))
        return c, 0.0, 0.0
    if len(hull) == 2:
        a, b = hull
        corners = np.array([a, b, b, a], dtype=np.float64)
        side = float(np.linalg.norm(b - a))
        return order_points_clockwise(corners), 0.0, side
    edges = np.concatenate((hull[1:], hull[:1])) - hull
    angles = np.unique(np.mod(np.arctan2(edges[:, 1], edges[:, 0]), np.pi / 2))
    # all candidate angles in one shot: px/py = hull projected onto every
    # rotated frame (A, N) — replaces a python loop of tiny matmuls; the
    # broadcast products are np.outer's, elementwise
    ca, sa = np.cos(angles)[:, None], np.sin(angles)[:, None]
    hx, hy = hull[:, 0], hull[:, 1]
    px = ca * hx + sa * hy
    py = -(sa * hx) + ca * hy
    mnx, mxx = np.minimum.reduce(px, axis=1), np.maximum.reduce(px, axis=1)
    mny, mxy = np.minimum.reduce(py, axis=1), np.maximum.reduce(py, axis=1)
    areas = (mxx - mnx) * (mxy - mny)
    # exact replica of the original running-best update (strictly-better by
    # 1e-9), now over precomputed scalars instead of per-angle matmuls
    area_list = areas.tolist()
    k = 0
    best_area = area_list[0]
    for i in range(1, len(area_list)):
        if area_list[i] < best_area - 1e-9:
            k, best_area = i, area_list[i]
    ang = float(angles[k])
    mn = (float(mnx[k]), float(mny[k]))
    mx = (float(mxx[k]), float(mxy[k]))
    c, s = np.cos(ang), np.sin(ang)
    rot = np.array([[c, s], [-s, c]])
    rect = np.array(
        [[mn[0], mn[1]], [mx[0], mn[1]], [mx[0], mx[1]], [mn[0], mx[1]]]
    )
    corners = rect @ rot  # inverse rotation (rot is orthonormal)
    # Canonicalize while PRESERVING the cyclic order: the sum/diff corner
    # heuristic (order_points_clockwise) can pick duplicate roles on
    # near-45-degree rects and emit a crossed quad. Enforce clockwise
    # orientation (y-down) and start at the lexicographically smallest
    # (y, x) corner — equals the tl,tr,br,bl convention for axis-aligned.
    # scalar canonicalization: 4-point quads make numpy roll/dot/lexsort
    # overhead ~10x the arithmetic (same pattern as poly_area_perimeter)
    rows = corners.tolist()
    signed = 0.0
    for i in range(4):
        x0, y0 = rows[i]
        x1, y1 = rows[(i + 1) % 4]
        signed += x0 * y1 - y0 * x1
    if signed < 0:
        rows.reverse()
    start = min(range(4), key=lambda i: (rows[i][1], rows[i][0]))
    corners = np.array(rows[start:] + rows[:start], dtype=np.float64)
    w = mx[0] - mn[0]
    h = mx[1] - mn[1]
    return corners, float(min(w, h)), float(max(w, h))


def min_area_rect(points: np.ndarray) -> tuple[np.ndarray, float, float]:
    """Minimum-area enclosing rectangle via rotating calipers.

    Returns (corners (4,2) float64, short_side, long_side). Corners are in
    clockwise order starting top-left (see ``order_points_clockwise``).

    Fast path (:func:`_bbox_rect`): when all four bounding-box corners are
    in the point set and no point is off its border, the bbox is the
    minimum rectangle and the hull/calipers are skipped.
    """
    pts = np.asarray(points, dtype=np.float64)
    fast = _bbox_rect(pts)
    return fast if fast is not None else _hull_rect(convex_hull(pts))


def order_points_clockwise(pts: np.ndarray) -> np.ndarray:
    """Canonical quad vertex order: top-left, top-right, bottom-right,
    bottom-left — by coordinate sums/diffs (``predict_det.py:151-161``)."""
    pts = np.asarray(pts, dtype=np.float64)
    s = pts.sum(axis=1)
    d = pts[:, 0] - pts[:, 1]  # x - y
    tl = pts[np.argmin(s)]
    br = pts[np.argmax(s)]
    tr = pts[np.argmax(d)]
    bl = pts[np.argmin(d)]
    return np.array([tl, tr, br, bl], dtype=np.float64)


def poly_area_perimeter(poly: np.ndarray) -> tuple[float, float]:
    """Shoelace area (abs) and perimeter of a closed polygon (N,2).

    Python-scalar loop: polys here are 4-8 points, where numpy's
    roll/dot overhead costs ~15x the arithmetic (measured 50 us -> 3 us)."""
    pts = np.asarray(poly, dtype=np.float64).tolist()
    n = len(pts)
    a = 0.0
    per = 0.0
    for i in range(n):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % n]
        a += x0 * y1 - y0 * x1
        per += ((x1 - x0) ** 2 + (y1 - y0) ** 2) ** 0.5
    return abs(a) * 0.5, per


def offset_convex_poly(poly: np.ndarray, distance: float) -> np.ndarray:
    """Offset a convex polygon outward by ``distance`` (pyclipper-unclip
    equivalent for convex input): shift each edge along its outward normal,
    re-intersect adjacent edges."""
    rows = np.asarray(poly, dtype=np.float64).tolist()
    # polygon orientation (shoelace sign); image coords y-down
    n = len(rows)
    signed = 0.0
    for i in range(n):
        x0, y0 = rows[i]
        x1, y1 = rows[(i + 1) % n]
        signed += x0 * y1 - y0 * x1
    sign = 1.0 if signed > 0 else -1.0
    # scalar edge-shift + pairwise line intersection: unclip polys are 4-8
    # points, where per-call numpy (roll/stack/where over (n,2)) costs ~10x
    # the arithmetic (same rationale as poly_area_perimeter). The formulas
    # are the exact elementwise ops of the previous vectorized form.
    sd = sign * distance
    base, ev = [], []
    for i in range(n):
        x0, y0 = rows[i]
        x1, y1 = rows[(i + 1) % n]
        dx = x1 - x0
        dy = y1 - y0
        ln = (dx * dx + dy * dy) ** 0.5
        if ln < 1e-12:
            continue
        ex = dx / ln
        ey = dy / ln
        ev.append((ex, ey))
        base.append((x0 + sd * ey, y0 - sd * ex))
    m = len(base)
    out = np.empty((m, 2), dtype=np.float64)
    for i in range(m):
        bx, by = base[i]
        ex, ey = ev[i]
        px, py = base[i - 1]
        dx1, dy1 = ev[i - 1]
        denom = dx1 * ey - dy1 * ex
        if abs(denom) >= 1e-12:
            t = ((bx - px) * ey - (by - py) * ex) / denom
            out[i, 0] = px + t * dx1
            out[i, 1] = py + t * dy1
        else:
            out[i, 0] = bx
            out[i, 1] = by
    return out


def unclip(poly: np.ndarray, expand_ratio: float) -> np.ndarray:
    """DB unclip: offset by area*ratio/perimeter
    (``det_transforms.py:553-556``; used ``det_db_postprocess.py:113-118``)."""
    area, per = poly_area_perimeter(poly)
    if per <= 1e-9:
        return np.asarray(poly, dtype=np.float64)
    return offset_convex_poly(poly, area * expand_ratio / per)


def rescale_polys(
    polys: np.ndarray, scale_h: float, scale_w: float, src_h: int, src_w: int
) -> np.ndarray:
    """Map polys from resized to source space: clip(round(p/scale), 0, size-1)
    (``mindocr/postprocess/det_base_postprocess.py:110-125``)."""
    out = np.asarray(polys, dtype=np.float64).copy()
    out[..., 0] = np.clip(np.round(out[..., 0] / scale_w), 0, src_w - 1)
    out[..., 1] = np.clip(np.round(out[..., 1] / scale_h), 0, src_h - 1)
    return out.astype(np.int64)


def _clip_poly_halfplane(poly: list, a: np.ndarray, b: np.ndarray) -> list:
    """Sutherland–Hodgman: keep points left of directed edge a->b."""
    out = []
    n = len(poly)
    for i in range(n):
        cur, nxt = poly[i], poly[(i + 1) % n]
        d_cur = (b[0] - a[0]) * (cur[1] - a[1]) - (b[1] - a[1]) * (cur[0] - a[0])
        d_nxt = (b[0] - a[0]) * (nxt[1] - a[1]) - (b[1] - a[1]) * (nxt[0] - a[0])
        if d_cur >= 0:
            out.append(cur)
        if (d_cur > 0) != (d_nxt > 0) and d_cur != d_nxt:
            t = d_cur / (d_cur - d_nxt)
            out.append(cur + t * (nxt - cur))
    return out


def poly_intersection_area(p1: np.ndarray, p2: np.ndarray) -> float:
    """Area of intersection of two convex polygons (both any winding)."""

    def ccw(p):
        p = np.asarray(p, dtype=np.float64)
        x, y = p[:, 0], p[:, 1]
        s = 0.5 * (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
        return p if s > 0 else p[::-1]

    clip = ccw(p2)
    poly = [pt for pt in ccw(p1)]
    for i in range(len(clip)):
        if not poly:
            return 0.0
        poly = _clip_poly_halfplane(poly, clip[i], clip[(i + 1) % len(clip)])
    if len(poly) < 3:
        return 0.0
    arr = np.asarray(poly)
    area, _ = poly_area_perimeter(arr)
    return area


def poly_iou(p1: np.ndarray, p2: np.ndarray) -> float:
    """IoU of two convex quads (``det_metrics.py:14-19`` semantics)."""
    inter = poly_intersection_area(p1, p2)
    a1, _ = poly_area_perimeter(np.asarray(p1, dtype=np.float64))
    a2, _ = poly_area_perimeter(np.asarray(p2, dtype=np.float64))
    union = a1 + a2 - inter
    return inter / union if union > 1e-12 else 0.0


def aabb_iou(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N, M) IoU matrix of axis-aligned ``[x0, y0, x1, y1]`` boxes; 0 where
    the union is empty."""
    x0 = np.maximum(a[:, None, 0], b[None, :, 0])
    y0 = np.maximum(a[:, None, 1], b[None, :, 1])
    x1 = np.minimum(a[:, None, 2], b[None, :, 2])
    y1 = np.minimum(a[:, None, 3], b[None, :, 3])
    inter = np.clip(x1 - x0, 0, None) * np.clip(y1 - y0, 0, None)
    area_a = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1])
    area_b = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    union = area_a[:, None] + area_b[None, :] - inter
    return np.divide(inter, union, out=np.zeros(inter.shape), where=union > 0)


def arc_length(points: np.ndarray, closed: bool = True) -> float:
    """Polyline/polygon perimeter (``cv2.arcLength`` analogue,
    used at ``mindocr/postprocess/det_db_postprocess.py:104``)."""
    p = np.asarray(points, dtype=np.float64)
    if len(p) < 2:
        return 0.0
    seg = np.linalg.norm(np.diff(p, axis=0), axis=1).sum()
    if closed:
        seg += float(np.linalg.norm(p[-1] - p[0]))
    return float(seg)


def _dp_open(points: np.ndarray, eps: float) -> list[int]:
    """Douglas-Peucker on an open chain; returns kept indices (ends incl.)."""
    keep = [0, len(points) - 1]
    stack = [(0, len(points) - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = points[i], points[j]
        ab = b - a
        ln = np.linalg.norm(ab)
        seg = points[i + 1 : j]
        if ln < 1e-12:
            d = np.linalg.norm(seg - a, axis=1)
        else:
            d = np.abs((seg[:, 0] - a[0]) * ab[1] - (seg[:, 1] - a[1]) * ab[0]) / ln
        k = int(np.argmax(d))
        if d[k] > eps:
            m = i + 1 + k
            keep.append(m)
            stack.append((i, m))
            stack.append((m, j))
    return sorted(set(keep))


def approx_poly_dp(points: np.ndarray, epsilon: float) -> np.ndarray:
    """Ramer-Douglas-Peucker simplification of a closed contour
    (``cv2.approxPolyDP`` analogue for the det ``box_type='poly'`` path,
    ``det_db_postprocess.py:105``): the chain is split at its two
    mutually-farthest anchor points (deterministic: the first of each tied
    pair), each half simplified as an open chain (:func:`_dp_open`), halves
    rejoined."""
    p = np.asarray(points, dtype=np.float64)
    n = len(p)
    if n <= 2:
        return p.copy()
    # anchor 1: farthest from point 0; anchor 2: farthest from anchor 1
    d0 = np.linalg.norm(p - p[0], axis=1)
    a1 = int(np.argmax(d0))
    d1 = np.linalg.norm(p - p[a1], axis=1)
    a2 = int(np.argmax(d1))
    lo, hi = min(a1, a2), max(a1, a2)
    chain1 = p[lo : hi + 1]
    chain2 = np.concatenate([p[hi:], p[: lo + 1]], axis=0)
    k1 = [lo + i for i in _dp_open(chain1, epsilon)]
    k2 = [(hi + i) % n for i in _dp_open(chain2, epsilon)]
    idx = sorted(set(k1) | set(k2))
    return p[idx]


def is_convex(poly: np.ndarray) -> bool:
    """True iff the polygon is convex (all cross products one sign; zeros —
    collinear runs — allowed)."""
    p = np.asarray(poly, dtype=np.float64)
    n = len(p)
    if n < 4:
        return True
    e = np.roll(p, -1, axis=0) - p
    cross = e[:, 0] * np.roll(e, -1, axis=0)[:, 1] - e[:, 1] * np.roll(e, -1, axis=0)[:, 0]
    return bool((cross >= -1e-9).all() or (cross <= 1e-9).all())


def clip_poly_to_rect(poly: np.ndarray, w: float, h: float) -> np.ndarray:
    """Sutherland–Hodgman clip of a polygon to the [0,w]x[0,h] rectangle,
    returning the clipped VERTICES (possibly degenerate: boundary-touching
    input yields a zero-area chain, matching shapely's
    intersects-but-area-0 case). Empty array when fully outside."""
    p = np.asarray(poly, dtype=np.float64)
    x, y = p[:, 0], p[:, 1]
    s = 0.5 * (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    pts = [pt for pt in (p if s > 0 else p[::-1])]
    rect = np.array(
        [[0.0, 0.0], [w, 0.0], [w, h], [0.0, h]], dtype=np.float64
    )
    for i in range(4):
        if not pts:
            break
        pts = _clip_poly_halfplane(pts, rect[i], rect[(i + 1) % 4])
    return np.asarray(pts, dtype=np.float64).reshape(-1, 2)
