"""DBNet training-label generation: shrunk binary map + border map.

The train-side half of the DB pipeline (SURVEY §1.1 canonical keys
``binary_map/mask/thresh_map/thresh_mask``). Training is out of scope,
but these are pure deterministic geometry/raster
operators, exactly the kind of preprocessing a training-DATA pipeline
runs over billions of images, so they belong in the engine:

- ``shrink_binary_map`` — ``ShrinkBinaryMap``
  (``mindocr/data/transforms/det_transforms.py:338-372``): polygons
  shrunk inward by ``(1 - r^2) * area / perimeter`` (the DB shrink
  formula) and rasterized to the text/background target; too-small or
  collapsed polygons are masked out and marked ignored.
- ``border_map`` — ``BorderMap`` (``det_transforms.py:230-336``, the
  exact slow path; the ``fast`` cv2 variant is an approximation the
  reference itself flags): polygons padded outward by the same distance,
  an inverse clipped point-to-edge distance field drawn inside the pad,
  normalized to [thresh_min, thresh_max]. The per-edge measure is
  DBNet's law-of-cosines construction (perpendicular distance when the
  apex angle at the pixel is obtuse, else nearest-endpoint distance) —
  kept verbatim because the trained thresh targets depend on its exact
  (non-Euclidean-clamp) values.

Deviation note: the reference pads polygons with pyclipper JT_ROUND
(arc-approximated corners); :func:`offset_convex_poly` produces miter
joints, a slightly larger pad AT CORNERS only — the distance-field
VALUES are unaffected (computed from the original edges and clipped at
``distance``), only the mask/support extends a few extra corner pixels.
Rasterization is an even-odd scanline at integer pixel coordinates (the
cv2.fillPoly analogue for the simple polygons this corpus produces).
"""

from __future__ import annotations

import numpy as np

from ..functions.geometry import offset_convex_poly, poly_area_perimeter


def fill_poly(canvas: np.ndarray, poly: np.ndarray, value: float) -> None:
    """Even-odd rasterization of a simple polygon into ``canvas`` (H, W),
    at integer pixel coordinates, boundary-inclusive."""
    p = np.asarray(poly, dtype=np.float64).reshape(-1, 2)
    h, w = canvas.shape[:2]
    x0 = max(int(np.floor(p[:, 0].min())), 0)
    x1 = min(int(np.ceil(p[:, 0].max())), w - 1)
    y0 = max(int(np.floor(p[:, 1].min())), 0)
    y1 = min(int(np.ceil(p[:, 1].max())), h - 1)
    if x1 < x0 or y1 < y0:
        return
    xs = np.arange(x0, x1 + 1, dtype=np.float64)
    ys = np.arange(y0, y1 + 1, dtype=np.float64)
    gx = xs[None, :]
    gy = ys[:, None]
    inside = np.zeros((len(ys), len(xs)), dtype=bool)
    on_edge = np.zeros_like(inside)
    n = len(p)
    for i in range(n):
        ax, ay = p[i]
        bx, by = p[(i + 1) % n]
        # even-odd crossing test (half-open in y so vertices count once)
        cond = (ay > gy) != (by > gy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (gy - ay) * (bx - ax) / (by - ay) if by != ay else np.inf
        inside ^= cond & (gx < xint)
        # boundary inclusion: point lies on the segment
        ex, ey = bx - ax, by - ay
        ln2 = ex * ex + ey * ey
        if ln2 > 0:
            t = ((gx - ax) * ex + (gy - ay) * ey) / ln2
            px = ax + np.clip(t, 0, 1) * ex
            py = ay + np.clip(t, 0, 1) * ey
            on_edge |= (gx - px) ** 2 + (gy - py) ** 2 < 0.25
    canvas[y0 : y1 + 1, x0 : x1 + 1][inside | on_edge] = value


def shrink_binary_map(
    shape_hw: tuple[int, int],
    polys: list[np.ndarray],
    ignore_tags: list[bool],
    min_text_size: int = 8,
    shrink_ratio: float = 0.4,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Returns (binary_map (1,H,W) float32, mask (H,W) float32, updated
    ignore_tags) — ShrinkBinaryMap semantics exactly: gt starts 0, mask
    starts 1; ignored/small/collapsed polygons zero the mask in their
    ORIGINAL extent and become ignored; survivors rasterize their shrunk
    polygon into gt."""
    h, w = shape_hw
    gt = np.zeros((h, w), dtype=np.float32)
    mask = np.ones((h, w), dtype=np.float32)
    dist_coef = 1 - shrink_ratio**2
    tags = np.array(ignore_tags, dtype=bool).copy()
    for i, poly in enumerate(polys):
        p = np.asarray(poly, dtype=np.float64)
        min_side = float(min(p.max(axis=0) - p.min(axis=0)))
        if tags[i] or min_side < min_text_size:
            fill_poly(mask, p, 0.0)
            tags[i] = True
            continue
        area, per = poly_area_perimeter(p)
        if per <= 1e-9:
            fill_poly(mask, p, 0.0)
            tags[i] = True
            continue
        shrunk = offset_convex_poly(p, -dist_coef * area / per)
        s_area, _ = poly_area_perimeter(shrunk)
        if len(shrunk) < 3 or s_area <= 0:  # collapsed by the shrink
            fill_poly(mask, p, 0.0)
            tags[i] = True
            continue
        fill_poly(gt, shrunk, 1.0)
    return gt[None, :, :], mask, tags


def _edge_distance(
    xs: np.ndarray, ys: np.ndarray, p1: np.ndarray, p2: np.ndarray
) -> np.ndarray:
    """DBNet's per-edge distance measure (det_transforms.py:314-336):
    perpendicular distance where the apex angle (at the pixel, between the
    rays to the edge endpoints) is obtuse, nearest-endpoint distance where
    it is acute."""
    a_sq = np.square(xs - p1[0]) + np.square(ys - p1[1])
    b_sq = np.square(xs - p2[0]) + np.square(ys - p2[1])
    c_sq = np.square(p1[0] - p2[0]) + np.square(p1[1] - p2[1])
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (a_sq + b_sq - c_sq) / (2 * np.sqrt(a_sq * b_sq))
        sin_sq = np.nan_to_num(1 - np.square(cos))
        result = np.sqrt(a_sq * b_sq * sin_sq / c_sq)
    near = np.sqrt(np.fmin(a_sq, b_sq))
    result = np.where(np.isnan(result), near, result)
    result[cos >= 0] = near[cos >= 0]
    return result


def border_map(
    shape_hw: tuple[int, int],
    polys: list[np.ndarray],
    ignore_tags: list[bool],
    shrink_ratio: float = 0.4,
    thresh_min: float = 0.3,
    thresh_max: float = 0.7,
) -> tuple[np.ndarray, np.ndarray]:
    """Returns (thresh_map, thresh_mask), both (H, W) float32 — BorderMap
    slow-path semantics: per non-ignored polygon, pad outward by
    ``(1-r^2)*area/perimeter``, mask the pad, draw the inverse clipped
    min-over-edges distance field (fmax-merged across polygons), then
    normalize the map to [thresh_min, thresh_max]."""
    h, w = shape_hw
    border = np.zeros((h, w), dtype=np.float32)
    mask = np.zeros((h, w), dtype=np.float32)
    dist_coef = 1 - shrink_ratio**2
    for poly, ignore in zip(polys, ignore_tags):
        if ignore:
            continue
        p = np.asarray(poly, dtype=np.float64)
        area, per = poly_area_perimeter(p)
        if per <= 1e-9:
            continue
        distance = dist_coef * area / per
        padded = np.array(
            np.round(offset_convex_poly(p, distance)), dtype=np.int64
        )
        fill_poly(mask, padded, 1.0)
        min_vals = padded.min(axis=0)
        max_vals = padded.max(axis=0)
        width = int(max_vals[0] - min_vals[0] + 1)
        height = int(max_vals[1] - min_vals[1] + 1)
        local = p - min_vals
        xs = np.broadcast_to(
            np.linspace(0, width - 1, num=width).reshape(1, width),
            (height, width),
        )
        ys = np.broadcast_to(
            np.linspace(0, height - 1, num=height).reshape(height, 1),
            (height, width),
        )
        dmaps = [
            _edge_distance(xs, ys, p1, p2)
            for p1, p2 in zip(local, np.roll(local, 1, axis=0))
        ]
        dmap = 1 - np.clip(
            np.array(dmaps, dtype=np.float32) / distance, 0, 1
        ).min(axis=0)
        lim = np.array([w, h]) - 1
        lo = np.clip(min_vals, 0, lim)
        hi = np.clip(max_vals, 0, lim)
        border[lo[1] : hi[1] + 1, lo[0] : hi[0] + 1] = np.fmax(
            dmap[
                lo[1] - min_vals[1] : hi[1] - max_vals[1] + height,
                lo[0] - min_vals[0] : hi[0] - max_vals[0] + width,
            ],
            border[lo[1] : hi[1] + 1, lo[0] : hi[0] + 1],
        )
    return border * (thresh_max - thresh_min) + thresh_min, mask
