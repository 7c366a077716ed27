"""EAST / PSE training-label generation — the train-side det family
beside the DBNet pair (kernels/det_label.py).

Both are pure deterministic geometry/raster operators (the reference
wraps them in random augmentation — height/width jitter, rotate, crop —
which is sampling, not labeling; the deterministic label core is what a
training-data pipeline precomputes at 10^12-image scale):

- :func:`east_score_geo` — the label core of ``EASTProcessTrain``
  (``mindocr/data/transforms/det_east_transforms.py:350-404`` with its
  helpers at 38-189, 261-284): per valid quad, shrink by the r-vector
  edge rule (coef 0.3), rasterize the shrunk poly into the score map at
  ``scale``; find the min-area rotation angle over a 1-degree sweep
  (top-10 by area, min orientation error); compute the d1-d4 rotated
  boundary distances over the full pixel grid and sample them at the
  1/scale stride; channel 4 carries the angle.  Reference quirks kept
  verbatim: the rotated pixel grid is computed in FLOAT16
  (``_rotate_all_pixels``, det_east_transforms.py:279-281 — trained
  geo targets depend on its quantization), and an all-empty score map
  gets score[0, 0, 0] = 1 (``__call__``, line 29-30).
- :func:`pse_gt_decode` — ``PSEGtDecode``
  (``det_transforms.py:559-668``): min-shortest-edge upscale of the
  polygons, instance-indexed text raster binarized to gt_text, ignored
  instances zeroed in the training mask, and kernel_num - 1 shrunk
  kernel rasters with ``rate_i = 1 - (1 - min_ratio)/(k-1) * i`` and
  ``offset = min(int(area * (1 - rate^2) / (peri + 0.001) + 0.5), 20)``
  (the +0.5 int() truncation IS the reference's rounding); a shrink
  that vanishes or degenerates to <= 2 points falls back to the
  original polygon (det_transforms.py:596-610).

Deviation notes (same class as det_label.py's): rasterization is the
even-odd scanline of :func:`..kernels.det_label.fill_poly` (the
cv2.fillPoly/drawContours(-1) analogue for the simple polygons this
corpus produces); the PSE inward offset uses
``functions.geometry.offset_convex_poly`` — for CONVEX polygons an
inward (negative) offset has no arc joins, so pyclipper JT_ROUND and
the miter construction agree up to the integer rounding both sides
apply before rasterizing.
"""

from __future__ import annotations

import math

import numpy as np

from ..functions.geometry import offset_convex_poly, poly_area_perimeter
from .det_label import fill_poly

EAST_SHRINK_COEF = 0.3
EAST_LENGTH = 512  # EASTProcessTrain's square crop side
EAST_SCALE = 0.25

PSE_KERNEL_NUM = 7
PSE_MIN_SHRINK_RATIO = 0.4
PSE_MIN_SHORTEST_EDGE = 640
PSE_MAX_SHRINK = 20


# --- EAST ---------------------------------------------------------------------


def _dist(x1: float, y1: float, x2: float, y2: float) -> float:
    return math.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2)


def east_shrink_poly(vertices: np.ndarray) -> np.ndarray:
    """``_shrink_poly`` (det_east_transforms.py:75-104): per-vertex
    shrink reach r_i = min adjacent edge length, moved by
    ``EAST_SHRINK_COEF`` of it; the longer edge pair
    (offset rule, line 92-97) is moved first; edges of length <= 1 do
    not move (line 66)."""
    v = np.asarray(vertices, dtype=np.float64).reshape(-1).copy()
    x1, y1, x2, y2, x3, y3, x4, y4 = v
    r = [
        min(_dist(x1, y1, x2, y2), _dist(x1, y1, x4, y4)),
        min(_dist(x2, y2, x1, y1), _dist(x2, y2, x3, y3)),
        min(_dist(x3, y3, x2, y2), _dist(x3, y3, x4, y4)),
        min(_dist(x4, y4, x1, y1), _dist(x4, y4, x3, y3)),
    ]
    offset = (
        0
        if _dist(x1, y1, x2, y2) + _dist(x3, y3, x4, y4)
        > _dist(x2, y2, x3, y3) + _dist(x1, y1, x4, y4)
        else 1
    )

    def move(i1: int, i2: int) -> None:
        i1, i2 = i1 % 4, i2 % 4
        xa, ya, xb, yb = 2 * i1, 2 * i1 + 1, 2 * i2, 2 * i2 + 1
        lx, ly = v[xa] - v[xb], v[ya] - v[yb]
        length = _dist(v[xa], v[ya], v[xb], v[yb])
        if length > 1:
            ratio = (r[i1] * EAST_SHRINK_COEF) / length
            v[xa] += ratio * (-lx)
            v[ya] += ratio * (-ly)
            ratio = (r[i2] * EAST_SHRINK_COEF) / length
            v[xb] += ratio * lx
            v[yb] += ratio * ly

    move(0 + offset, 1 + offset)
    move(2 + offset, 3 + offset)
    move(1 + offset, 2 + offset)
    move(3 + offset, 4 + offset)
    return v


def _rotate_vertices(vertices: np.ndarray, theta: float) -> np.ndarray:
    """Rotate the quad by ``theta`` about its first vertex."""
    v = np.asarray(vertices, dtype=np.float64).reshape((4, 2)).T
    anchor = v[:, :1]
    m = np.array(
        [[math.cos(theta), -math.sin(theta)], [math.sin(theta), math.cos(theta)]]
    )
    return (np.dot(m, v - anchor) + anchor).T.reshape(-1)


def east_min_rect_angle(vertices: np.ndarray) -> float:
    """``_find_min_rect_angle`` (det_east_transforms.py:161-189): sweep
    -90..89 degrees, keep the 10 smallest bounding areas (stable sort =
    lowest angle first on ties), return the one with the smallest
    corner-orientation error, in radians."""
    angles = list(range(-90, 90))
    areas = []
    for theta in angles:
        rot = _rotate_vertices(vertices, theta / 180 * math.pi)
        xs, ys = rot[0::2], rot[1::2]
        areas.append((xs.max() - xs.min()) * (ys.max() - ys.min()))
    order = sorted(range(len(areas)), key=lambda k: areas[k])
    best, best_err = -1, float("inf")
    for idx in order[:10]:
        rot = _rotate_vertices(vertices, angles[idx] / 180 * math.pi)
        xs, ys = rot[0::2], rot[1::2]
        x_min, x_max, y_min, y_max = xs.min(), xs.max(), ys.min(), ys.max()
        err = (
            _dist(rot[0], rot[1], x_min, y_min)
            + _dist(rot[2], rot[3], x_max, y_min)
            + _dist(rot[4], rot[5], x_max, y_max)
            + _dist(rot[6], rot[7], x_min, y_max)
        )
        if err < best_err:
            best_err, best = err, idx
    return angles[best] / 180 * math.pi


def _rotate_all_pixels(
    rotate_mat: np.ndarray, anchor_x: float, anchor_y: float, length: int
) -> tuple[np.ndarray, np.ndarray]:
    """det_east_transforms.py:261-284 — the FLOAT16 matmul is the
    reference's own quantization and is kept verbatim (trained geo
    targets depend on its values)."""
    x, y = np.meshgrid(np.arange(length), np.arange(length))
    coord = np.concatenate(
        (x.reshape((1, x.size)), y.reshape((1, x.size))), 0
    )
    rotated = np.matmul(
        rotate_mat.astype(np.float16),
        (coord - np.array([[anchor_x], [anchor_y]])).astype(np.float16),
    ) + np.array([[anchor_x], [anchor_y]])
    return rotated[0, :].reshape(x.shape), rotated[1, :].reshape(y.shape)


def east_score_geo(
    vertices: np.ndarray, labels: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``_get_score_geo`` + the ``__call__`` tail
    (det_east_transforms.py:350-404, 25-30) over a square crop of side
    L = ``EAST_LENGTH`` at s = ``EAST_SCALE``: returns (score_map
    (1, L*s, L*s), geo_map (5, ., .), training_mask (1, ., .)) float32,
    CHW, with the empty-score score[0, 0, 0] = 1 quirk applied."""
    length, scale = EAST_LENGTH, EAST_SCALE
    side = int(length * scale)
    score = np.zeros((side, side, 1), np.float32)
    geo = np.zeros((side, side, 5), np.float32)
    ignored = np.zeros((side, side, 1), np.float32)
    index = np.arange(0, length, int(1 / scale))
    index_x, index_y = np.meshgrid(index, index)
    vertices = np.asarray(vertices, dtype=np.float64).reshape(-1, 8)
    labels = np.asarray(labels).reshape(-1)
    for vertice, lab in zip(vertices, labels):
        if lab == 0:
            fill_poly(
                ignored[:, :, 0],
                np.around(scale * vertice.reshape((4, 2))),
                1.0,
            )
            continue
        poly = np.around(scale * east_shrink_poly(vertice).reshape((4, 2)))
        temp_mask = np.zeros(score.shape[:-1], np.float32)
        fill_poly(temp_mask, poly, 1.0)

        theta = east_min_rect_angle(vertice)
        rotate_mat = np.array(
            [
                [math.cos(theta), -math.sin(theta)],
                [math.sin(theta), math.cos(theta)],
            ]
        )
        rotated_vertices = _rotate_vertices(vertice, theta)
        xs, ys = rotated_vertices[0::2], rotated_vertices[1::2]
        x_min, x_max, y_min, y_max = xs.min(), xs.max(), ys.min(), ys.max()
        rotated_x, rotated_y = _rotate_all_pixels(
            rotate_mat, vertice[0], vertice[1], length
        )
        d1 = np.maximum(rotated_y - y_min, 0)
        d2 = np.maximum(y_max - rotated_y, 0)
        d3 = np.maximum(rotated_x - x_min, 0)
        d4 = np.maximum(x_max - rotated_x, 0)
        geo[:, :, 0] += d1[index_y, index_x] * temp_mask
        geo[:, :, 1] += d2[index_y, index_x] * temp_mask
        geo[:, :, 2] += d3[index_y, index_x] * temp_mask
        geo[:, :, 3] += d4[index_y, index_x] * temp_mask
        geo[:, :, 4] += theta * temp_mask
        score[:, :, 0] = np.fmax(score[:, :, 0], temp_mask)
    score = score.transpose(2, 0, 1)
    geo = geo.transpose(2, 0, 1)
    ignored = ignored.transpose(2, 0, 1)
    if np.sum(score) < 1:
        score[0, 0, 0] = 1
    return score, geo, ignored


# --- PSE ----------------------------------------------------------------------


def _signed_area(p: np.ndarray) -> float:
    pts = np.asarray(p, dtype=np.float64).tolist()
    s = 0.0
    for i in range(len(pts)):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % len(pts)]
        s += x0 * y1 - y0 * x1
    return 0.5 * s


def pse_shrink_polys(polys: list[np.ndarray], rate: float) -> list[np.ndarray]:
    """``PSEGtDecode._shrink`` (det_transforms.py:577-614): offset =
    min(int(area * (1 - rate^2) / (peri + 0.001) + 0.5), PSE_MAX_SHRINK);
    vanished or <= 2-point results fall back to the original poly.
    pyclipper signals a vanished polygon with an empty result;
    :func:`offset_convex_poly` signals it by inverting the orientation
    (the shifted edges cross past the incenter), so the vanish test here
    is an orientation flip or a degenerate area."""
    rate = rate * rate
    out = []
    for bbox in polys:
        p = np.asarray(bbox, dtype=np.float64)
        area, peri = poly_area_perimeter(p)
        offset = min(int(area * (1 - rate) / (peri + 0.001) + 0.5), PSE_MAX_SHRINK)
        shrunk = offset_convex_poly(p, -float(offset))
        if (
            len(shrunk) <= 2
            or abs(_signed_area(shrunk)) < 1e-9
            or _signed_area(shrunk) * _signed_area(p) < 0
        ):
            out.append(p)
            continue
        out.append(np.asarray(shrunk, dtype=np.float64))
    return out


def pse_gt_decode(
    shape_hw: tuple[int, int],
    polys: list[np.ndarray],
    ignore_tags: list[bool],
) -> dict:
    """``PSEGtDecode.__call__`` (det_transforms.py:616-668) minus the
    image resample (labels only — the polygon scale/raster-dims side of
    the min-shortest-edge rule is applied identically): returns
    ``{"gt_text", "gt_kernels", "mask", "shape_hw", "polys"}`` with
    gt_text binarized from the instance-indexed raster and kernel i
    shrunk at ``rate = 1 - (1 - min_ratio)/(kernel_num - 1) * (i+1)``, all
    three settings the ``PSE_*`` constants."""
    h, w = shape_hw
    short = min(h, w)
    scaled = [np.asarray(p, dtype=np.float64) for p in polys]
    if short < PSE_MIN_SHORTEST_EDGE:
        s = PSE_MIN_SHORTEST_EDGE / short
        h, w = int(round(h * s)), int(round(w * s))
        scaled = [p * s for p in scaled]

    gt_text = np.zeros((h, w), dtype=np.float32)
    mask = np.ones((h, w), dtype=np.float32)
    int_polys = [p.astype("int32") for p in scaled]
    for i, p in enumerate(int_polys):
        fill_poly(gt_text, p, float(i + 1))
        if ignore_tags[i]:
            fill_poly(mask, p, 0.0)

    kernels = []
    for i in range(1, PSE_KERNEL_NUM):
        rate = 1.0 - (1.0 - PSE_MIN_SHRINK_RATIO) / (PSE_KERNEL_NUM - 1) * i
        k = np.zeros((h, w), dtype=np.float32)
        for sp in pse_shrink_polys([p.astype(np.float64) for p in int_polys], rate):
            fill_poly(k, np.round(sp), 1.0)
        kernels.append(k)

    gt_text = (gt_text > 0).astype(np.float32)
    return {
        "gt_text": gt_text,
        "gt_kernels": np.array(kernels),
        "mask": mask,
        "shape_hw": (h, w),
        "polys": int_polys,
    }
