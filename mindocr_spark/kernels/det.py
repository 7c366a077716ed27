"""Detection scorer + DB postprocess (the media path's first stage).

``det_resize`` mirrors DetResize (keep-ratio, side limit, divisible-by-32;
``mindocr/data/transforms/det_transforms.py:375-550``) and returns the
``shape_list = [src_h, src_w, scale_h, scale_w]`` metadata.

``det_score`` is the deterministic stand-in for a perfectly-trained DBNet
forward: it emits the *shrunk* text-region map the DB head is trained to
produce (``ShrinkBinaryMap``, ``det_transforms.py:336``; head
``mindocr/models/heads/det_db_head.py:8-57``), with the shrink offset chosen
so the standard inference unclip exactly inverts it.

``db_postprocess`` follows DBPostprocess semantics step by step
(``mindocr/postprocess/det_db_postprocess.py:16-184``): threshold at 0.3 ->
connected regions (cap 1000) -> mask-mean box score (drop < 0.6) ->
candidate fit (``box_type='quad'``: min-area rect, drop short side < 3;
``'poly'``: simplified convex contour) -> unclip x1.5 -> re-fit rect (drop
short side < 5) -> rescale to source space (quads in clockwise vertex
order).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import (
    BINARY_THRESH,
    BOX_THRESH,
    DET_DIVISOR,
    DET_LIMIT_SIDE,
    EXPAND_RATIO,
    MAX_CANDIDATES,
    MIN_SIDE_AFTER_UNCLIP,
    MIN_SIDE_BEFORE_UNCLIP,
)
from ..functions.geometry import (
    approx_poly_dp,
    arc_length,
    is_convex,
    min_area_rect,
    offset_convex_poly,
    order_points_clockwise,
    poly_area_perimeter,
    rescale_polys,
    row_extremes_xy,
    unclip,
)
from ..functions.imaging import connected_components, resize_bilinear, trace_boundary

_H_BRIDGE = 7  # horizontal dilation radius: merges intra-word glyph gaps
# (<=14px), keeps words >=40px apart separate — the word-level blob behavior
# a trained DBNet head exhibits.
_V_BRIDGE = 3  # vertical dilation radius: merges i/j tittles (<=6px gaps);
# lines >=16px apart stay separate.


def det_resize(img: np.ndarray) -> tuple[np.ndarray, tuple[int, int, float, float]]:
    """Keep-ratio resize with max-side limit and divisible-by-32 dims.

    Returns (resized float32 image, shape_list (src_h, src_w, scale_h, scale_w)).
    """
    src_h, src_w = img.shape[:2]
    ratio = 1.0
    if max(src_h, src_w) > DET_LIMIT_SIDE:
        ratio = DET_LIMIT_SIDE / max(src_h, src_w)
    out_h = max(DET_DIVISOR, int(math.ceil(src_h * ratio / DET_DIVISOR)) * DET_DIVISOR)
    out_w = max(DET_DIVISOR, int(math.ceil(src_w * ratio / DET_DIVISOR)) * DET_DIVISOR)
    resized = resize_bilinear(img, out_h, out_w)
    return resized, (src_h, src_w, out_h / src_h, out_w / src_w)


def _dilate_h(mask: np.ndarray, radius: int) -> np.ndarray:
    """Horizontal binary dilation via windowed run-sum (cumsum trick)."""
    c = np.zeros((mask.shape[0], mask.shape[1] + 1), dtype=np.int32)
    np.cumsum(mask.astype(np.int32), axis=1, out=c[:, 1:])
    w = mask.shape[1]
    lo = np.clip(np.arange(w) - radius, 0, w)
    hi = np.clip(np.arange(w) + radius + 1, 0, w)
    return (c[:, hi] - c[:, lo]) > 0


def _dilate_v(mask: np.ndarray, radius: int) -> np.ndarray:
    """Vertical binary dilation (merges i/j tittles into the word blob)."""
    return _dilate_h(mask.T, radius).T


def _solve_shrink_distance(rect: np.ndarray) -> float:
    """Shrink offset d such that the inference-time unclip (ratio 1.5,
    ``det_db_postprocess.py:113-118``) exactly inverts it: fixed point of
    d = ratio * area(shrunk) / perimeter(shrunk).

    This mirrors DBNet training, where the binary map is the Vatti-shrunk
    text region (``ShrinkBinaryMap``, ``det_transforms.py:336``) and unclip
    restores the full box at inference.
    """
    # rect is a rectangle: the fixed point d = R*(w-2d)(h-2d)/(2(w+h-4d))
    # is the smaller root of (4R+8) d^2 - (2R+2)(w+h) d + R*w*h = 0
    w = float(np.linalg.norm(rect[1] - rect[0]))
    h = float(np.linalg.norm(rect[3] - rect[0]))
    d_max = max(min(w, h) / 2.0 - 2.0, 0.0)
    r = EXPAND_RATIO
    a = 4 * r + 8
    b = -(2 * r + 2) * (w + h)
    c = r * w * h
    disc = b * b - 4 * a * c
    if disc <= 0:
        return d_max
    d = (-b - np.sqrt(disc)) / (2 * a)
    return float(min(max(d, 0.0), d_max))


def _fill_convex_poly(prob: np.ndarray, poly: np.ndarray, value: float) -> None:
    """Set pixels whose centers lie inside the convex polygon."""
    h, w = prob.shape
    x0 = max(int(np.floor(poly[:, 0].min())), 0)
    x1 = min(int(np.ceil(poly[:, 0].max())) + 1, w)
    y0 = max(int(np.floor(poly[:, 1].min())), 0)
    y1 = min(int(np.ceil(poly[:, 1].max())) + 1, h)
    if x0 >= x1 or y0 >= y1:
        return
    # axis-aligned fast path: every edge horizontal or vertical -> the
    # inclusive half-plane tests reduce to a slice fill with identical
    # pixel-center semantics (ceil(min) .. floor(max) inclusive)
    dx = np.abs(np.diff(np.append(poly[:, 0], poly[0, 0])))
    dy = np.abs(np.diff(np.append(poly[:, 1], poly[0, 1])))
    if bool(((dx < 1e-12) | (dy < 1e-12)).all()):
        ax0 = max(int(np.ceil(poly[:, 0].min())), 0)
        ax1 = min(int(np.floor(poly[:, 0].max())) + 1, w)
        ay0 = max(int(np.ceil(poly[:, 1].min())), 0)
        ay1 = min(int(np.floor(poly[:, 1].max())) + 1, h)
        if ax0 < ax1 and ay0 < ay1:
            prob[ay0:ay1, ax0:ax1] = value
        return
    xs, ys = np.meshgrid(np.arange(x0, x1), np.arange(y0, y1))
    inside = np.ones(xs.shape, dtype=bool)
    n = len(poly)
    # consistent winding sign from shoelace
    px, py = poly[:, 0], poly[:, 1]
    sign = 1.0 if 0.5 * (np.dot(px, np.roll(py, -1)) - np.dot(py, np.roll(px, -1))) > 0 else -1.0
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        cross = (bx - ax) * (ys - ay) - (by - ay) * (xs - ax)
        inside &= sign * cross >= 0
    region = prob[y0:y1, x0:x1]
    region[inside] = value


_PROB_BG = 0.02
_PROB_FG = 0.95


def det_score(img: np.ndarray) -> np.ndarray:
    """Stand-in for a perfectly-trained DBNet forward.

    (H,W) gray 0..255 -> prob map (H,W) in [0,1]: group ink into word blobs
    (horizontal bridging), fit a min-area rect per word, and paint the
    *shrunk* rect at high probability — exactly the binary-map contract a
    DB head is trained to produce (``det_db_head.py:8-57`` +
    ``ShrinkBinaryMap``). ``db_postprocess``'s standard threshold ->
    rect-fit -> unclip then restores the full word box.
    """
    ink = img.astype(np.float32) < 127.5
    blobs = _dilate_v(_dilate_h(ink, _H_BRIDGE), _V_BRIDGE)
    prob = np.full(img.shape, _PROB_BG, dtype=np.float32)
    for comp in connected_components(blobs):
        sel = ink[comp[:, 0], comp[:, 1]]
        pts = comp[sel]
        if len(pts) == 0:
            continue
        xy = row_extremes_xy(pts)
        rect, short, _ = min_area_rect(xy)
        if short <= 0:
            continue
        d = _solve_shrink_distance(rect)
        shrunk = offset_convex_poly(rect, -d) if d > 0 else rect
        # rasterization (pixel centers) + round() in rescale each eat ~half a
        # pixel; overshoot slightly so the restored box never clips ink
        _fill_convex_poly(prob, offset_convex_poly(shrunk, 1.25), _PROB_FG)
    return prob


def _quad_candidate(pts: np.ndarray) -> np.ndarray | None:
    """A component's min-area rect; None when its short side < 3."""
    rect, short_side, _ = min_area_rect(row_extremes_xy(pts))
    return rect if short_side >= MIN_SIDE_BEFORE_UNCLIP else None


def _poly_candidate(pts: np.ndarray) -> np.ndarray | None:
    """A component's traced outer contour simplified with approxPolyDP
    (epsilon = 0.005 * closed arc length); None when fewer than 4 points
    remain (``det_db_postprocess.py:103-107``) or when the simplification is
    not convex: the reference skips a candidate when pyclipper's offset
    splits it into multiple polygons (``len(poly) > 1``, line 119-120), and
    this kernel's miter offset is defined for convex input, so it applies
    the same skip to non-convex simplifications (a strict superset of the
    reference's skip on the corpus this engine generates, where all text
    regions are convex)."""
    contour = trace_boundary(pts)  # ordered (x, y)
    points = approx_poly_dp(contour, 0.005 * arc_length(contour, closed=True))
    return points if len(points) >= 4 and is_convex(points) else None


def db_postprocess(
    prob: np.ndarray,
    shape_list: tuple[int, int, float, float],
    box_type: str = "quad",
) -> tuple[list[np.ndarray], list[float]]:
    """Prob map -> (int64 polys in source coords, scores), DBPostprocess
    semantics. Deterministic component order: by component top-left.

    ``box_type='quad'`` fits each candidate's min-area rect and emits the
    clockwise (4,2) rect of its unclipped box; ``box_type='poly'``
    (``det_db_postprocess.py:103-107,119-120,126-128``) fits the simplified
    contour and emits the unclipped ragged polygon itself — the
    representation curved/irregular text needs. Either way the unclipped
    box's min-area-rect short side must clear ``min_size + 2``."""
    src_h, src_w, scale_h, scale_w = shape_list
    candidate = _quad_candidate if box_type == "quad" else _poly_candidate
    comps = connected_components(prob >= BINARY_THRESH)[:MAX_CANDIDATES]
    polys: list[np.ndarray] = []
    scores: list[float] = []
    for pts in comps:
        score = float(prob[pts[:, 0], pts[:, 1]].mean())
        if score < BOX_THRESH:
            continue
        box = candidate(pts)
        if box is None:
            continue
        expanded = unclip(box, EXPAND_RATIO)
        rect, short_side, _ = min_area_rect(expanded)
        if short_side < MIN_SIDE_AFTER_UNCLIP:
            continue
        if box_type == "quad":
            poly = order_points_clockwise(
                rescale_polys(rect, scale_h, scale_w, src_h, src_w)
            )
        else:
            poly = rescale_polys(expanded, scale_h, scale_w, src_h, src_w)
        polys.append(poly.astype(np.int64))
        scores.append(score)
    return polys, scores


def validate_det_res(
    polys: list[np.ndarray], scores: list[float], src_h: int, src_w: int
) -> tuple[list[np.ndarray], list[float]]:
    """Clip polys into the image, drop degenerate ones (area < 3) with
    their scores (``tools/infer/text/predict_det.py:164-215``)."""
    out: list[np.ndarray] = []
    kept: list[float] = []
    for p, score in zip(polys, scores):
        q = p.astype(np.float64)
        q[:, 0] = np.clip(q[:, 0], 0, src_w - 1)
        q[:, 1] = np.clip(q[:, 1], 0, src_h - 1)
        area, _per = poly_area_perimeter(q)
        if area < 3.0:
            continue
        out.append(q.astype(np.int64))
        kept.append(score)
    return out, kept


def validate_polygons_train(
    polys: list[np.ndarray],
    texts: list[str],
    ignore_tags: list[bool],
    hw: tuple[int, int],
    min_area: float = 1.0,
    clip_to_visible_area: bool = False,
    min_vertices: int = 4,
) -> tuple[list[np.ndarray], list[str], np.ndarray]:
    """The TRAIN-side ValidatePolygons transform as a standalone kernel
    (``mindocr/data/transforms/det_transforms.py:668-712``), kept apart
    from the inference-side :func:`validate_det_res`:

    1. drop polygons fully outside the [0,w]x[0,h] image;
    2. mark ignored any polygon whose clipped area < ``min_area`` (a
       boundary-touching polygon intersects with area 0 and is kept
       ignored, like shapely's box-intersects semantics);
    3. with ``clip_to_visible_area``, replace coordinates by the clipped
       vertex chain (vertex count may change) and mark ignored when fewer
       than ``min_vertices`` remain.

    The reference clips with shapely; here the same convex-border clip is
    Sutherland–Hodgman (``functions/geometry.clip_poly_to_rect``) —
    identical for simple polygons against the rectangular border."""
    from ..functions.geometry import clip_poly_to_rect

    h, w = int(hw[0]), int(hw[1])
    new_polys: list[np.ndarray] = []
    new_texts: list[str] = []
    new_tags: list[bool] = []
    for np_poly, text, ignore in zip(polys, texts, ignore_tags):
        clipped = clip_poly_to_rect(np.asarray(np_poly, dtype=np.float64), w, h)
        if len(clipped) == 0:
            continue  # fully outside: dropped entirely
        area = (
            poly_area_perimeter(clipped)[0] if len(clipped) >= 3 else 0.0
        )
        ignore = bool(ignore)
        if area < min_area:
            ignore = True
        out_poly = np.asarray(np_poly, dtype=np.float64)
        if clip_to_visible_area:
            out_poly = clipped
            if len(out_poly) < min_vertices:
                ignore = True
        new_polys.append(out_poly)
        new_texts.append(text)
        new_tags.append(ignore)
    return new_polys, new_texts, np.array(new_tags, dtype=bool)
