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

Both stages keep components as runs (``imaging.label_runs`` once per map,
``imaging.component_order`` for the top-left order): a rect is fit to the
per-row run extremes (``imaging.row_extremes``), and pixels are expanded
only where a value needs them, the box score's mean (in the same raster
pixel order) and the poly contour.
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
    unclip,
)
from ..functions.imaging import (
    component_order,
    label_runs,
    resize_bilinear,
    row_extremes,
    row_runs,
    run_pixels,
    trace_boundary,
)

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


def _dilate(mask: np.ndarray, radius: int, axis: int) -> np.ndarray:
    """Binary dilation along ``axis`` (1: horizontal, 0: vertical): the
    mask zero-padded by ``radius`` on both sides, then window ORs that
    double their span (1, 2, 4, ... up to ``2 * radius + 1``) by OR-ing two
    slices — no running sums, gathers or transposes."""
    shape = list(mask.shape)
    shape[axis] += 2 * radius
    acc = np.zeros(shape, dtype=bool)
    head = [slice(None), slice(None)]
    head[axis] = slice(radius, radius + mask.shape[axis])
    acc[tuple(head)] = mask
    span, width = 1, 2 * radius + 1
    tail = [slice(None), slice(None)]
    while span < width:  # acc[i] = OR of the padded mask's [i, i + span)
        step = min(span, width - span)
        head[axis], tail[axis] = slice(None, -step), slice(step, None)
        acc = acc[tuple(head)] | acc[tuple(tail)]
        span += step
    return acc


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
    """Set pixels whose centers lie inside the convex polygon.

    The polygon's few vertices are python floats (the same IEEE values and
    arithmetic as numpy scalars), and each edge's half-plane test
    broadcasts a row term against a column term instead of two meshgrids.
    Callers pass polygons of area well above 0, so the shoelace sign is the
    winding."""
    h, w = prob.shape
    pts = np.asarray(poly, dtype=np.float64).tolist()
    pxs = [p[0] for p in pts]
    pys = [p[1] for p in pts]
    x0 = max(math.floor(min(pxs)), 0)
    x1 = min(math.ceil(max(pxs)) + 1, w)
    y0 = max(math.floor(min(pys)), 0)
    y1 = min(math.ceil(max(pys)) + 1, h)
    if x0 >= x1 or y0 >= y1:
        return
    n = len(pts)
    edges = [(pts[i], pts[(i + 1) % n]) for i in range(n)]
    # axis-aligned fast path: every edge horizontal or vertical -> the
    # inclusive half-plane tests reduce to a slice fill with identical
    # pixel-center semantics (ceil(min) .. floor(max) inclusive)
    if all(abs(bx - ax) < 1e-12 or abs(by - ay) < 1e-12 for (ax, ay), (bx, by) in edges):
        ax0 = max(math.ceil(min(pxs)), 0)
        ax1 = min(math.floor(max(pxs)) + 1, w)
        ay0 = max(math.ceil(min(pys)), 0)
        ay1 = min(math.floor(max(pys)) + 1, h)
        if ax0 < ax1 and ay0 < ay1:
            prob[ay0:ay1, ax0:ax1] = value
        return
    xs = np.arange(x0, x1)[None, :]
    ys = np.arange(y0, y1)[:, None]
    # consistent winding sign from shoelace
    clockwise = sum(ax * by - ay * bx for (ax, ay), (bx, by) in edges) <= 0
    inside = np.ones((y1 - y0, x1 - x0), dtype=bool)
    for (ax, ay), (bx, by) in edges:
        cross = (bx - ax) * (ys - ay) - (by - ay) * (xs - ax)
        inside &= (cross <= 0) if clockwise else (cross >= 0)
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

    Words stay runs throughout: the blobs are labeled once, each ink run
    lies inside exactly one blob run (the dilation only grows ink), so one
    ``searchsorted`` gives every ink run its word, and a word's rect is fit
    to its ink's per-row extremes (:func:`imaging.row_extremes`).
    """
    ink = np.asarray(img, dtype=np.float32) < 127.5
    blobs = _dilate(_dilate(ink, _H_BRIDGE, 1), _V_BRIDGE, 0)
    prob = np.full(img.shape, _PROB_BG, dtype=np.float32)
    by, bx0, _bx1, root = label_runs(blobs)
    order, bounds = component_order(by, bx0, root)
    word = np.empty(len(by), dtype=np.int64)
    word[order] = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))
    iy, ix0, ix1 = row_runs(ink)
    stride = img.shape[1] + 1
    blob_run = np.searchsorted(by * stride + bx0, iy * stride + ix0, side="right") - 1
    ink_word = word[blob_run]
    by_word = np.argsort(ink_word, kind="stable")  # raster order within a word
    word_bounds = np.searchsorted(ink_word[by_word], np.arange(len(bounds)))
    xy, pt_bounds = row_extremes(
        iy[by_word], ix0[by_word], ix1[by_word], word_bounds
    )
    bounds = pt_bounds.tolist()
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if lo == hi:
            continue
        rect, short, _ = min_area_rect(xy[lo:hi])
        if short <= 0:
            continue
        d = _solve_shrink_distance(rect)
        shrunk = offset_convex_poly(rect, -d) if d > 0 else rect
        # rasterization (pixel centers) + round() in rescale each eat ~half a
        # pixel; overshoot slightly so the restored box never clips ink
        _fill_convex_poly(prob, offset_convex_poly(shrunk, 1.25), _PROB_FG)
    return prob


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

    ``box_type='quad'`` fits each candidate's min-area rect (short side
    >= 3) and emits the clockwise (4,2) rect of its unclipped box;
    ``box_type='poly'`` (``det_db_postprocess.py:103-107,119-120,126-128``)
    fits the simplified contour and emits the unclipped ragged polygon
    itself — the representation curved/irregular text needs. Either way the
    unclipped box's min-area-rect short side must clear ``min_size + 2``.

    Components stay runs: the score is the mean of the component's pixels
    in raster order (the only per-pixel value), the quad candidate is fit
    to the per-row run extremes, and only the poly contour expands pixels.
    """
    src_h, src_w, scale_h, scale_w = shape_list
    run_y, run_x0, run_x1, root = label_runs(prob >= BINARY_THRESH)
    order, bounds = component_order(run_y, run_x0, root)
    bounds = bounds[: MAX_CANDIDATES + 1]
    order = order[: bounds[-1]]
    run_y, run_x0, run_x1 = run_y[order], run_x0[order], run_x1[order]
    ys, xs = run_pixels(run_y, run_x0, run_x1)
    values = prob[ys, xs]
    pix_bounds = np.zeros(len(run_y) + 1, dtype=np.int64)
    np.cumsum(run_x1 - run_x0, out=pix_bounds[1:])
    pix_bounds = pix_bounds[bounds].tolist()
    if box_type == "quad":
        xy, pt_bounds = row_extremes(run_y, run_x0, run_x1, bounds)
        pt_bounds = pt_bounds.tolist()
    polys: list[np.ndarray] = []
    scores: list[float] = []
    for k in range(len(bounds) - 1):
        p0, p1 = pix_bounds[k], pix_bounds[k + 1]
        score = float(values[p0:p1].mean())
        if score < BOX_THRESH:
            continue
        if box_type == "quad":
            box, short_side, _ = min_area_rect(xy[pt_bounds[k] : pt_bounds[k + 1]])
            if short_side < MIN_SIDE_BEFORE_UNCLIP:
                continue
        else:
            box = _poly_candidate(np.stack([ys[p0:p1], xs[p0:p1]], axis=1))
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
) -> tuple[list[np.ndarray], list[str], np.ndarray]:
    """The TRAIN-side ValidatePolygons transform as a standalone kernel
    (``mindocr/data/transforms/det_transforms.py:668-712``) with its
    defaults (min_area=1.0, clip_to_visible_area=False), kept apart from
    the inference-side :func:`validate_det_res`:

    1. drop polygons fully outside the [0,w]x[0,h] image;
    2. mark ignored any polygon whose clipped area < 1 (a boundary-touching
       polygon intersects with area 0 and is kept ignored, like shapely's
       box-intersects semantics); coordinates stay unclipped.

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
        new_polys.append(np.asarray(np_poly, dtype=np.float64))
        new_texts.append(text)
        new_tags.append(bool(ignore) or area < 1.0)
    return new_polys, new_texts, np.array(new_tags, dtype=bool)
