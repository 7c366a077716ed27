"""Alternative detector postprocess slots: PSE and EAST.

Same UDF slot as ``db_postprocess`` (SURVEY.md §2.9); both consume model
output maps and emit (polys, scores).

- ``pse_postprocess`` follows PSEPostprocess
  (``mindocr/postprocess/det_pse_postprocess.py``): sigmoid score = channel
  0; kernels thresholded at 0.5 and masked by the text channel; progressive
  scale expansion grows labels; per label: min-area filter, mean-score >=
  0.85 filter, min-area-rect quad.
- ``east_postprocess`` follows EASTPostprocess
  (``mindocr/postprocess/det_east_postprocess.py:26-140``): score-map
  threshold 0.8, RBOX geometry restore (4 edge distances + angle at each
  valid pixel, feature stride 4), in-image validity (<=1 vertex outside),
  then locality-aware NMS at 0.2.
"""

from __future__ import annotations

import numpy as np

from ..functions.geometry import min_area_rect, order_points_clockwise
from ..functions.nms import locality_aware_nms
from ..functions.pse import pse_expand

PSE_BINARY_THRESH = 0.5
PSE_BOX_THRESH = 0.85
PSE_MIN_AREA = 16

EAST_SCORE_THRESH = 0.8
EAST_NMS_THRESH = 0.2
EAST_SCALE = 4


def pse_postprocess(pred: np.ndarray) -> tuple[list[np.ndarray], list[float]]:
    """pred: (C, H, W) float logits, channel 0 = text, 1..C-1 = shrinking
    kernels. Returns (quads, scores)."""
    score = 1.0 / (1.0 + np.exp(-pred[0]))
    kernels = (pred > PSE_BINARY_THRESH).astype(np.uint8)
    kernels = (kernels * kernels[:1]).astype(np.uint8)  # mask by text channel
    label = pse_expand(kernels, PSE_MIN_AREA)
    # the stable sort lists each label's pixels in raster order, as
    # np.nonzero(label == idx) does, so every score mean sums in that order
    flat = label.ravel()
    order = np.argsort(flat, kind="stable")
    ends = np.cumsum(np.bincount(flat))
    polys: list[np.ndarray] = []
    scores: list[float] = []
    for idx in range(1, len(ends)):
        if ends[idx] - ends[idx - 1] < PSE_MIN_AREA:
            continue
        ys, xs = np.divmod(order[ends[idx - 1]:ends[idx]], label.shape[1])
        s = float(score[ys, xs].mean())
        if s < PSE_BOX_THRESH:
            continue
        pts = np.stack([xs, ys], axis=1).astype(np.float64)
        rect, _, _ = min_area_rect(pts)
        polys.append(order_points_clockwise(rect))
        scores.append(s)
    return polys, scores


def _rotate_mat(theta: float) -> np.ndarray:
    return np.array(
        [[np.cos(theta), -np.sin(theta)], [np.sin(theta), np.cos(theta)]]
    )


def east_postprocess(
    score: np.ndarray, geo: np.ndarray
) -> tuple[list[np.ndarray], list[float]]:
    """score: (H, W) in [0,1]; geo: (5, H, W) = distances to
    top/bottom/left/right edges + rotation angle, in image pixels.
    Returns (quads, merged scores) after locality-aware NMS."""
    ys, xs = np.nonzero(score > EAST_SCORE_THRESH)
    if len(ys) == 0:
        return [], []
    order = np.argsort(ys, kind="stable")
    ys, xs = ys[order], xs[order]
    scale = EAST_SCALE
    h_img = score.shape[0] * scale
    w_img = score.shape[1] * scale
    boxes9 = []
    for y, x in zip(ys.tolist(), xs.tolist()):
        px, py = x * scale, y * scale
        d_top, d_bot, d_left, d_right = (float(geo[i, y, x]) for i in range(4))
        theta = float(geo[4, y, x])
        rot = _rotate_mat(-theta)
        corners = np.array(
            [
                [px - d_left, py - d_top],
                [px + d_right, py - d_top],
                [px + d_right, py + d_bot],
                [px - d_left, py + d_bot],
            ],
            dtype=np.float64,
        )
        rel = corners - np.array([px, py])
        res = rel @ rot.T + np.array([px, py])
        outside = (
            (res[:, 0] < 0)
            | (res[:, 0] >= w_img)
            | (res[:, 1] < 0)
            | (res[:, 1] >= h_img)
        ).sum()
        if outside > 1:
            continue
        boxes9.append(np.concatenate([res.reshape(8), [float(score[y, x])]]))
    if not boxes9:
        return [], []
    kept = locality_aware_nms(np.array(boxes9), EAST_NMS_THRESH)
    polys = [k[:8].reshape(4, 2) for k in kept]
    return polys, [float(k[8]) for k in kept]
