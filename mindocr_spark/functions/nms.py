"""Locality-aware NMS (EAST-style) in pure numpy.

Semantics follow the reference's pure-python LANMS
(``mindocr/postprocess/nms_py/lanms_py.py:11-66``, itself the published
EAST-paper algorithm): boxes are (9,) arrays ``[x1,y1,...,x4,y4,score]``;
a forward pass score-weight-merges consecutive boxes whose IoU exceeds the
threshold (locality pass), then standard greedy NMS filters the merged set.
Verified against the reference's own JSON fixtures
(``tests/ut/lanms_test_jsons``) in tests/test_nms.py.
"""

from __future__ import annotations

import numpy as np

from .geometry import poly_area_perimeter, poly_iou


def _quad_valid(q: np.ndarray) -> bool:
    area, _ = poly_area_perimeter(q)
    return area > 0


def box_iou(box1: np.ndarray, box2: np.ndarray) -> float:
    """IoU of two 9-element boxes (invalid/degenerate -> 0)."""
    q1 = np.asarray(box1[:8], dtype=np.float64).reshape(4, 2)
    q2 = np.asarray(box2[:8], dtype=np.float64).reshape(4, 2)
    if not (_quad_valid(q1) and _quad_valid(q2)):
        return 0.0
    return poly_iou(q1, q2)


def weighted_merge(box1: np.ndarray, box2: np.ndarray) -> np.ndarray:
    """Score-weighted average of vertices; scores add."""
    out = np.zeros(9, dtype=np.float64)
    s1, s2 = float(box1[8]), float(box2[8])
    out[:8] = (s1 * box1[:8] + s2 * box2[:8]) / (s1 + s2)
    out[8] = s1 + s2
    return out


def standard_nms(boxes: list[np.ndarray], threshold: float) -> np.ndarray:
    """Greedy score-descending NMS; suppress IoU >= threshold."""
    pending = sorted((np.asarray(b, dtype=np.float64) for b in boxes),
                     key=lambda b: float(b[8]), reverse=True)
    kept: list[np.ndarray] = []
    while pending:
        best = pending.pop(0)
        kept.append(best)
        pending = [b for b in pending if box_iou(best, b) < threshold]
    return np.array(kept)


def locality_aware_nms(
    boxes: np.ndarray | list[np.ndarray], threshold: float = 0.3
) -> np.ndarray:
    """Row-merge pass (weighted merge of consecutive overlapping boxes)
    followed by standard NMS — (N,9) in, (M,9) out."""
    merged: list[np.ndarray] = []
    current: np.ndarray | None = None
    for g in boxes:
        g = np.asarray(g, dtype=np.float64)
        if current is not None and box_iou(g, current) > threshold:
            current = weighted_merge(g, current)
        else:
            if current is not None:
                merged.append(current)
            current = g
    if current is not None:
        merged.append(current)
    if not merged:
        return np.zeros((0, 9))
    return standard_nms(merged, threshold)
