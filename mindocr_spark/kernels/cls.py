"""Angle-classification scorer: crop -> probs over {0, 180}.

Contract matches the reference's MobileNetV3 cls head output ``[BS, 2]``
(``mindocr/postprocess/cls_postprocess.py:6-27``). Deterministic stand-in
combining two orientation cues:

1. template-match quality of the crop vs its 180-degree rotation — upright
   text matches the glyph raster better than upside-down text;
2. baseline alignment — upright glyphs share a baseline (bottom edges
   aligned, top edges vary with ascenders), flipped text has the variance on
   the other edge. This disambiguates words whose glyphs are individually
   near-180-symmetric (e.g. ``upside`` -> ``aplsdn``-ish), where cue 1 alone
   is blind.

Rotation is applied downstream only when label=='180' and conf >= thresh
(reference ``predict_system.py:300-304``).
"""

from __future__ import annotations

import numpy as np

_SHARPEN = 24.0
_ALIGN_K = 0.5  # weight on the baseline-alignment evidence (px^2 variance)

Analysis = list  # [(box, sims)] from rec.analyze_crop


def _var(a: np.ndarray) -> float:
    """``a.var()`` by the ufunc steps numpy's ``_var`` takes (add-reduce,
    divide, subtract, square, add-reduce, divide): the same bits without
    the method's dispatch and keepdims wrapping. A python sum would not
    follow numpy's pairwise summation order."""
    n = len(a)
    dev = a - np.add.reduce(a) / n
    return float(np.add.reduce(dev * dev) / n)


def _orientation_evidence(analysis: Analysis) -> tuple[float, float]:
    """Returns (mean template similarity, alignment = var(tops)-var(bottoms)).

    Positive alignment = bottom edges more consistent than top edges =
    upright-looking.
    """
    if not analysis:
        return 0.0, 0.0
    n = len(analysis)
    sims = np.array([s.max() for _b, s in analysis], dtype=np.float64)
    edges = np.array([b[:2] for b, _s in analysis], dtype=np.float64)
    align = _var(edges[:, 0]) - _var(edges[:, 1])
    return float(np.add.reduce(sims) / n), align


def cls_probs_from_analyses(up_analysis: Analysis, flip_analysis: Analysis) -> np.ndarray:
    s0, align0 = _orientation_evidence(up_analysis)
    s180, align180 = _orientation_evidence(flip_analysis)
    if s0 <= 0.0 and s180 <= 0.0:
        return np.array([1.0, 0.0], dtype=np.float32)
    a = s0**_SHARPEN * np.exp(np.clip(_ALIGN_K * align0, -20.0, 20.0))
    b = s180**_SHARPEN * np.exp(np.clip(_ALIGN_K * align180, -20.0, 20.0))
    if a + b <= 0.0:
        return np.array([1.0, 0.0], dtype=np.float32)
    return np.array([a / (a + b), b / (a + b)], dtype=np.float32)
