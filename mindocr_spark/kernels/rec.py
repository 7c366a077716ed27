"""Recognition scorer: crop -> per-head logits via glyph template matching.

``rec_resize_norm`` mirrors RecResizeNormForInfer (keep-ratio resize to
target height 32, width capped at ``target_h * max_wh_ratio``;
``mindocr/data/transforms/rec_transforms.py:548-636``).

``analyze_crop`` is the deterministic stand-in for a rec forward: the
binarized crop is segmented into ink column-runs (glyph candidates), each
glyph is area-resampled to the 7x5 font grid and matched against all 36
templates. ``head_logits`` frames those scores as a ``[T, num_classes]``
prob array in one head's contract (``rec_postprocess.py:139-157``):
``REC_HEADS`` holds each head of the reference's rec model zoo (CTC,
attention, Master, SAR) as its class layout, the token framing the glyph
steps and its greedy decode, so the reference decoders apply unchanged.
Confidence therefore equals the mean template-match similarity of the kept
characters — garbage crops score low and fall to the drop-score filter.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache
from typing import NamedTuple

import numpy as np

from ..config import CHARSET, REC_MAX_WH_RATIO, REC_TARGET_HEIGHT, REC_VOCABS
from ..functions.attn import attn_greedy_decode
from ..functions.ctc import ctc_greedy_decode
from ..functions.glyphs import GLYPH_H, GLYPH_W, templates
from ..functions.imaging import resize_bilinear, runs
from ..functions.rec_decoders import master_decode, sar_decode

_INK_THRESH = 128.0


def rec_resize_norm(crop: np.ndarray) -> np.ndarray:
    """Crop (float gray) -> float32 (32, W') keep-ratio, W' capped. An empty
    crop (a degenerate box, ``imaging.warp_perspective_crop``) gives an
    empty (32, 0) image: no glyphs, so no text."""
    h, w = crop.shape[:2]
    if h == 0 or w == 0:
        return np.zeros((REC_TARGET_HEIGHT, 0), dtype=np.float32)
    target_h = REC_TARGET_HEIGHT
    ratio = target_h / max(h, 1)
    target_w = max(1, int(round(w * ratio)))
    max_w = int(target_h * REC_MAX_WH_RATIO)
    target_w = min(target_w, max_w)
    return resize_bilinear(crop, target_h, target_w)


@lru_cache(maxsize=4096)
def _area_grid(h: int, w: int, out_h: int, out_w: int):
    ys = np.linspace(0.0, float(h), out_h + 1)
    xs = np.linspace(0.0, float(w), out_w + 1)
    y0 = np.minimum(ys.astype(np.int64), h)
    x0 = np.minimum(xs.astype(np.int64), w)
    y1 = np.minimum(y0 + 1, h)
    x1 = np.minimum(x0 + 1, w)
    fy = (ys - y0)[:, None]
    fx = (xs - x0)[None, :]
    areas = np.outer(np.diff(ys), np.diff(xs))
    return y0, x0, y1, x1, fy, fx, areas


def area_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact area-average resample (like cv2 INTER_AREA) via the integral
    image evaluated (bilinearly — exact for piecewise-constant pixels) at
    fractional cell boundaries."""
    h, w = img.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(img, axis=0, dtype=np.float64, out=ii[1:, 1:])
    np.cumsum(ii[1:, 1:], axis=1, out=ii[1:, 1:])

    y0, x0, y1, x1, fy, fx, areas = _area_grid(h, w, out_h, out_w)
    yi0 = y0[:, None]
    yi1 = y1[:, None]
    a = ii[yi0, x0[None, :]]
    b = ii[yi0, x1[None, :]]
    c = ii[yi1, x0[None, :]]
    d = ii[yi1, x1[None, :]]
    top = a + (b - a) * fx
    bot = c + (d - c) * fx
    grid = top + (bot - top) * fy
    cell = grid[1:, 1:] - grid[:-1, 1:] - grid[1:, :-1] + grid[:-1, :-1]
    return (cell / areas).astype(np.float32)


def _segment_glyphs(ink: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Binary ink mask -> list of glyph boxes (y0, y1, x0, x1) from column
    runs; each run's row extent is its own ink bounding rows.

    One ``logical_or.reduceat`` gives every run's per-row ink at once: a
    segment from one run's start to the next also spans the ink-free gap
    between them, which adds nothing."""
    starts, ends = runs(ink.any(axis=0))
    if not len(starts):
        return []
    rows = np.logical_or.reduceat(ink, starts, axis=1)  # (h, runs)
    top = rows.argmax(axis=0)
    bottom = len(rows) - rows[::-1].argmax(axis=0)
    return list(zip(top.tolist(), bottom.tolist(), starts.tolist(), ends.tolist()))


_BBOX_TEMPLATES: np.ndarray | None = None


def _bbox_templates() -> np.ndarray:
    """Templates cropped to their own ink bbox then resampled to 7x5 — the
    shape-normalized frame glyph patches are compared in (a crop carries no
    baseline metadata, so matching must be translation/scale invariant)."""
    global _BBOX_TEMPLATES
    if _BBOX_TEMPLATES is None:
        out = []
        for t in templates():
            rows = np.nonzero(t.any(axis=1))[0]
            cols = np.nonzero(t.any(axis=0))[0]
            patch = t[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
            out.append(area_resize(patch.astype(np.float32), GLYPH_H, GLYPH_W) >= 0.5)
        _BBOX_TEMPLATES = np.stack(out).astype(np.float32)
    return _BBOX_TEMPLATES


# Cross-row memo: rendered corpora draw from a fixed glyph set, so the same
# ink patch recurs across crops/rows/images — one resample+match per distinct
# patch instead of one per occurrence (the "batch the numpy kernels across
# rows" lever: work is shared at patch granularity). Keyed by exact bytes, so
# a hit returns the bit-identical scores the cold path would; bounded size.
_MATCH_CACHE: dict[tuple[tuple[int, ...], bytes], np.ndarray] = {}
_MATCH_CACHE_MAX = 65536


def match_glyph(patch_ink: np.ndarray) -> np.ndarray:
    """Binary glyph patch (its own ink bbox) -> similarity scores (36,)."""
    key = (patch_ink.shape, patch_ink.tobytes())
    hit = _MATCH_CACHE.get(key)
    if hit is not None:
        return hit
    grid = area_resize(patch_ink.astype(np.float32), GLYPH_H, GLYPH_W)
    bitmap = (grid >= 0.5).astype(np.float32)
    t = _bbox_templates()  # (36,7,5)
    scores = 1.0 - np.abs(t - bitmap[None]).mean(axis=(1, 2))
    if len(_MATCH_CACHE) < _MATCH_CACHE_MAX:
        _MATCH_CACHE[key] = scores
    return scores


def analyze_crop(
    resized_crop: np.ndarray,
) -> list[tuple[tuple[int, int, int, int], np.ndarray]]:
    """Segment a resized crop into glyph boxes and match each against all
    templates. The single shared analysis consumed by BOTH the angle
    classifier (orientation evidence) and the recognizer (head logits) — one
    pass instead of three per crop."""
    ink = resized_crop < _INK_THRESH
    return [
        ((y0, y1, x0, x1), match_glyph(ink[y0:y1, x0:x1]))
        for (y0, y1, x0, x1) in _segment_glyphs(ink)
    ]


def _batch_of_one(batch_decode):
    """Greedy decode of one (T, C) probs sequence through a reference batch
    decoder: the per-step argmax ids and max probs as a batch of one."""

    def decode(logits: np.ndarray) -> tuple[str, float]:
        texts, confs = batch_decode(
            logits.argmax(axis=1)[None], logits.max(axis=1)[None]
        )
        return texts[0], float(confs[0])

    return decode


class RecHead(NamedTuple):
    """One rec head over the shared crop analysis: its class layout, the
    token framing the glyph steps (``between``: a CTC blank before and after
    every glyph step; else one stop step after the last) and its greedy
    decode of one (T, C) probs sequence."""

    vocab: tuple[str, ...]
    frame: str
    between: bool
    decode: Callable[[np.ndarray], tuple[str, float]]


REC_HEADS = {
    "ctc": RecHead(REC_VOCABS["ctc"], "<blank>", True, ctc_greedy_decode),
    "attn": RecHead(REC_VOCABS["attn"], "<STOP>", False, attn_greedy_decode),
    "master": RecHead(
        REC_VOCABS["master"], "<STOP>", False, _batch_of_one(master_decode)
    ),
    "sar": RecHead(
        REC_VOCABS["sar"], "<BOS/EOS>", False, _batch_of_one(sar_decode)
    ),
}


def head_logits(
    analysis: list[tuple[tuple[int, int, int, int], np.ndarray]],
    head: str = "ctc",
) -> np.ndarray:
    """Glyph analyses -> (T, len(vocab)) float32 probs in ``head``'s
    contract: one step per glyph holding its template scores where
    ``CHARSET`` starts in the head's layout, framed by the head's token."""
    vocab, frame, between, _decode = REC_HEADS[head]
    n = len(analysis)
    out = np.zeros((2 * n + 1 if between else n + 1, len(vocab)), dtype=np.float32)
    frames, glyphs = (out[0::2], out[1::2]) if between else (out[n:], out[:n])
    frames[:, vocab.index(frame)] = 1.0
    start = vocab.index(CHARSET[0])
    for row, (_box, sims) in zip(glyphs, analysis):
        row[start : start + len(sims)] = sims
    return out


def recognize_analysis(
    analysis: list[tuple[tuple[int, int, int, int], np.ndarray]],
    head: str = "ctc",
) -> tuple[str, float]:
    """One crop's glyph analysis -> (text, confidence) under ``head``; an
    empty decode scores 0.0 under every head."""
    text, conf = REC_HEADS[head].decode(head_logits(analysis, head))
    return (text, conf) if text else ("", 0.0)


def rec_resize_padded(crop: np.ndarray) -> tuple[np.ndarray, float]:
    """``resize_norm_img`` (``rec_transforms.py:457-484``, the
    RecResizeImg/SVTR fixed-shape variant, padding=True): keep-ratio resize
    to height 32, right-pad with zeros to the FIXED width 320 (vs
    :func:`rec_resize_norm`'s variable width). Returns (float32 (32, 320),
    valid_ratio = resized_w / 320)."""
    import math

    img_h, img_w = REC_TARGET_HEIGHT, 320
    h, w = crop.shape[:2]
    ratio = w / float(max(h, 1))
    resized_w = img_w if math.ceil(img_h * ratio) > img_w else int(math.ceil(img_h * ratio))
    resized = resize_bilinear(crop, img_h, max(resized_w, 1))
    out = np.zeros((img_h, img_w), dtype=np.float32)
    out[:, : resized.shape[1]] = resized
    return out, min(1.0, float(resized_w / img_w))
