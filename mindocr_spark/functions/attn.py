"""Attention-head label decode (the reference's ``RecAttnLabelDecode``,
``mindocr/postprocess/rec_postprocess.py:255-366``).

Class layout: index 0 = <GO>, index 1 = <STOP>, then the character dict —
``num_classes = 2 + len(CHARSET)``. Decode semantics follow the reference
exactly: argmax per step, cut at the first <STOP>, text = the chars before
it (a predicted <GO> inside the prefix is emitted literally, as the
reference's dict-join does), confidence = mean of the per-step max
probabilities before <STOP>; no <STOP> anywhere -> empty text with the
reference's sentinel confidence 0.0.
"""

from __future__ import annotations

import numpy as np

from ..config import REC_VOCABS

_CHARS = REC_VOCABS["attn"]
ATTN_GO_IDX = _CHARS.index("<GO>")
ATTN_STOP_IDX = _CHARS.index("<STOP>")
ATTN_NUM_CLASSES = len(_CHARS)


def attn_greedy_decode(logits: np.ndarray) -> tuple[str, float]:
    """logits: (T, 2 + num_chars) float. Returns (text, confidence)."""
    if logits.size == 0:
        return "", 0.0
    ids = logits.argmax(axis=1)
    probs = logits[np.arange(len(ids)), ids]
    stop = np.nonzero(ids == ATTN_STOP_IDX)[0]
    if len(stop) == 0:
        return "", 0.0
    eos = int(stop[0])
    text = "".join(_CHARS[i] for i in ids[:eos])
    if eos == 0:
        return "", 0.0
    conf = float(np.asarray(probs[:eos], dtype=np.float32).mean())
    return text, conf

