"""The remaining recognition decode heads: Master, SAR,
ABINet, VisionLAN — pure-numpy, reference-exact.

These complete SURVEY §2.8's decode family beyond CTC
(``functions/ctc.py``) and RARE-attention (``functions/attn.py``).  The
NN forwards stay excluded (§2.13); what each class contributes beyond its
network is a distinct DECODE contract — vocabulary layout, stop/pad
semantics, confidence formula — and those are carried here exactly:

- ``master_decode`` — ``RecMasterLabelDecode``
  (``mindocr/postprocess/rec_postprocess.py:363-460``): vocabulary
  ``[<GO>, <STOP>, <PAD>] + chars (+ <UNKNOWN>)``, decode inherited from
  ``RecAttnLabelDecode`` (:318-347): cut at the first ``<STOP>``, join
  the tokens before it verbatim (a ``<PAD>`` inside the prefix is emitted
  literally, as the reference's dict-join does), confidence = mean of the
  per-step probabilities before the stop, ``[0]`` when no stop.
- ``sar_decode`` — ``SARLabelDecode`` (:494-547): vocabulary
  ``chars + [<UKN>, <BOS/EOS>, <PAD>]`` with start == end index, skip
  ``<PAD>``, break at ``<BOS/EOS>``; rm_symbol off, the reference
  default.
- ``abinet_decode`` — ``ABINetLabelDecode``
  (``rec_abinet_postprocess.py:15-55``) over ``CharsetMapper``
  (``models/utils/abinet_layers.py:97-128``): charset
  ``'░abcdefghijklmnopqrstuvwxyz1234567890'`` with the null char at
  index 0, softmax -> per-step argmax -> text cut at the first null,
  length = min(len(text)+1, ABINET_MAX_LENGTH).
- ``visionlan_decode`` — ``VisionLANPostProcess`` (:399-491): blank at
  index 0, per-sample length = first step whose argmax is blank (+1),
  else VISIONLAN_MAX_TEXT_LENGTH; softmax over the kept steps; chars for idx > 0
  (blank contributes ''); confidence = exp(sum(log p) / (n + 1e-6)) —
  the reference's length-normalized geometric mean.
"""

from __future__ import annotations

import numpy as np

from ..config import CHARSET, REC_VOCABS

# --- Master -----------------------------------------------------------------

MASTER_STOP_IDX = REC_VOCABS["master"].index("<STOP>")
MASTER_UNKNOWN_TOKEN = "<UNKNOWN>"


def master_charset(use_unknown_char: bool = False) -> list[str]:
    chars = list(REC_VOCABS["master"])
    if use_unknown_char:
        chars.append(MASTER_UNKNOWN_TOKEN)
    return chars


def master_decode(
    char_indices: np.ndarray,
    probs: np.ndarray,
    use_unknown_char: bool = False,
) -> tuple[list[str], list[float]]:
    """(B, T) indices -> (texts, confs), RecAttnLabelDecode.decode over
    the Master vocabulary."""
    chars = master_charset(use_unknown_char)
    texts: list[str] = []
    confs: list[float] = []
    for b in range(len(char_indices)):
        toks = [chars[int(i)] for i in char_indices[b]]
        eos = toks.index("<STOP>") if "<STOP>" in toks else -1
        texts.append("".join(toks[:eos]) if eos != -1 else "")
        conf = probs[b][:eos] if eos != -1 else [0]
        confs.append(float(np.mean(conf)) if len(conf) else float("nan"))
    return texts, confs


# --- SAR --------------------------------------------------------------------

SAR_UNKNOWN_IDX, SAR_END_IDX, SAR_PADDING_IDX = (
    REC_VOCABS["sar"].index(t) for t in ("<UKN>", "<BOS/EOS>", "<PAD>")
)


def sar_decode(
    char_indices: np.ndarray, probs: np.ndarray
) -> tuple[list[str], list[float]]:
    """(B, T) indices -> (texts, confs), SARLabelDecode.decode semantics:
    skip padding, break at <BOS/EOS>, conf = mean of kept-step
    probabilities."""
    chars = REC_VOCABS["sar"]
    texts: list[str] = []
    confs: list[float] = []
    for b in range(len(char_indices)):
        kept: list[str] = []
        conf: list[float] = []
        for idx, ci in enumerate(char_indices[b]):
            ci = int(ci)
            if ci == SAR_PADDING_IDX:
                continue
            if ci == SAR_END_IDX:
                break
            kept.append(chars[ci])
            conf.append(float(probs[b][idx]))
        texts.append("".join(kept))
        confs.append(float(np.mean(conf)) if conf else float("nan"))
    return texts, confs


# --- ABINet -----------------------------------------------------------------

ABINET_CHARSET = "░abcdefghijklmnopqrstuvwxyz1234567890"
ABINET_NULL_CHAR = "░"
ABINET_MAX_LENGTH = 26


def abinet_decode(logits: np.ndarray) -> dict:
    """(B, T, 37) raw logits -> {"texts", "scores", "lengths"}:
    softmax, argmax per step via CharsetMapper, text cut at the first
    null char and trimmed; scores = per-step max probabilities; length =
    min(len(text) + 1, ABINET_MAX_LENGTH) (one for the end token)."""
    logits = np.asarray(logits, dtype=np.float64)
    e = np.exp(logits - logits.max(axis=2, keepdims=True))
    soft = e / e.sum(axis=2, keepdims=True)
    texts: list[str] = []
    scores: list[np.ndarray] = []
    lengths: list[int] = []
    for o in soft:
        ids = o.argmax(axis=1)
        raw = "".join(ABINET_CHARSET[int(i)] for i in ids)
        text = raw.split(ABINET_NULL_CHAR)[0]
        texts.append(text.replace(ABINET_NULL_CHAR, ""))
        scores.append(o.max(axis=1))
        lengths.append(min(len(text) + 1, ABINET_MAX_LENGTH))
    return {"texts": texts, "scores": scores, "lengths": lengths}


# --- VisionLAN --------------------------------------------------------------


VISIONLAN_MAX_TEXT_LENGTH = 25  # VisionLANPostProcess max_text_length


def visionlan_decode(text_pre: np.ndarray) -> dict:
    """(B, T, C) PRE-softmax step scores with the blank at index 0
    (blank_at_last=False) -> {"texts", "confs", "raw_chars"}.

    Per sample: prediction length = 1 + the first step whose top-1 class
    is blank (``VISIONLAN_MAX_TEXT_LENGTH`` when blank never wins); softmax over the
    kept steps; characters for indices in [1, num_chars], blank -> '';
    confidence = exp(sum(log p_top1) / (n + 1e-6))."""
    text_pre = np.asarray(text_pre, dtype=np.float64)
    b = text_pre.shape[0]
    nsteps = VISIONLAN_MAX_TEXT_LENGTH
    texts: list[str] = []
    confs: list[float] = []
    raw_chars: list[list[str]] = []
    for i in range(b):
        steps = text_pre[i][:nsteps]
        ids = steps.argmax(axis=1)
        blank_hits = np.nonzero(ids == 0)[0]
        length = int(blank_hits[0]) + 1 if len(blank_hits) else nsteps
        kept = steps[:length]
        e = np.exp(kept)
        soft = e / (e.sum(axis=1, keepdims=True) + 1e-7)
        top = soft.argmax(axis=1)
        chars = [
            CHARSET[int(t) - 1] if 0 < int(t) <= len(CHARSET) else ""
            for t in top
        ]
        probs = soft.max(axis=1)
        conf = float(np.exp(np.log(probs).sum() / (probs.shape[0] + 1e-6)))
        texts.append("".join(chars))
        raw_chars.append(chars)
        confs.append(conf)
    return {"texts": texts, "confs": confs, "raw_chars": raw_chars}

