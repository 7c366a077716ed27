"""Character-dictionary handling (reference ``rec_postprocess.py:57-99`` and
LMDB label filtering ``rec_lmdb_dataset.py:142-199``).

- ``load_char_dict``: one char per line; optional space char appended; the
  CTC blank is appended last (``blank_at_last``).
- ``ctc_effective_len``: a CTC decoder needs an extra timestep between
  consecutive duplicate characters, so the effective label length is
  ``len + #adjacent-duplicates`` (``count_extra_len_if_repeated``).
- ``valid_rec_label``: the reference's keep-predicate: effective length
  within ``max_text_len`` and at least one in-dictionary character.
"""

from __future__ import annotations

from ..config import BLANK_IDX, CHARSET, REC_VOCABS
from .attn import ATTN_GO_IDX, ATTN_STOP_IDX


def load_char_dict(path: str | None = None, use_space_char: bool = False) -> list[str]:
    """Returns the character list (without the blank); ``None`` path gives
    the default 36-char lowercase-alnum dict."""
    if path is None:
        chars = list(CHARSET)
    else:
        with open(path, encoding="utf-8") as f:
            chars = [line.rstrip("\n\r") for line in f if line.rstrip("\n\r") != ""]
    if use_space_char and " " not in chars:
        chars.append(" ")
    return chars


def ctc_effective_len(text: str) -> int:
    """len(text) plus one per adjacent duplicate pair (CTC needs a blank
    step between repeats)."""
    extra = sum(1 for a, b in zip(text, text[1:]) if a == b)
    return len(text) + extra


def valid_rec_label(text: str, max_text_len: int) -> bool:
    """Keep-predicate for recognition labels: non-empty after filtering to
    the dictionary, and CTC-effective length within the budget."""
    if not any(c in CHARSET for c in text):
        return False
    return ctc_effective_len(text) <= max_text_len


# --- training-label encodes -------------------------------------------------
# rec_transforms.py's deterministic label-encode transforms — the text ->
# index-sequence prep a training-data pipeline runs per crop label.

MAX_TEXT_LEN = 23  # the reference's RecCTCLabelEncode default


def str2idx(text: str) -> list[int] | None:
    """``rec_transforms.str2idx`` (:420-453) with the reference defaults
    (``max_text_len`` 23, ``lower=False``, the default dictionary): None
    when empty or longer than ``MAX_TEXT_LEN``; out-of-dictionary
    characters are SKIPPED (no unknown substitution); None again when
    nothing valid remains."""
    if len(text) == 0 or len(text) > MAX_TEXT_LEN:
        return None
    idx = [CHARSET.index(c) for c in text if c in CHARSET]
    return idx or None


def ctc_label_encode(label: str) -> tuple[int, list[int]]:
    """``RecCTCLabelEncode.__call__`` (:112-135): (length, text_seq) with
    the sequence blank-padded to ``MAX_TEXT_LEN``; invalid labels encode
    as length 0 / all-blank."""
    idx = str2idx(label) or []
    return len(idx), idx + [BLANK_IDX] * (MAX_TEXT_LEN - len(idx))


def attn_label_encode(label: str) -> tuple[int, list[int]]:
    """``RecAttnLabelEncode.__call__`` (:304-318): character ids offset by
    the [<GO>, <STOP>] prefix of the attn vocabulary, framed as
    ``[GO] + ids + [STOP] + [GO]-padding`` (sequence length
    ``MAX_TEXT_LEN + 2``)."""
    idx = str2idx(label) or []
    off = REC_VOCABS["attn"].index(CHARSET[0])
    ids = [i + off for i in idx]
    seq = (
        [ATTN_GO_IDX]
        + ids
        + [ATTN_STOP_IDX]
        + [ATTN_GO_IDX] * (MAX_TEXT_LEN - len(ids))
    )
    return len(ids), seq
