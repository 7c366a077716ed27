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


def valid_rec_label(
    text: str, max_text_len: int, charset: str | list[str] | None = None
) -> bool:
    """Keep-predicate for recognition labels: non-empty after filtering to
    the dictionary, and CTC-effective length within the budget."""
    chars = set(charset if charset is not None else CHARSET)
    filtered = "".join(c for c in text if c in chars)
    if not filtered:
        return False
    return ctc_effective_len(text) <= max_text_len


# --- training-label encodes -------------------------------------------------
# rec_transforms.py's deterministic label-encode transforms — the text ->
# index-sequence prep a training-data pipeline runs per crop label.

MAX_TEXT_LEN = 23  # the reference's RecCTCLabelEncode default


def str2idx(
    text: str,
    max_text_len: int = MAX_TEXT_LEN,
    lower: bool = False,
    charset: str | list[str] | None = None,
) -> list[int] | None:
    """``rec_transforms.str2idx`` (:420-453): None when empty or longer
    than the budget; out-of-dictionary characters are SKIPPED (no
    unknown substitution by default); None again when nothing valid
    remains."""
    if len(text) == 0 or len(text) > max_text_len:
        return None
    if lower:
        text = text.lower()
    chars = list(charset) if charset is not None else list(CHARSET)
    lut = {c: i for i, c in enumerate(chars)}
    idx = [lut[c] for c in text if c in lut]
    return idx or None


def ctc_label_encode(
    label: str, max_text_len: int = MAX_TEXT_LEN
) -> tuple[int, list[int]]:
    """``RecCTCLabelEncode.__call__`` (:112-135): (length, text_seq) with
    the sequence blank-padded to ``max_text_len``; invalid labels encode
    as length 0 / all-blank."""
    idx = str2idx(label, max_text_len) or []
    return len(idx), idx + [BLANK_IDX] * (max_text_len - len(idx))


def attn_label_encode(
    label: str, max_text_len: int = MAX_TEXT_LEN
) -> tuple[int, list[int]]:
    """``RecAttnLabelEncode.__call__`` (:304-318): character ids offset by
    the [<GO>, <STOP>] prefix of the attn vocabulary, framed as
    ``[GO] + ids + [STOP] + [GO]-padding`` (sequence length
    ``max_text_len + 2``)."""
    idx = str2idx(label, max_text_len) or []
    off = REC_VOCABS["attn"].index(CHARSET[0])
    ids = [i + off for i in idx]
    seq = (
        [ATTN_GO_IDX]
        + ids
        + [ATTN_STOP_IDX]
        + [ATTN_GO_IDX] * (max_text_len - len(ids))
    )
    return len(ids), seq
