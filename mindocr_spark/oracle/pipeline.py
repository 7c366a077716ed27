"""Single-process oracle: the same extraction the Spark plan computes,
executed sequentially in plain pandas/numpy (SURVEY.md §5 test strategy).

Mirrors the reference's per-image loop (``predict_system.py:405-421``)
lifted to the interleaved-document level: text spans -> boilerplate strip;
media spans -> decode -> detect -> crop -> cls -> rec -> drop-score merge;
per-document reassembly ordered by span offset. Shares every kernel
bit-for-bit with the Spark UDFs, so span-sequence equality is exact.

Output rows: ``(doc_id, out_spans)`` with
``out_spans = [{kind, text, media_ref, order}]`` ordered by input offset
rank (FIXTURES.md F6).
"""

from __future__ import annotations

import pandas as pd

from ..functions.html_text import extract_main_text
from ..kernels.system import media_payload_text


def extract_documents_oracle(
    spans_df: pd.DataFrame, media_df: pd.DataFrame
) -> pd.DataFrame:
    """spans_df: (doc_id, spans list[dict]); media_df: (media_ref, image).

    Returns (doc_id, out_spans list[dict]) sorted by doc_id.
    """
    profiles = (
        media_df["profile"]
        if "profile" in media_df.columns
        else [None] * len(media_df)
    )
    media_lookup = {
        ref: (img, prof)
        for ref, img, prof in zip(media_df["media_ref"], media_df["image"], profiles)
    }
    out_rows = []
    for _, row in spans_df.iterrows():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        out_spans = []
        for order, span in enumerate(spans):
            if span["kind"] == "text":
                text = extract_main_text(span["text"])
                media_ref = None
            else:
                payload, prof = media_lookup.get(span["media_ref"], (None, None))
                text = media_payload_text(payload, profile=prof)
                media_ref = span["media_ref"]
            out_spans.append(
                {
                    "kind": span["kind"],
                    "text": text,
                    "media_ref": media_ref,
                    "order": order,
                }
            )
        out_rows.append({"doc_id": row["doc_id"], "out_spans": out_spans})
    return (
        pd.DataFrame(out_rows, columns=["doc_id", "out_spans"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
