"""KIE (key information extraction) decode + metric kernels.

Pure-python/numpy reference semantics for the SER/RE postprocess family:

- ``bio_label_maps``: BIO label-map construction, matching the
  reference's ``load_vqa_bio_label_maps`` (``mindocr/utils/
  kie_utils.py:7-27``): "O" first, then B-/I- pairs per class, classes
  named OTHER/OTHERS/IGNORE skipped, everything upper-cased.
- ``ser_segment_vote``: the SER inference decode
  (``mindocr/postprocess/kie_ser_postprocess.py:58-83`` ``_infer``):
  per-segment majority vote over token predictions with I-X folded onto
  B-X first; ties resolve to the LOWEST label id (numpy bincount+argmax
  returns the first maximum); an empty segment decodes to id 0 ("O").
- ``get_entities`` / ``seqeval_prf``: entity-level precision/recall/F1
  with seqeval's chunk-extraction rules — the metric the reference
  computes via ``seqeval.metrics`` in ``VQASerTokenMetric``
  (``mindocr/metrics/kie_metrics.py:17-67``).  For the B/I/O tag set a
  chunk starts at tag B, at I following O (seqeval is lenient there),
  and at any non-O tag whose type differs from its predecessor's.

These kernels are the ground truth the pure-Catalyst operators in
``operators/kie.py`` are tested against (the Spark side needs no UDFs —
windowed cumulative sums express the same chunking — so unlike the
image kernels there is no shared-UDF path, only shared semantics).
"""

from __future__ import annotations

import numpy as np

SKIP_CLASSES = {"OTHER", "OTHERS", "IGNORE"}


def bio_label_maps(classes: list[str]) -> tuple[dict[str, int], dict[int, str]]:
    """["question", ...] -> (label2id, id2label) with O=0 and B-/I- pairs.

    Mirrors ``load_vqa_bio_label_maps`` (kie_utils.py:7-27)."""
    labels = ["O"]
    for c in classes:
        cu = c.upper()
        if cu in SKIP_CLASSES:
            continue
        labels.append("B-" + cu)
        labels.append("I-" + cu)
    label2id = {lab: i for i, lab in enumerate(labels)}
    id2label = {i: lab for i, lab in enumerate(labels)}
    return label2id, id2label


def fold_to_b(label_id: int) -> int:
    """I-X id -> B-X id; O and B-X unchanged (label2id_map_for_draw,
    kie_ser_postprocess.py:17-21: ids are O=0 then B,I alternating, so
    every even id > 0 is an I- tag)."""
    return label_id - 1 if label_id > 0 and label_id % 2 == 0 else label_id


def ser_segment_vote(
    pred_ids: list[int] | np.ndarray, segment_offsets: list[int]
) -> list[int]:
    """Per-segment majority vote over folded token prediction ids.

    ``segment_offsets[i]`` is the EXCLUSIVE end of segment i (the
    reference's ``segment_offset_ids``); returns one folded (B-/O) label
    id per segment.  kie_ser_postprocess.py:63-81 exactly: bincount +
    argmax (tie -> lowest id), empty segment -> 0."""
    out = []
    start = 0
    for end in segment_offsets:
        seg = [fold_to_b(int(p)) for p in pred_ids[start:end]]
        if not seg:
            out.append(0)
        else:
            out.append(int(np.argmax(np.bincount(seg))))
        start = end
    return out


def show_label(folded_id: int, classes: list[str]) -> str:
    """Folded id -> display label (id2label_map_for_show: B-X shows X)."""
    if folded_id == 0:
        return "O"
    return classes[(folded_id - 1) // 2].upper()


def get_entities(tags: list[str]) -> list[tuple[str, int, int]]:
    """seqeval chunk extraction for B/I/O tags: (type, start, end)
    inclusive token positions."""
    ents: list[tuple[str, int, int]] = []
    prev_tag, prev_type = "O", ""
    start = -1
    for i, tag in enumerate(tags):
        if tag == "O":
            cur_tag, cur_type = "O", ""
        else:
            cur_tag, cur_type = tag.split("-", 1)
        begins = cur_tag == "B" or (
            cur_tag == "I" and (prev_tag == "O" or prev_type != cur_type)
        )
        if begins:
            if start >= 0:
                ents.append((prev_type, start, i - 1))
            start = i
        elif cur_tag == "O" and start >= 0:
            ents.append((prev_type, start, i - 1))
            start = -1
        prev_tag, prev_type = cur_tag, cur_type
    if start >= 0:
        ents.append((prev_type, start, len(tags) - 1))
    return ents


def seqeval_prf(
    gt_seqs: list[list[str]], pred_seqs: list[list[str]]
) -> tuple[int, int, int]:
    """(tp, n_pred, n_gt) entity counts across sequences — seqeval's
    precision = tp/n_pred, recall = tp/n_gt, f1 = 2tp/(n_pred+n_gt)."""
    tp = n_pred = n_gt = 0
    for gt, pred in zip(gt_seqs, pred_seqs):
        g = set(get_entities(gt))
        p = set(get_entities(pred))
        tp += len(g & p)
        n_gt += len(g)
        n_pred += len(p)
    return tp, n_pred, n_gt
