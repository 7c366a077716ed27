"""KIE (SER/RE) decode + metric tests.

The pure-python kernels in functions/kie.py carry the reference
semantics (kie_ser_postprocess.py, kie_utils.py, seqeval as used by
kie_metrics.py); the pure-Catalyst operators must agree with them
row-for-row on the deterministic token table — that plus the DuckDB
hash oracle (driver gate) pins both engines to the reference behavior.
"""

import json

from pyspark.sql import functions as F

from mindocr_spark.functions import kie as K
from mindocr_spark.operators import kie as ops

SF = "/root/testdata/sf0.001"


def test_bio_label_maps_reference_semantics():
    # kie_utils.py:7-27: O first, B/I pairs, OTHER-family skipped, upper
    l2i, i2l = K.bio_label_maps(["question", "answer", "OTHER", "header"])
    assert i2l == {
        0: "O",
        1: "B-QUESTION", 2: "I-QUESTION",
        3: "B-ANSWER", 4: "I-ANSWER",
        5: "B-HEADER", 6: "I-HEADER",
    }
    assert l2i["B-ANSWER"] == 3


def test_segment_vote_tie_and_empty():
    # kie_ser_postprocess.py:63-81: I folds onto B (id-1), bincount+argmax
    # resolves ties to the LOWEST id, an empty segment decodes to 0
    #              seg1: I-Q(2)->1, B-A(3)->3  tie -> 1
    #              seg2: empty
    #              seg3: B-H(5), I-H(6)->5, O(0): majority 5
    out = K.ser_segment_vote([2, 3, 5, 6, 0], [2, 2, 5])
    assert out == [1, 0, 5]
    assert K.show_label(1, ops.CLASSES) == "QUESTION"
    assert K.show_label(0, ops.CLASSES) == "O"


def test_get_entities_seqeval_rules():
    tags = ["B-Q", "I-Q", "O", "I-A", "I-A", "B-A", "I-Q", "I-Q"]
    # I-A after O starts a chunk (seqeval leniency); B-A closes it;
    # I-Q after B-A is a type change -> new chunk
    assert K.get_entities(tags) == [
        ("Q", 0, 1), ("A", 3, 4), ("A", 5, 5), ("Q", 6, 7)
    ]
    assert K.get_entities(["I-X"]) == [("X", 0, 0)]
    assert K.get_entities(["O", "O"]) == []
    tp, np_, ng = K.seqeval_prf(
        [["B-Q", "I-Q", "O"]], [["B-Q", "I-Q", "B-A"]]
    )
    assert (tp, np_, ng) == (1, 2, 1)


def _collect_sequences(spark):
    t = ops.ser_tokens(ops._docs(spark, SF)).orderBy("doc_id", "pos")
    rows = t.collect()
    seqs: dict = {}
    for r in rows:
        seqs.setdefault(r.doc_id, []).append(r)
    return seqs


def _tag(prefix, cls):
    return "O" if cls == ops.O_CLASS else f"{prefix}-{ops.CLASSES[cls]}"


def test_spark_seqeval_metric_equals_kernel(spark):
    seqs = _collect_sequences(spark)
    gt_seqs = [
        [_tag(r.gt_prefix, r.gt_class) for r in rs] for rs in seqs.values()
    ]
    pred_seqs = [
        [_tag(r.pred_prefix, r.pred_class) for r in rs] for rs in seqs.values()
    ]
    tp, n_pred, n_gt = K.seqeval_prf(gt_seqs, pred_seqs)
    row = ops.ser_seqeval_metric(spark, SF).collect()[0]
    assert (row.tp, row.n_pred, row.n_gt) == (tp, n_pred, n_gt)
    assert row.precision_bp == 10000 * tp // n_pred
    assert row.hmean_bp == 20000 * tp // (n_pred + n_gt)
    assert 0 < row.hmean_bp < 10000  # corruption schedule is non-trivial


def test_spark_entity_labels_equal_kernel_vote(spark):
    seqs = _collect_sequences(spark)
    expected = {}
    for doc_id, rs in seqs.items():
        pred_ids = [
            0 if r.pred_class == ops.O_CLASS
            else 1 + 2 * r.pred_class + (0 if r.pred_prefix == "B" else 1)
            for r in rs
        ]
        offsets, segs = [], sorted({r.segment_id for r in rs})
        for s in segs:
            offsets.append(max(i + 1 for i, r in enumerate(rs) if r.segment_id == s))
        votes = K.ser_segment_vote(pred_ids, offsets)
        for s, v in zip(segs, votes):
            expected[(doc_id, s)] = (v, K.show_label(v, ops.CLASSES))
    got = {
        (r.doc_id, r.segment_id): (r.pred_id, r.pred_label)
        for r in ops.ser_entity_labels(spark, SF).collect()
    }
    assert got == expected


def test_re_link_metric_bounded_and_consistent(spark):
    row = ops.re_link_metric(spark, SF).collect()[0]
    assert row.tp > 0 and row.fp > 0 and row.fn > 0
    assert row.precision_bp == 10000 * row.tp // (row.tp + row.fp)
    assert row.hmean_bp == 20000 * row.tp // (2 * row.tp + row.fp + row.fn)


def test_xfund_entities_file_decode_roundtrip(spark):
    """The XFUND driver query (round 5): render-from-documents -> wholetext
    JSON decode -> double explode must reproduce the segment table's
    structure exactly, with RE links mirrored on both endpoints."""
    df = ops.xfund_entities(spark, SF).toPandas()
    # one entity per ser_tokens segment
    segs = (
        ops.ser_tokens(ops._docs(spark, SF))
        .select("doc_id", "segment_id")
        .distinct()
    )
    assert len(df) == segs.count()
    # label arithmetic: class = (doc_id + segment_id*7) % 4
    for _, r in df.head(200).iterrows():
        doc_id = int(r["doc_id"].removeprefix("doc_"))
        cls = (doc_id + int(r["entity_id"]) * 7) % 4
        assert r["label"] == ops.XFUND_CLASS_NAMES[cls]
        assert r["fname"] == f"doc_{doc_id}.png"
        assert int(r["x2"]) > int(r["x1"]) and int(r["y2"]) == int(r["y1"]) + 24
    # linking mirror: every question link appears verbatim on its answer
    links = {}
    for _, r in df.iterrows():
        if r["links_json"] != "[]":
            links.setdefault(r["doc_id"], []).append(
                (int(r["entity_id"]), r["links_json"])
            )
    assert links, "corpus must produce RE links"
    for doc, ents in links.items():
        by_id = dict(ents)
        for ent_id, lj in ents:
            (q, a), = json.loads(lj)
            assert a == q + 3
            assert by_id.get(q) == lj and by_id.get(a) == lj
