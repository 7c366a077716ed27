"""The correctness gate: Spark extraction == single-process oracle,
span-sequence equality (kind, text, media_ref, order) per document
(``BASELINE.json:north_rule`` / input_hint invariant)."""

import pytest

from mindocr_spark.oracle.pipeline import extract_documents_oracle
from mindocr_spark.plans.extract import extract, load_corpus


def _spans_tuples(out_spans):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in out_spans]


@pytest.fixture(scope="module")
def oracle_result(small_corpus):
    _, spans_pdf, media_pdf = small_corpus
    return extract_documents_oracle(spans_pdf, media_pdf)


@pytest.mark.parametrize(
    ("mode", "salt"), [("fused", 0), ("exploded", 0), ("fused", 4)]
)
def test_span_sequence_equality(spark, small_corpus, oracle_result, mode, salt):
    corpus_dir, _, _ = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    rows = (
        extract(spark, spans, media, mode=mode, salt_buckets=salt)
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == len(oracle_result)
    for row, (_, orow) in zip(rows, oracle_result.iterrows()):
        assert row["doc_id"] == orow["doc_id"]
        assert _spans_tuples(row["out_spans"]) == _spans_tuples(orow["out_spans"]), (
            row["doc_id"]
        )


def test_output_schema(spark, small_corpus):
    corpus_dir, _, _ = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    df = extract(spark, spans, media, mode="fused")
    fields = dict(df.dtypes)
    assert fields["doc_id"] == "string"
    assert (
        fields["out_spans"]
        == "array<struct<kind:string,text:string,media_ref:string,order:int>>"
    )


@pytest.mark.parametrize("mode", ["fused", "exploded"])
def test_unreadable_media_yields_empty_text(spark, small_corpus, mode):
    """Decode-failure skip semantics (decode_node.py:30-42)."""
    import pandas as pd

    corpus_dir, spans_pdf, media_pdf = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    # corrupt every image
    bad_media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": media_pdf["media_ref"],
                "image": [b"not a png" for _ in range(len(media_pdf))],
            }
        )
    )
    rows = extract(spark, spans, bad_media, mode=mode).collect()
    assert len(rows) == len(spans_pdf)
    for row in rows:
        for s in row["out_spans"]:
            if s["media_ref"] is not None:
                assert s["text"] == ""


@pytest.mark.parametrize("mode", ["fused", "exploded"])
def test_missing_media_yields_empty_span(spark, small_corpus, mode):
    """A media span whose media_ref is absent from the media table still
    appears, with empty text (decode-skip semantics)."""
    corpus_dir, _, _ = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    from pyspark.sql import functions as F

    half_media = media.filter(F.pmod(F.xxhash64("media_ref"), F.lit(2)) == 0)
    kept_refs = {r["media_ref"] for r in half_media.select("media_ref").collect()}
    rows = extract(spark, spans, half_media, mode=mode).collect()
    n_docs_in = spans.count()
    assert len(rows) == n_docs_in  # no document lost
    checked = 0
    for row in rows:
        for s in row["out_spans"]:
            if s["media_ref"] is not None and s["media_ref"] not in kept_refs:
                assert s["text"] == ""
                checked += 1
    assert checked > 0


def test_empty_spans_doc_survives(spark):
    """A document with spans=[] yields a row with out_spans=[]."""
    spans = spark.createDataFrame(
        [("doc_a", [("text", "<p>hello there</p>", None, 0)]), ("doc_b", [])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [], "media_ref string, image binary"
    )
    rows = {r["doc_id"]: r for r in extract(spark, spans, media, mode="fused").collect()}
    assert set(rows) == {"doc_a", "doc_b"}
    assert rows["doc_b"]["out_spans"] == []
    assert rows["doc_a"]["out_spans"][0]["text"] == "hello there"


def test_partitioning_invariance(spark, small_corpus):
    """Same result regardless of shuffle partitioning (no implicit-order
    dependence anywhere in the plan)."""
    corpus_dir, _, _ = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = extract(spark, spans.repartition(3), media.repartition(5), mode="fused").orderBy("doc_id").collect()
        spark.conf.set("spark.sql.shuffle.partitions", "23")
        b = extract(spark, spans.repartition(11), media.repartition(2), mode="exploded").orderBy("doc_id").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert [_spans_tuples(r["out_spans"]) for r in a] == [
        _spans_tuples(r["out_spans"]) for r in b
    ]


_SPAN_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


@pytest.mark.parametrize(
    ("mode", "salt"), [("fused", 0), ("exploded", 0), ("fused", 4)]
)
def test_media_join_back_edge_cases(spark, mode, salt):
    """Each media span gets its ref's text from the per-ref OCR table:
    a NULL ref, a ref absent from the media table and a junk payload read
    '', a ref shared by two spans of one document and by another document
    fills every span, and a PDF, a ruled table and an RGB page each take
    their route — exactly one output span per input span, in offset order."""
    import numpy as np

    from mindocr_spark.functions.glyphs import render_page, render_table
    from mindocr_spark.functions.pdf_text import make_simple_pdf
    from mindocr_spark.functions.png_codec import encode_png

    def gray(word):
        return render_page([(word, 30, 30)], 96, 224)[0]

    def page(word):
        return encode_png(gray(word))

    g = gray("delta")
    rgb_page = encode_png(np.stack([g, g, np.maximum(g, 60)], axis=-1))
    table = encode_png(render_table([["alpha", "beta"], ["one42", ""]])[0])

    spans = spark.createDataFrame(
        [
            ("doc_a", [
                ("media", None, "shared", 4),
                ("text", "<p>hello there</p>", None, 1),
                ("media", None, "shared", 0),
                ("media", None, None, 7),
                ("media", None, "absent", 5),
            ]),
            ("doc_b", [("media", None, "shared", 3), ("media", None, "own", 9)]),
            ("doc_c", [
                ("media", None, "junk", 8),
                ("media", None, "table", 2),
                ("media", None, "pdf", 0),
                ("media", None, "rgb", 5),
            ]),
        ],
        _SPAN_SCHEMA,
    )
    media = spark.createDataFrame(
        [
            ("shared", page("alpha")),
            ("own", page("beta")),
            ("unused", page("gamma")),
            ("pdf", make_simple_pdf(["routed text"])),
            ("table", table),
            ("rgb", rgb_page),
            ("junk", b"not a png"),
        ],
        "media_ref string, image binary",
    )
    rows = {
        r["doc_id"]: _spans_tuples(r["out_spans"])
        for r in extract(spark, spans, media, mode=mode, salt_buckets=salt).collect()
    }
    assert rows == {
        "doc_a": [
            ("media", "alpha", "shared", 0),
            ("text", "hello there", None, 1),
            ("media", "alpha", "shared", 2),
            ("media", "", "absent", 3),
            ("media", "", None, 4),
        ],
        "doc_b": [("media", "alpha", "shared", 0), ("media", "beta", "own", 1)],
        "doc_c": [
            ("media", "routed text", "pdf", 0),
            ("media", "alpha beta one42", "table", 1),
            ("media", "delta", "rgb", 2),
            ("media", "", "junk", 3),
        ],
    }


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution so far (-1 before the first): record
    it before the action under test, for ``_node_rows_of_last_execution``.
    The status store is fed by the async listener bus, so drain it first:
    an earlier action's execution must not show up only afterwards."""
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(k).executionId() for k in range(execs.size())), default=-1)


def _node_rows_of_last_execution(spark, desc_part: str, after: int) -> list[int]:
    """``number of output rows`` of every plan node whose description
    contains ``desc_part``, in the last SQL execution that has such a node
    among those started after execution ``after``: a later action's stats
    or lineage executions are skipped, an earlier action's never read."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()

    def matching_nodes(ex_id):
        nodes = store.planGraph(ex_id).allNodes()
        nodes = [nodes.apply(i) for i in range(nodes.size())]
        return [n for n in nodes if desc_part in n.desc()]

    execs = store.executionsList()
    ex_ids = [execs.apply(k).executionId() for k in range(execs.size())]
    ex_ids = sorted(e for e in ex_ids if e > after)
    ex_id = next((e for e in reversed(ex_ids) if matching_nodes(e)), None)
    assert ex_id is not None, f"no SQL execution after {after} has a {desc_part} node"
    deadline = time.monotonic() + 30
    # the listener bus aggregates an execution's metrics after it ends
    while store.execution(ex_id).get().completionTime().isEmpty():
        assert time.monotonic() < deadline, "SQL execution did not finish"
        time.sleep(0.1)
    it = store.executionMetrics(ex_id).iterator()
    values = {}
    while it.hasNext():
        kv = it.next()
        values[int(kv._1())] = kv._2()
    out = []
    for node in matching_nodes(ex_id):
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "number of output rows":
                out.append(int(values[int(m.accumulatorId())].replace(",", "")))
    return out


def _shared_ref_corpus(spark, corpus_dir):
    """The small corpus plus a copy of every document under a new doc_id:
    each ref is then referenced by at least two spans. Returns (spans,
    media, distinct non-null referenced refs, media spans with a ref)."""
    from pyspark.sql import functions as F

    spans, media = load_corpus(spark, corpus_dir)
    spans = spans.unionByName(spans.withColumn("doc_id", F.concat("doc_id", F.lit("_b"))))
    refs = (
        spans.select(F.explode("spans").alias("s"))
        .filter((F.col("s.kind") == "media") & F.col("s.media_ref").isNotNull())
        .select("s.media_ref")
    )
    return spans, media, refs.distinct().count(), refs.count()


def test_fused_ocr_runs_once_per_distinct_ref(spark, small_corpus, tmp_path):
    """The fused OCR UDF's output row count (a SQL metric of the written
    query) is the number of distinct referenced refs, not of media spans."""
    spans, media, n_refs, n_spans = _shared_ref_corpus(spark, small_corpus[0])
    assert 0 < n_refs < n_spans
    after = _last_execution_id(spark)
    extract(spark, spans, media, mode="fused").write.parquet(str(tmp_path / "out"))
    assert _node_rows_of_last_execution(spark, "ocr_fused_iter", after) == [n_refs]


def test_exploded_det_stage_emits_one_sentinel_per_ref(spark, small_corpus, tmp_path):
    """The exploded plan's det stage sees each distinct ref once: its
    ref rows (box_idx = -1) are exactly the distinct referenced refs,
    and in the written query it emits just those crop rows."""
    from pyspark.sql import functions as F

    from mindocr_spark.operators.media_path import DET_CROPS_SCHEMA, det_crops_iter
    from mindocr_spark.plans.extract import _exploded_spans, _ocr_input

    spans, media, n_refs, n_spans = _shared_ref_corpus(spark, small_corpus[0])
    assert 0 < n_refs < n_spans
    media_spans = _exploded_spans(spans).filter(F.col("kind") == "media")
    crops = _ocr_input(media_spans, media).mapInPandas(det_crops_iter, DET_CROPS_SCHEMA)
    rows = crops.select("media_ref", "box_idx").collect()
    sentinels = [r["media_ref"] for r in rows if r["box_idx"] == -1]
    assert len(sentinels) == len(set(sentinels)) == n_refs
    after = _last_execution_id(spark)
    extract(spark, spans, media, mode="exploded").write.parquet(str(tmp_path / "out"))
    assert _node_rows_of_last_execution(spark, "det_crops_iter", after) == [len(rows)]
