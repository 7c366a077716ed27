"""Plan-quality regression gates: predicate pushdown, column pruning, and
broadcast choices must survive refactors (the 100 TB contract — a scan that
reads all columns for a 2-column projection is wrong at any sf)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark):
    from mindocr_spark.operators.relational import pricing_summary

    plan = _plan(pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_quality_scores_prunes_columns(spark):
    """documents has 5 columns; the quality query needs doc_id + text only."""
    from mindocr_spark.operators.quality import quality_scores

    plan = _plan(quality_scores(spark, SF))
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_supplier_part_join_broadcasts_dims(spark):
    from mindocr_spark.operators.relational import supplier_part_join

    plan = _plan(supplier_part_join(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_exact_dup_partial_aggregation(spark):
    """Hash-groupBy dedup must keep the map-side partial aggregate (two
    HashAggregate nodes around one Exchange)."""
    from mindocr_spark.operators.dedup import exact_dup_groups

    plan = _plan(exact_dup_groups(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_self_join_intermediates_are_persisted(spark):
    """The sites where a paired A/B showed the cache pays
    (BENCH_persist_ab.json) must keep their persist_intermediate: without
    it each join side rebuilds the shared table."""
    from mindocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_dup_banded,
    )

    for fn in (minhash_lsh_pairs, simhash_near_dup_banded):
        df = fn(spark, SF)
        plan = _plan(df)
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, fn.__name__
        spark.catalog.clearCache()


def _uncached_operators():
    """The operators whose persist sites a paired A/B removed: exchange
    reuse builds their shared intermediates once."""
    from mindocr_spark.operators.dedup import ngram_jaccard_filtered
    from mindocr_spark.operators.pretrain import boilerplate_line_removal, semdedup
    from mindocr_spark.operators.refmetrics import layout_map

    return [ngram_jaccard_filtered, semdedup, layout_map, boilerplate_line_removal]


@pytest.mark.parametrize("fn", _uncached_operators(), ids=lambda fn: fn.__name__)
def test_shared_intermediates_use_exchange_reuse(spark, fn):
    """After an action the final AQE plan reads the shared subtree through
    a ReusedExchange and holds no cache: turning exchange reuse off would
    rebuild it once per consumer."""
    spark.catalog.clearCache()
    df = fn(spark, SF)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:3000]
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan


def test_uncached_operators_leave_no_cache(spark):
    """Operators that cache nothing leave nothing behind: run them all in
    one session with no clearCache between them, and afterwards the cache
    manager is empty and the SparkContext holds no persisted RDD it did
    not hold before (earlier tests' DataFrame caches are cleared first;
    their localCheckpoint RDDs cannot be, so they are what "before" holds)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for fn in _uncached_operators():
        fn(spark, SF).write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_extract_has_no_cartesian_and_bounded_shuffles(spark, small_corpus):
    from mindocr_spark.plans.extract import extract, load_corpus

    corpus_dir, _, _ = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    for mode in ("fused", "exploded"):
        plan = _plan(extract(spark, spans, media, mode=mode))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_repetition_single_preexplode_exchange(spark):
    """The gram explode multiplies rows ~3x; the plan must shuffle the
    COMPACT docs table once (explicit repartition by doc_id) and run all
    three downstream aggregations exchange-free — HashPartitioning(doc_id)
    satisfies every grouping's ClusteredDistribution."""
    from mindocr_spark.operators.quality import gopher_repetition

    plan = _plan(gopher_repetition(spark, SF))
    # executedPlan names each exchange node once
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan


def test_kie_plans_no_cartesian(spark):
    """KIE: windows partitioned by doc_id, equi-joins only. The seqeval
    metric's two BroadcastNestedLoopJoins are the 1-row aggregate
    crossJoins (tp x n_pred x n_gt) — anything beyond that count means a
    real cartesian crept in."""
    from mindocr_spark.operators.kie import (
        re_link_metric,
        ser_entity_labels,
        ser_seqeval_metric,
    )

    for fn, max_bnl in (
        (ser_entity_labels, 0),
        (ser_seqeval_metric, 2),
        (re_link_metric, 0),
    ):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
        assert plan.count("BroadcastNestedLoopJoin") <= max_bnl, fn.__name__


def test_lsh_bucket_projection_parallel(spark):
    """The interpreted bucket projection must not run on the raw single
    parquet split: an explicit round-robin/hash repartition has to appear
    below the projection (the one-core regression, BENCH.md round 4)."""
    from mindocr_spark.operators.similarity import _emb, _lsh_candidates, _with_norm

    cand = _lsh_candidates(_with_norm(_emb(spark, SF)))
    plan = _plan(cand)
    assert "Exchange hashpartitioning(vec_id" in plan, plan[:2000]


def test_ivf_pq_topk_broadcasts_and_no_cartesian(spark):
    """IVFADC: the probe table and the query LUT must broadcast (two
    BroadcastHashJoins — cell prefilter + (query, s, code) ADC lookup);
    the only nested-loop joins allowed are the tiny broadcast ones
    against the 8-row centroid / 128-row codebook tables, never a real
    CartesianProduct over corpus-sized inputs."""
    from mindocr_spark.operators.similarity import ivf_pq_topk

    plan = _plan(ivf_pq_topk(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
