"""Checkpointed lineage + exact resume (north_rule: 'resumable from
checkpoint with per-partition lineage + metrics')."""

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from mindocr_spark.plans.extract import extract, load_corpus
from mindocr_spark.plans.lineage import (
    completed_buckets,
    read_lineage,
    run_extract_job,
)

N_BUCKETS = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def corpus(spark, small_corpus):
    corpus_dir, _, _ = small_corpus
    return load_corpus(spark, corpus_dir)


def _sorted_tuples(df):
    rows = df.orderBy("doc_id").collect()
    return [
        (
            r["doc_id"],
            tuple(
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in r["out_spans"]
            ),
        )
        for r in rows
    ]


def test_full_run_then_noop_resume(spark, corpus, tmp_path):
    spans, media = corpus
    out = str(tmp_path / "out")
    stats1 = run_extract_job(spark, spans, media, out, n_buckets=N_BUCKETS, run_id="r1")
    assert stats1["buckets_skipped"] == 0
    assert sorted(completed_buckets(spark, out)) == sorted(
        set(completed_buckets(spark, out))
    )

    # output equals the direct plan
    direct = extract(spark, spans, media, mode="fused")
    assert _sorted_tuples(spark.read.parquet(out)) == _sorted_tuples(direct)

    # resume with everything complete: nothing reprocessed
    stats2 = run_extract_job(spark, spans, media, out, n_buckets=N_BUCKETS, run_id="r2")
    assert stats2["buckets_processed"] == 0
    assert stats2["buckets_skipped"] == len(completed_buckets(spark, out))


def test_resume_recomputes_only_missing_bucket(spark, corpus, tmp_path):
    from test_extract_e2e import _last_execution_id, _node_rows_of_last_execution

    spans, media = corpus
    out = str(tmp_path / "out")
    run_extract_job(spark, spans, media, out, n_buckets=N_BUCKETS, run_id="r1")
    direct = _sorted_tuples(extract(spark, spans, media, mode="fused"))

    # simulate a crash that lost one bucket: drop its lineage rows AND its
    # output partition
    done = completed_buckets(spark, out)
    victim = sorted(done)[0]
    lin = read_lineage(spark, out).filter(F.col("bucket") != victim)
    lin_pdf = lin.toPandas()
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(lin_pdf, lin.schema).write.mode("overwrite").parquet(
        f"{out}/_lineage"
    )
    shutil.rmtree(f"{out}/bucket={victim}")

    after = _last_execution_id(spark)
    stats = run_extract_job(spark, spans, media, out, n_buckets=N_BUCKETS, run_id="r2")
    assert stats["buckets_processed"] >= 1
    redone = read_lineage(spark, out).filter(F.col("run_id") == "r2")
    assert victim in {r["bucket"] for r in redone.select("bucket").collect()}
    assert _sorted_tuples(spark.read.parquet(out)) == direct

    # the resume OCR'd only the victim bucket's refs: the pending-bucket
    # filter reached the OCR input, not just the written output
    refs = (
        spans.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int") == victim
        )
        .select(F.explode("spans").alias("s"))
        .filter((F.col("s.kind") == "media") & F.col("s.media_ref").isNotNull())
        .select("s.media_ref")
        .distinct()
        .count()
    )
    assert 0 < refs
    assert _node_rows_of_last_execution(spark, "ocr_fused_iter", after) == [refs]


def test_lineage_metrics_counters(spark, corpus, tmp_path):
    spans, media = corpus
    out = str(tmp_path / "out")
    run_extract_job(spark, spans, media, out, n_buckets=N_BUCKETS, run_id="r1")
    lin = read_lineage(spark, out)
    assert lin.dtypes == [
        ("bucket", "int"), ("status", "string"), ("n_docs", "bigint"),
        ("n_out_spans", "bigint"), ("n_media_spans", "bigint"),
        ("wall_sec", "double"), ("run_id", "string"),
    ]
    total_docs = lin.agg(F.sum("n_docs")).collect()[0][0]
    assert total_docs == spans.count()
    row = lin.limit(1).collect()[0]
    assert row["status"] == "complete"
    assert row["run_id"] == "r1"
    assert row["wall_sec"] > 0


def test_lineage_exploded_salted(spark, corpus, tmp_path):
    """Resume machinery composes with exploded mode + salting."""
    spans, media = corpus
    out = str(tmp_path / "out")
    stats = run_extract_job(
        spark, spans, media, out, mode="exploded", n_buckets=N_BUCKETS,
        run_id="r1", salt_buckets=3,
    )
    assert stats["buckets_processed"] == len(completed_buckets(spark, out))
    direct = extract(spark, spans, media, mode="fused")
    assert _sorted_tuples(spark.read.parquet(out)) == _sorted_tuples(direct)


def test_resume_stats_scan_prunes_partitions(spark, corpus, tmp_path):
    """The post-write stats scan filters on the PHYSICAL partition column, so
    Catalyst prunes completed buckets at the file index (a recomputed-hash
    filter would force a full-output rescan on every resume)."""
    spans, media = corpus
    out = str(tmp_path / "out")
    run_extract_job(spark, spans, media, out, n_buckets=N_BUCKETS, run_id="r1")
    done = sorted(completed_buckets(spark, out))
    assert len(done) > 1
    # the exact filter shape run_bucketed uses for the fresh-stats scan
    fresh = spark.read.parquet(out).filter(~F.col("bucket").isin(done[:-1]))
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: []" not in plan
    assert "PartitionFilters" in plan
    # and the file index only surfaces the un-pruned bucket's files
    files = {
        r[0] for r in fresh.select(F.input_file_name()).distinct().collect()
    }
    assert files and all(f"bucket={done[-1]}" in f for f in files)


def test_jobs_keep_session_overwrite_mode(spark, corpus, tmp_path):
    """Both jobs set dynamic partition overwrite on their own write: the
    session's ``partitionOverwriteMode`` is the same after each job."""
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    from corpus_prep_job import run_corpus_prep
    from test_pretrain import SF

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        spans, media = corpus
        run_extract_job(spark, spans, media, str(tmp_path / "x"), n_buckets=N_BUCKETS)
        assert spark.conf.get(key) == "static"
        run_corpus_prep(spark, SF, str(tmp_path / "prep"), n_buckets=N_BUCKETS)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
