"""Checkpointed, exactly-resumable bucketed jobs (north_rule requirement).

One protocol, ``run_bucketed``, serves both spark-submit jobs: the
extraction job (``run_extract_job`` below) and the corpus-prep job
(``jobs/corpus_prep_job.py``). SURVEY.md §4 item 3:

- The corpus is split into ``n_buckets`` deterministic doc_id hash buckets
  (``pmod(xxhash64(doc_id), N)`` — the parquet stand-in for an Iceberg
  ``bucket(N, doc_id)`` partition transform). Both jobs use this one
  bucket function, so their outputs are co-bucketed.
- On (re)start, completed buckets are read from the lineage table and the
  caller's ``build`` gets a "pending bucket" predicate over ``doc_id``:
  only incomplete buckets are recomputed, in one Spark job (not a
  per-bucket loop), so resume costs one scan + the remaining work.
- Output is written in one ``partitionBy(bucket)`` write with dynamic
  partition overwrite set on that write (not on the session), so
  re-processing a bucket is an idempotent partition rewrite (the parquet
  analogue of Iceberg ``overwritePartitions``). The rows are first
  repartitioned on ``bucket``, so one task writes each bucket: one file
  per bucket, not one per (write task, bucket).
- A lineage table ``{out}/_lineage`` then gets one row per written bucket:
  ``n_docs`` plus the caller's named counters, counted from a
  partition-pruned re-read of exactly what landed, and ``wall_sec``, the
  wall time of the write that committed the bucket (shared by all the
  buckets of that write).

Crash window analysis: lineage is appended only after the output commit;
a crash before it leaves every bucket of the write marked incomplete and
they are rewritten on resume — output is never read between jobs, so the
resume is exact. The commit granularity is the whole write. Corpus-prep
needs no finer one: its cross-document signals (near-dup clusters,
boilerplate line frequencies, packing offsets) are global, so a crash
loses them whatever was committed and a resume recomputes them anyway.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import extract


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    try:
        return spark.read.parquet(f"{out_dir}/_lineage")
    except Exception:  # noqa: BLE001 - first run: no lineage yet
        return spark.createDataFrame([], "bucket int, status string")


def completed_buckets(spark: SparkSession, out_dir: str) -> list[int]:
    lin = read_lineage(spark, out_dir)
    return [
        r["bucket"]
        for r in lin.filter(F.col("status") == "complete")
        .select("bucket")
        .distinct()
        .collect()
    ]


def run_bucketed(
    spark: SparkSession,
    build: Callable[[Column], DataFrame],
    out_dir: str,
    n_buckets: int,
    run_id: str,
    counters: dict[str, Column],
) -> dict:
    """Run (or resume) one bucketed job. ``build(pending)`` returns the
    output rows (with a ``doc_id``) of the docs the boolean ``pending``
    Column selects; ``counters`` names the per-bucket aggregates, over
    the written output, that the lineage rows carry after ``n_docs``."""
    done = sorted(completed_buckets(spark, out_dir))
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    t0 = time.time()
    (
        build(~bucket.isin(done) if done else F.lit(True))
        .withColumn("bucket", bucket)
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )
    wall = time.time() - t0

    # Per-bucket counts from the committed output (exactly what landed).
    # Filter on the PHYSICAL partition column `bucket`: Catalyst prunes the
    # completed buckets' directories at the file-index level, so a resume
    # reads only the freshly-written partitions (a recomputed-hash filter
    # would force a full-output scan — at 100 TB that is the whole dataset).
    out = spark.read.parquet(out_dir)
    if done:
        out = out.filter(~F.col("bucket").isin(done))
    aggs = {"n_docs": F.count("*"), **counters}
    # <= n_buckets rows: collect once and append via a local DataFrame
    stat_rows = (
        out.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(*(c.cast("long").alias(k) for k, c in aggs.items()))
        .collect()
    )
    schema = ", ".join(
        ["bucket int, status string", *(f"{k} long" for k in aggs),
         "wall_sec double, run_id string"]
    )
    spark.createDataFrame(
        [(r["bucket"], "complete", *(r[k] for k in aggs), wall, run_id)
         for r in stat_rows],
        schema,
    ).write.mode("append").parquet(f"{out_dir}/_lineage")
    return {
        "buckets_total": n_buckets,
        "buckets_skipped": len(done),
        "buckets_processed": len(stat_rows),
        "wall_sec": wall,
    }


def run_extract_job(
    spark: SparkSession,
    spans: DataFrame,
    media: DataFrame,
    out_dir: str,
    mode: str = "fused",
    n_buckets: int = 32,
    run_id: str = "run",
    salt_buckets: int = 0,
) -> dict:
    """Run (or resume) the bucketed extraction job. Returns stats.

    The pending-bucket filter goes on the INPUT spans: a filter on the
    output would not reach the OCR branch, so a resume would re-OCR the
    refs of every completed bucket."""
    return run_bucketed(
        spark,
        lambda pending: extract(
            spark, spans.filter(pending), media, mode=mode, salt_buckets=salt_buckets
        ),
        out_dir,
        n_buckets,
        run_id,
        {
            "n_out_spans": F.sum(F.size("out_spans")),
            "n_media_spans": F.sum(
                F.size(F.filter("out_spans", lambda s: s["kind"] == F.lit("media")))
            ),
        },
    )
