"""Incremental extraction over a growing spans table.

The reference's "streaming" is pipeline parallelism over bounded queues
(``deploy/py_infer``, SURVEY.md §2.11) — batch semantics with flow control.
The Spark-native equivalent for a continuously-ingested corpus is a file
(or Iceberg incremental) stream + ``foreachBatch`` running the SAME batch
extraction plan per micro-batch, writing partition-append output with an
exactly-once checkpoint. The media table is a static (slowly-changing) side
input joined per micro-batch, as the reference joins crops to their source
image.

``availableNow`` trigger processes the backlog and stops — the batch-job
mode used in tests; remove the trigger for a long-running tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.extract import extract

SPANS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def stream_extract(
    spark: SparkSession,
    spans_dir: str,
    media: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    mode: str = "fused",
    available_now: bool = True,
) -> StreamingQuery:
    """File-stream the spans table; extract per micro-batch; parquet sink
    partitioned by ``batch_id``.

    Exactly-once = checkpointed offsets + an idempotent sink. foreachBatch
    alone is at-least-once (a crash between the sink write and the offset
    commit replays the micro-batch), so the sink must absorb replays: each
    micro-batch dynamically OVERWRITES its own ``batch_id=N`` partition —
    Structured Streaming guarantees a replayed batch has the same batch_id
    and the same input rows, so the rewrite is a no-op, never a duplicate.
    """
    stream = (
        spark.readStream.schema(SPANS_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(spans_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import functions as F

        sess = batch_df.sparkSession
        out = extract(sess, batch_df, media, mode=mode).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        (
            out.write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_counts(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Watermarked tumbling-window aggregation over an event stream.

    Late events older than the watermark relative to the max seen ts are
    dropped; windows close and emit once finalized (append mode) — the
    Structured Streaming windowing the reference's pipeline engine has no
    counterpart for (SURVEY.md §2.11 note).
    """
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- driver-gated batch facade ----------------------------------------------

STREAM_WINDOWED_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
agg AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, n, sum_value
FROM agg, mx WHERE ws + INTERVAL 1 HOUR <= m - INTERVAL 30 MINUTE
"""


def stream_windowed_counts_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run :func:`stream_windowed_counts` over the events table as an
    availableNow job and return the sink's contents — the driver-oracled
    surface for the watermarked-window streaming path.

    Append-mode watermark semantics are DETERMINISTIC here and exactly
    SQL-expressible (``STREAM_WINDOWED_SQL``): the job processes the
    backlog, the watermark settles at max(ts) - 30min, and the final
    no-data micro-batch flushes every window whose END is <= that
    watermark — so the emitted set is "all closed windows", regardless of
    how the backlog was split into micro-batches.  Windows still open at
    end-of-backlog are (correctly) withheld; a real deployment's next run
    emits them from the checkpointed state.

    The single-file events table is symlinked into a fresh landing
    directory because FileStreamSource requires a directory source; sink
    and checkpoint live in the same per-call tempdir (removed at
    interpreter exit — the driver contract is stateless)."""
    import atexit
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="mindocr_stream_counts_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    landing = os.path.join(tmp, "events")
    os.makedirs(landing)
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(src):
        for name in os.listdir(src):
            if name.endswith(".parquet"):
                os.symlink(
                    os.path.join(src, name), os.path.join(landing, name)
                )
    else:
        os.symlink(src, os.path.join(landing, "part-0.parquet"))
    # State partitioning sized to the facade's bounded backlog. The
    # stateful window agg creates one state store per shuffle partition,
    # and EVERY micro-batch writes a delta + snapshot file per store into
    # the checkpoint — at the session default (32) that is the dominant,
    # high-variance I/O of this query (measured 2.4-4.2 s swings from the
    # same plan). 8 stores cover the ~dozens of open windows here.
    # Execution-layout only — the emitted window set is unchanged
    # (re-oracled). The conf is restored after query START (it is captured
    # into the query's offset log at start; later batches keep it).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_windowed_counts(
            spark,
            landing,
            os.path.join(tmp, "out"),
            os.path.join(tmp, "ckpt"),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination(600)
    return spark.read.parquet(os.path.join(tmp, "out"))


# --- Streaming near-dup probe against a stored dedup state ------------------


def build_dedup_state(spark: SparkSession, sf_dir: str, state_dir: str) -> None:
    """Materialize the corpus dedup state a streaming ingest probes:
    the xxhash64 minhash BAND table (with per-doc shingle counts) and
    the distinct SHINGLE table — exactly the two tables
    ``minhash_lsh_pairs_fast`` computes in-flight, written as parquet.
    At 10^12 docs these ARE the persistent state of the dedup service
    (appended after each accepted batch); this helper seeds them from a
    batch corpus once.
    """
    from ..operators.dedup import (
        _docs,
        _minhash_bands,
        _shingles,
        _xxhash64_family,
    )

    sh = _shingles(_docs(spark, sf_dir))
    sh.write.mode("overwrite").parquet(f"{state_dir}/shingles")
    sh_stored = spark.read.parquet(f"{state_dir}/shingles")
    _minhash_bands(sh_stored, _xxhash64_family).write.mode("overwrite").parquet(
        f"{state_dir}/bands"
    )


def stream_dedup_flags(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming daily-crawl dedup: arriving documents are a file stream;
    each micro-batch computes its own shingle/band rows with the SAME
    kernels as the batch operator, probes the STORED corpus band table on
    (band_no, band_key), exact-verifies candidates against the stored
    shingle table, and appends per-arrival flags partitioned by batch_id
    (idempotent overwrite — the stream_extract recovery contract).

    This is :func:`mindocr_spark.operators.dedup.minhash_lsh_incremental`
    with its "at scale the corpus band table is stored" note made real:
    the corpus side is never recomputed, the probe work is
    |batch| x bucket occupancy, and the batch plan inside foreachBatch is
    identical to the driver-oracled incremental query (pytest asserts
    flag-for-flag equality).
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        _lsh_candidates,
        _minhash_bands,
        _shingles,
        _verify_candidates,
        _xxhash64_family,
    )

    corpus_bands = spark.read.parquet(f"{state_dir}/bands")
    corpus_sh = spark.read.parquet(f"{state_dir}/shingles")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sh = _shingles(batch_df.select("doc_id", "text"))
        ab = _minhash_bands(sh, _xxhash64_family)
        verified = _verify_candidates(
            corpus_sh.unionByName(sh), _lsh_candidates(ab, corpus_bands)
        )
        flags = (
            batch_df.select("doc_id")
            .join(
                verified.selectExpr("doc_a AS doc_id", "doc_b AS partner")
                .unionByName(verified.selectExpr("doc_b AS doc_id", "doc_a AS partner"))
                .groupBy("doc_id")
                .agg(
                    F.count("*").cast("long").alias("n_dups"),
                    F.min("partner").alias("nearest"),
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("n_dups", F.lit(0).cast("long")).alias("n_dups"),
                "nearest",
                F.lit(batch_id).alias("batch_id"),
            )
        )
        (
            flags.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )
        ab.unpersist()

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


ARRIVAL_OFFSET = 10_000_000


def stream_dedup_flags_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated facade for :func:`stream_dedup_flags` (the
    stream_windowed_counts_batch pattern): seed the dedup state from the
    documents table, land every 10th document again under
    ``doc_id + ARRIVAL_OFFSET`` as a two-file arrival stream, run the
    probe with ``availableNow``, and return the per-arrival flags.

    Deterministic regardless of micro-batch split: each batch probes
    only the STORED corpus state (arrival-vs-arrival pairs are a
    different operator), so flags equal the one-shot batch probe — which
    is exactly what STREAM_DEDUP_SQL recomputes on DuckDB over the
    augmented corpus via the generated XXH64 band/verify pipeline.
    """
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.dedup import INCREMENT_MOD

    work = tempfile.mkdtemp(prefix="mindocr_stream_dedup_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    state = f"{work}/state"
    land = f"{work}/arrivals"
    out = f"{work}/flags"
    ckpt = f"{work}/ckpt"
    build_dedup_state(spark, sf_dir, state)

    import os

    os.makedirs(land, exist_ok=True)
    arriving = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % INCREMENT_MOD == 0)
        .select(
            (F.col("doc_id") + ARRIVAL_OFFSET).alias("doc_id"), "text"
        )
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    half = len(arriving) // 2
    arriving.iloc[:half].to_parquet(f"{land}/b0.parquet", index=False)
    arriving.iloc[half:].to_parquet(f"{land}/b1.parquet", index=False)

    q = stream_dedup_flags(spark, land, state, out, ckpt)
    q.awaitTermination(300)
    return spark.read.parquet(out).select("doc_id", "n_dups", "nearest")


def _stream_dedup_sql() -> str:
    from ..operators.dedup import INCREMENT_MOD, _minhash_fast_sql

    pre = f"""docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {ARRIVAL_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % {INCREMENT_MOD} = 0
),
"""
    cand = f"""
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b
  FROM bk a JOIN bk b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
  WHERE a.doc_id >= {ARRIVAL_OFFSET} AND b.doc_id < {ARRIVAL_OFFSET}"""
    final = f"""
SELECT d.doc_id, coalesce(l.n_dups, 0)::BIGINT AS n_dups, l.nearest
FROM (SELECT doc_id FROM docs_aug WHERE doc_id >= {ARRIVAL_OFFSET}) d
LEFT JOIN (
  SELECT doc_id, count(*)::BIGINT AS n_dups, min(partner)::BIGINT AS nearest
  FROM (SELECT doc_b AS doc_id, doc_a AS partner FROM verified
        UNION ALL
        SELECT doc_a AS doc_id, doc_b AS partner FROM verified) links
  GROUP BY doc_id
) l USING (doc_id)"""
    return _minhash_fast_sql(
        cand_sql=cand, pre_cte=pre, docs_rel="docs_aug", final_sql=final
    )


STREAM_DEDUP_SQL = _stream_dedup_sql()


# --- Streaming image-dedup probe: the phash twin -----------------------------


def build_image_dedup_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> None:
    """Materialize the perceptual-hash state a streaming image ingest
    probes: the Manku C(7,4) combo table of the corpus media's dHashes
    (the image twin of :func:`build_dedup_state`'s band/shingle tables —
    probe-ready combo keys stored, not recomputed per micro-batch)."""
    from ..operators.dedup import MANKU64_BLOCKS, block_keys
    from ..operators.multimodal import image_dhash_signatures

    block_keys(
        image_dhash_signatures(spark, sf_dir), "dhash", MANKU64_BLOCKS
    ).write.mode("overwrite").parquet(f"{state_dir}/image_combos")


def stream_image_dedup_flags(
    spark: SparkSession,
    images_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming image near-dup: arriving (media_ref, image) rows are a
    file stream; each micro-batch dHashes its images with the shared
    pure-numpy kernel, probes the STORED Manku combo table (C(7,4)
    tables on >= 2^36-key prefixes — the ``simhash64_near_dup`` layout),
    exact-filters on ``bit_count(xor) <= 3`` and appends per-arrival flags
    partitioned by batch_id (idempotent overwrite). Undecodable payloads flag
    ``n_dups = -1`` (the decode node's skip-and-count contract) rather
    than vanishing."""
    from pyspark.sql import functions as F

    from ..config import persist_intermediate
    from ..operators.dedup import MANKU64_BLOCKS, block_keys
    from ..operators.multimodal import (
        IMAGE_DHASH_SCHEMA,
        PHASH_HAMMING_MAX,
        image_dhash_iter,
    )

    stored_combos = spark.read.parquet(f"{state_dir}/image_combos").select(
        F.col("media_ref").alias("ref_b"),
        F.col("dhash").alias("dh_b"),
        "combo_id",
        "combo_key",
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the dHash stage is CPU-bound Python feeding BOTH arr_bands and
        # the final flags join — persist so each arrival decodes once
        sig = persist_intermediate(
            batch_df.select("media_ref", "image").mapInPandas(
                image_dhash_iter, IMAGE_DHASH_SCHEMA
            )
        )
        arr_combos = block_keys(
            sig.filter("ok").select("media_ref", "dhash"), "dhash", MANKU64_BLOCKS
        ).select(
            F.col("media_ref").alias("ref_a"),
            F.col("dhash").alias("dh_a"),
            "combo_id",
            "combo_key",
        )
        hits = (
            arr_combos.join(stored_combos, ["combo_id", "combo_key"])
            .withColumn(
                "hamming", F.expr("cast(bit_count(dh_a ^ dh_b) as int)")
            )
            .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
            .select("ref_a", "ref_b", "hamming")
            .distinct()
            .groupBy("ref_a")
            .agg(
                F.count("*").cast("long").alias("n_dups"),
                F.min("ref_b").alias("nearest_ref"),
            )
        )
        flags = (
            sig.select("media_ref", "ok")
            .join(hits.withColumnRenamed("ref_a", "media_ref"), "media_ref", "left")
            .select(
                "media_ref",
                F.when(~F.col("ok"), F.lit(-1).cast("long"))
                .otherwise(F.coalesce("n_dups", F.lit(0).cast("long")))
                .alias("n_dups"),
                "nearest_ref",
                F.lit(batch_id).alias("batch_id"),
            )
        )
        (
            flags.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )
        sig.unpersist()

    stream = (
        spark.readStream.schema("media_ref string, image binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(images_dir)
    )
    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
