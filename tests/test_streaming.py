"""Structured Streaming: the watermarked window aggregation, the stored-state
near-dup probe and their driver facades."""

import pytest

from mindocr_spark.streaming.incremental import _drain


def test_watermarked_window_drops_late_events(spark, tmp_path):
    """Tumbling 1h windows with a 30min watermark: an event arriving after
    the watermark passed its window is dropped; closed windows emit once."""
    import time as _time

    import pandas as pd

    from mindocr_spark.streaming.incremental import stream_windowed_counts

    ev_dir = tmp_path / "events"
    ev_dir.mkdir()

    def write(rows, name):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        tbl = pa.table(
            {
                "ts": pa.array(pd.to_datetime(pdf["ts"]), pa.timestamp("us")),
                "user_id": pa.array(pdf["user_id"], pa.int64()),
                "value": pa.array(pdf["value"], pa.float64()),
            }
        )
        pq.write_table(tbl, str(ev_dir / name))
        _time.sleep(1.1)  # distinct mtimes (fs granularity) -> deterministic batches

    # batch 1: window 10:00 gets 2 events
    write([("2024-01-01 10:05:00", 1, 1.0), ("2024-01-01 10:20:00", 2, 2.0)], "f1.parquet")
    # batches 2-3: advance the watermark past 11:00 (wm lags one batch:
    # it is computed at batch end and applied to the NEXT batch)
    write([("2024-01-01 13:00:00", 3, 3.0)], "f2.parquet")
    write([("2024-01-01 13:30:00", 5, 5.0)], "f3.parquet")
    # batch 4: late event for window 10:00 — beyond watermark, dropped
    write([("2024-01-01 10:40:00", 4, 100.0)], "f4.parquet")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _drain(stream_windowed_counts(spark, str(ev_dir), out, ckpt), 240)

    rows = {r["window_start"]: r for r in spark.read.parquet(out).collect()}
    # the 10:00 window closed with ONLY the two on-time events
    assert rows["2024-01-01 10:00:00"]["n"] == 2
    assert rows["2024-01-01 10:00:00"]["sum_value"] == 3.0


def test_stream_windowed_counts_batch_equals_closed_windows(spark):
    """The driver facade (round 5): the availableNow streaming job over the
    events table must emit exactly the CLOSED windows — the batch tumbling
    aggregation restricted to windows whose end precedes the final
    watermark (max ts - 30min) — in append mode, regardless of micro-batch
    splits."""
    from pyspark.sql import functions as F

    from mindocr_spark.streaming.incremental import (
        stream_windowed_counts_batch,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["window_start"], r["n"], r["sum_value"])
        for r in stream_windowed_counts_batch(spark, sf).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet")
    mx = ev.agg(F.max("ts").alias("m"))
    want = {
        (r["window_start"], r["n"], r["sum_value"])
        for r in (
            ev.groupBy(F.date_trunc("hour", "ts").alias("ws"))
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .crossJoin(mx)
            .filter(
                F.col("ws") + F.expr("INTERVAL 1 HOUR")
                <= F.col("m") - F.expr("INTERVAL 30 MINUTE")
            )
            .select(
                F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "n",
                "sum_value",
            )
        ).collect()
    }
    assert got == want and len(got) > 0


def test_salted_flagship_equals_unsalted(spark, small_corpus):
    """salt_buckets is an execution-strategy knob, not a semantics knob:
    the two-phase salted reassembly must produce byte-identical serialized
    output (round 5, the oracle-equality contract behind
    extract_interleaved_salted)."""
    from mindocr_spark.plans.extract import extract_serialized, load_corpus

    corpus_dir, _, _ = small_corpus
    spans, media = load_corpus(spark, corpus_dir)
    plain = {
        (r["doc_id"], r["out_spans_json"])
        for r in extract_serialized(
            spark, spans, media, mode="exploded"
        ).collect()
    }
    salted = {
        (r["doc_id"], r["out_spans_json"])
        for r in extract_serialized(
            spark, spans, media, mode="exploded", salt_buckets=8
        ).collect()
    }
    assert salted == plain and len(plain) > 0


def test_stream_dedup_flags_probe_stored_state(spark, tmp_path):
    """Streaming daily-crawl dedup: arriving docs (exact copies of every
    10th corpus doc under new ids) probe the stored band/shingle state;
    every arrival must flag its original as a near-dup, flags must match
    the same probe run as one batch, and checkpoint restart must be a
    no-op."""
    import pandas as pd
    import pyspark.sql.functions as F

    from mindocr_spark.streaming.incremental import (
        build_dedup_state,
        stream_dedup_flags,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "state")
    build_dedup_state(spark, sf, state)

    docs = pd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "text"]]
    arriving = docs[docs.doc_id % 10 == 0].copy()
    arriving["doc_id"] = arriving.doc_id + 10_000_000
    land = tmp_path / "arrivals"
    land.mkdir()
    half = len(arriving) // 2
    arriving.iloc[:half].to_parquet(land / "b0.parquet", index=False)
    arriving.iloc[half:].to_parquet(land / "b1.parquet", index=False)

    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    _drain(stream_dedup_flags(spark, str(land), state, out, ckpt), 240)

    flags = spark.read.parquet(out).toPandas().sort_values("doc_id", ignore_index=True)
    assert len(flags) == len(arriving)
    assert sorted(flags.batch_id.unique().tolist()) == [0, 1]
    # an exact text copy always clears the jaccard threshold: every
    # arrival is flagged, and its nearest partner is <= its original id
    assert (flags.n_dups >= 1).all()
    assert (flags.nearest <= flags.doc_id - 10_000_000).all()

    # batch equivalence: the same probe as one non-streaming pass
    from mindocr_spark.operators.dedup import (
        _minhash_bands,
        _shingles,
        _verify_candidates,
        _xxhash64_family,
    )

    adf = spark.createDataFrame(arriving)
    sh = _shingles(adf)
    ab = _minhash_bands(sh, _xxhash64_family)
    corpus_bands = spark.read.parquet(f"{state}/bands")
    corpus_sh = spark.read.parquet(f"{state}/shingles")
    swap = F.col("a.doc_id") > F.col("b.doc_id")
    cand = (
        ab.alias("a")
        .join(corpus_bands.alias("b"), ["band_no", "band_key"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.when(swap, F.col("b.n")).otherwise(F.col("a.n")).alias("na"),
            F.when(swap, F.col("a.n")).otherwise(F.col("b.n")).alias("nb"),
        )
        .distinct()
    )
    verified = _verify_candidates(corpus_sh.unionByName(sh), cand).toPandas()
    want = (
        pd.concat(
            [
                verified.rename(columns={"doc_a": "doc_id", "doc_b": "partner"}),
                verified.rename(columns={"doc_b": "doc_id", "doc_a": "partner"}),
            ]
        )
        .groupby("doc_id")
        .agg(n_dups=("partner", "size"), nearest=("partner", "min"))
        .reindex(arriving.doc_id)
    )
    want_flags = want[want.n_dups.notna()]
    got_flagged = flags[flags.n_dups > 0].set_index("doc_id")
    assert got_flagged.n_dups.to_dict() == want_flags.n_dups.astype(int).to_dict()
    assert got_flagged.nearest.to_dict() == want_flags.nearest.astype(int).to_dict()

    # restart: availableNow over a consumed checkpoint is a no-op
    _drain(stream_dedup_flags(spark, str(land), state, out, ckpt), 120)
    again = spark.read.parquet(out).toPandas()
    assert len(again) == len(flags)


class _StalledQuery:
    """A streaming query whose ``awaitTermination`` times out."""

    stopped = False

    def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark's name
        return False

    def stop(self):
        self.stopped = True


@pytest.mark.parametrize(
    "facade, factory",
    [
        ("stream_windowed_counts_batch", "stream_windowed_counts"),
        ("stream_dedup_flags_batch", "stream_dedup_flags"),
    ],
)
def test_batch_facade_stops_query_on_timeout(spark, tmp_path, monkeypatch, facade, factory):
    """A facade whose query does not finish stops it and raises, rather
    than reading a half-written sink and leaving the query running."""
    import pandas as pd

    from mindocr_spark.streaming import incremental

    pd.DataFrame({"doc_id": [0, 1], "text": ["a b c", "d e f"]}).to_parquet(
        tmp_path / "documents.parquet"
    )
    (tmp_path / "events.parquet").write_bytes(b"")
    q = _StalledQuery()
    monkeypatch.setattr(incremental, factory, lambda *a, **k: q)
    monkeypatch.setattr(incremental, "build_dedup_state", lambda *a: None)
    with pytest.raises(TimeoutError):
        getattr(incremental, facade)(spark, str(tmp_path))
    assert q.stopped
