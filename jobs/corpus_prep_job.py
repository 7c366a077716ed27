"""Cluster job entry point: the full training-corpus preparation pipeline.

Composes the production operators end to end — the sequence a 100 TB
pretraining-data job actually runs between a raw corpus and a tokenizer:

1. ``training_corpus_filter``   — near-dup keepers + quality floor + lang
2. ``semdedup_flags``           — semantic (embedding-cell) dedup keepers
3. ``boilerplate_clean``        — cross-document line strip (cleaned text)
4. ``redact_pii``               — PII scrub of the cleaned text
5. ``pack_token_layout``        — concat-and-chunk sequence layout
6. ``mixture_weights``          — per-(source, lang) sampling weights

Submit::

    python tools/package.py
    spark-submit --py-files dist/mindocr_spark.zip jobs/corpus_prep_job.py \\
        --sf-dir /root/testdata/sf0.01 --out-dir /tmp/prep \\
        [--n-buckets 64]

Outputs under ``--out-dir``:

- ``corpus/``   packed training corpus (doc_id, source, lang, clean_text,
  n_tokens, tok_start, first_seq, last_seq), written bucketed by doc_id
  (``n_buckets``) so downstream joins/resumes are co-partitioned.
- ``weights/``  the mixture-weights table (basis points).
- ``manifest.json``  row counts per stage — the job's lineage record.

Every stage is a bounded equi-join / aggregate over the shared operator
library (operators/pretrain.py, operators/quality.py) — identical code
paths to the hash-oracled driver queries, composed instead of run alone.
The synthetic corpus ships one embedding per document (vec_id == doc_id),
which is how a real pipeline would key document-level embeddings too.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--run-id", default="run")
    args = ap.parse_args()

    from mindocr_spark.session import get_spark

    spark = get_spark(app_name="mindocr_spark_corpus_prep")

    stats = run_corpus_prep(
        spark, args.sf_dir, args.out_dir, args.n_buckets, run_id=args.run_id
    )
    print(json.dumps(stats))
    spark.stop()


def run_corpus_prep(
    spark, sf_dir: str, out_dir: str, n_buckets: int = 64, run_id: str = "run"
) -> dict:
    """Run (or exactly resume) the bucketed corpus-prep job.

    Resume protocol = ``plans/lineage.run_bucketed``, the extraction job's:
    doc_id hash buckets, one dynamic-overwrite write of the pending
    buckets, then one lineage row per written bucket (``n_docs``,
    ``n_tokens`` and the write's wall time) appended after the commit;
    completed buckets are filtered away on restart.
    The cross-document signals (near-dup clusters, boilerplate line
    frequencies, packing offsets) are GLOBAL: they are deterministically
    recomputed over the full corpus on resume — only the final per-bucket
    materialization and write are skipped (at production scale those
    signals live as stored tables maintained incrementally, the
    minhash_lsh_incremental pattern; the recomputation here keeps the
    job stateless-in, exact-out). That is also why the job commits all
    pending buckets in one write rather than bucket by bucket: a crash
    loses those signals whatever was committed, so per-bucket commits
    would save no recomputation. Correctness of the resume filter
    placement (the bucket predicate must not push beneath the line-
    frequency aggregate or the packing windows — Catalyst only pushes
    predicates through aggregates/windows on their own keys, and the
    hash bucket is neither) is pinned by
    tests/test_pretrain.py::test_corpus_prep_resume_is_exact.
    """
    from pyspark.sql import functions as F

    from mindocr_spark.operators.pretrain import (
        boilerplate_clean,
        mixture_weights,
        pack_token_layout,
        redact_pii,
        semdedup_flags,
    )
    from mindocr_spark.operators.quality import training_corpus_filter
    from mindocr_spark.operators.similarity import _emb, _with_norm
    from mindocr_spark.plans.lineage import run_bucketed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_raw = docs.count()

    # 1. near-dup keepers + quality floor + language allow-list
    kept = training_corpus_filter(spark, sf_dir).select("doc_id")
    # 2. semantic dedup: drop docs whose document embedding has a kept
    #    lower-id semantic twin in its cell (vec_id keys doc_id)
    sem_kept = (
        semdedup_flags(_with_norm(_emb(spark, sf_dir)))
        .filter(F.col("is_kept") == 1)
        .select(F.col("vec_id").alias("doc_id"))
    )
    survivors = docs.join(kept, "doc_id").join(sem_kept, "doc_id")
    n_kept = survivors.count()

    # 3. boilerplate strip over the SURVIVING corpus only, then 4. PII scrub
    cleaned = boilerplate_clean(survivors.select("doc_id", "text"))
    scrubbed = (
        redact_pii(cleaned, "cleaned_text")
        .select(
            "doc_id",
            "n_removed",
            F.col("redacted").alias("clean_text"),
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias("n_pii"),
        )
        # a doc whose every line was boilerplate contributes nothing
        .filter(F.length("clean_text") > 0)
    )

    # 5. pack the cleaned token stream into fixed-length sequences
    packed = pack_token_layout(
        scrubbed.select(
            "doc_id",
            F.size(F.split("clean_text", " ")).cast("long").alias("n_tokens"),
        )
    )

    final = (
        survivors.select("doc_id", "source", "lang")
        .join(scrubbed, "doc_id")
        .join(packed, "doc_id")
        .select(
            "doc_id", "source", "lang", "clean_text", "n_pii", "n_removed",
            "n_tokens", "tok_start", "first_seq", "last_seq",
        )
    )
    corpus_path = os.path.join(out_dir, "corpus")
    job = run_bucketed(
        spark, final.filter, corpus_path, n_buckets, run_id,
        {"n_tokens": F.sum("n_tokens")},
    )

    # 6. sampling weights over the ORIGINAL corpus composition (the
    # mixture decision is made on what exists, not on what survived)
    weights = mixture_weights(spark, sf_dir)
    weights_path = os.path.join(out_dir, "weights")
    weights.write.mode("overwrite").parquet(weights_path)

    from mindocr_spark.operators.pretrain import SEQ_LEN

    out = spark.read.parquet(corpus_path)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum("n_tokens").alias("tok"),
        F.max(F.col("tok_start") + F.col("n_tokens")).alias("end"),
    ).collect()[0]
    stats = {
        "n_raw": n_raw,
        "n_kept": n_kept,
        "n_written": agg["n"],
        "total_tokens": agg["tok"],
        "n_sequences": (agg["end"] + SEQ_LEN - 1) // SEQ_LEN if agg["end"] else 0,
        "n_weight_groups": weights.count(),
        "buckets_total": n_buckets,
        "buckets_skipped": job["buckets_skipped"],
        "buckets_processed": job["buckets_processed"],
        "out_dir": out_dir,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(stats, f, indent=2)
    return stats


if __name__ == "__main__":
    main()
