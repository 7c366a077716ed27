"""Cluster job entry point: the resumable bucketed extraction.

Submit::

    python tools/package.py
    spark-submit --py-files dist/mindocr_spark.zip jobs/extract_job.py \\
        --corpus-dir /path/corpus --out-dir /path/out \\
        [--mode fused|exploded] [--n-buckets 256] [--run-id r1]

On a cluster the same command with ``--master yarn``/k8s and executor
settings; the job resumes from the per-bucket lineage table automatically
(see ``mindocr_spark/plans/lineage.py``).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--mode", default="fused", choices=["fused", "exploded"])
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--salt-buckets", type=int, default=0)
    args = ap.parse_args()

    from mindocr_spark.plans.extract import load_corpus
    from mindocr_spark.plans.lineage import run_extract_job
    from mindocr_spark.session import get_spark

    # the engine's session settings; the master is spark-submit's --master
    spark = get_spark(app_name="mindocr_spark_extract")

    spans, media = load_corpus(spark, args.corpus_dir)
    stats = run_extract_job(
        spark,
        spans,
        media,
        args.out_dir,
        mode=args.mode,
        n_buckets=args.n_buckets,
        run_id=args.run_id,
        salt_buckets=args.salt_buckets,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
