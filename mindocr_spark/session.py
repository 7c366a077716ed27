"""SparkSession factory with the engine's tuned defaults.

Tuning rationale (SURVEY.md §4):
- AQE on: runtime re-plan + skew splitting for media-heavy documents.
- Arrow on + small ``maxRecordsPerBatch``: media rows carry whole images;
  a batch of 64 bounds executor-python memory while still amortizing the
  Arrow IPC boundary (the analogue of the reference's ``rec_batch_num``
  micro-batching, ``predict_rec.py:139-197``).
- shuffle partitions sized for local[32]; on a real cluster AQE coalesces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import ARROW_MAX_RECORDS, SHUFFLE_PARTITIONS


def _pin_blas_threads() -> None:
    """One BLAS/OMP thread per python worker: each Spark task is already a
    process; letting OpenBLAS fan out inside every worker oversubscribes the
    box and collapses scaling of the numpy-heavy UDF stages."""
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")


def _local_master(cores: int | None = None) -> str | None:
    """``local[n]`` for a caller-sized local session (``cores``, else the
    ``SPARK_GRAFT_CPUS`` environment variable); None leaves the master to
    the launcher: spark-submit's ``--master``, or its ``local[*]`` default."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or None
    return None if cores is None else f"local[{cores}]"


def get_spark(
    app_name: str = "mindocr_spark",
    cores: int | None = None,
    shuffle_partitions: int = SHUFFLE_PARTITIONS,
) -> SparkSession:
    _pin_blas_threads()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled", "true"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # python workers import the daemon shim (below) from the directory
        # or --py-files zip this package came from, whatever the driver's
        # cwd: under spark-submit the JVM is already running when this
        # code does, so the driver's own environment never reaches them
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        # wide-aggregate codegen: the 129-column minhash
        # aggregates exceed the default 100-field whole-stage-codegen
        # ceiling and fell back to interpreted evaluation; 1024 keeps them
        # compiled (paired in-session A/B: md5 minhash agg ~12% faster
        # steady-state; one-time Janino compile absorbed by warmup).
        .config("spark.sql.codegen.maxFields", "1024")
        # python workers boot through our daemon shim, which
        # backports CPython 3.12's zipimport.invalidate_caches mtime check
        # (gh-87382). Without it, EVERY task's setup_spark_files re-parses
        # the pyspark.zip central directory — measured 160 ms of worker CPU
        # per task, the largest single per-task cost in every Python stage
        # (see mindocr_spark/spark_daemon.py and OPTIMIZATION_r07.md).
        # Before forking, the daemon imports numpy, pandas, pyarrow and
        # pyspark's worker + Arrow serializers and gc.freeze()s them, so
        # every worker shares those pages copy-on-write instead of holding
        # a private copy. Engine modules are left out: workers load them
        # from the task's sys.path, so --py-files/addPyFile updates apply.
        # MINDOCR_SPARK_EXTRA_CONF (below) is applied last, so
        # spark.python.daemon.module=pyspark.daemon reverts to the stock one.
        .config("spark.python.daemon.module", "mindocr_spark.spark_daemon")
    )
    if os.name == "posix":
        # JVM<->python-worker channel over a unix domain socket
        # (Spark 4.1 feature) — skips the localhost TCP stack + per-connect
        # auth on every worker channel; measured ~5-10% off python-stage
        # task latency (ABAB microbench, OPTIMIZATION_r07.md).
        builder = builder.config(
            "spark.python.unix.domain.socket.enabled", "true"
        )
    # scale/deploy-specific overrides without code changes (e.g. a cluster
    # points MINDOCR_SPARK_EXTRA_CONF at its shuffle/io/codegen settings);
    # ';'-separated key=value pairs, applied last so they win
    extra = os.environ.get("MINDOCR_SPARK_EXTRA_CONF", "")
    for kv in extra.split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    master = _local_master(cores)
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()
