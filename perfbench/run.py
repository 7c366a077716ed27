"""Benchmark of the extraction engine at ``local[<cores>]``.

    python3 perfbench/run.py --workload ocr_heavy --seed 1 --seconds 10 --trace 0

Run from the repository root. One process per run: inputs are generated
from ``--seed``, a fresh Spark session starts, untimed warm passes run,
and the workload's operation repeats until ``--seconds`` of timed work
are done. Every timed output is checked after the clock stops. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
(documents) and ``metrics``, whose times are CPU seconds of the process
tree (steal left out; ``perfbench/README.md`` says why); the line before
it lists the input properties, the median wall time and docs/s, the wall
set-up time, the wall, CPU and warm samples, the peak memory of the
Python side (this process and the Python workers; the end-to-end figure),
and the count of Spark ERROR log lines.
``--trace 1`` replaces the timed loop with the per-layer run of
``perfbench/trace.py`` and prints the per-layer metrics instead; it also
writes the near-dup queries' input.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ocr_heavy", "shared_media")
TRIVIAL_TASKS = 64
MIN_SAMPLES = 5  # timed operations per run, at least
_ERROR_LINE = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


class StderrCapture:
    """Sends fd 2 (this process, the JVM and the Python workers) to a file
    for the run, so Spark's ERROR lines can be counted; replays the file to
    the real stderr on exit."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self) -> "StderrCapture":
        sys.stderr.flush()
        self._saved = os.dup(2)
        self._file = open(self.path, "wb")
        os.dup2(self._file.fileno(), 2)
        return self

    def __exit__(self, *exc) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._file.close()
        with open(self.path, "rb") as f:
            sys.stderr.buffer.write(f.read())
        sys.stderr.flush()

    def error_lines(self) -> int:
        with open(self.path, "rb") as f:
            return len(_ERROR_LINE.findall(f.read()))


def _configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the run's work dir."""
    for sub in ("tmp", "spark-local", "memo", "sock"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["MINDOCR_CORPUS_MEMO_DIR"] = f"{work}/memo"
    # the engine's own memory settings; -UsePerfData only keeps the JVM
    # from writing its hsperfdata file outside the checkout
    os.environ["MINDOCR_SPARK_EXTRA_CONF"] = ";".join([
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp "
        "-XX:-UsePerfData",
        # relative: a socket path may hold only 107 bytes, and the checkout
        # may sit deep; every process of the run shares this cwd
        f"spark.python.unix.domain.socket.dir={os.path.relpath(work)}/sock",
    ])


def _trivial_job(spark) -> float:
    """Seconds for one job of TRIVIAL_TASKS identity mapInPandas tasks."""

    def ident(batches):
        yield from batches

    t0 = time.perf_counter()
    spark.range(0, TRIVIAL_TASKS, 1, TRIVIAL_TASKS).mapInPandas(
        ident, "id long"
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _stop_spark() -> None:
    """Stop the session, if one started, and the JVM PySpark launched; wait
    for both and for every other child process."""
    from pyspark import SparkContext

    from .proctree import wait_children_gone

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    wait_children_gone()


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from mindocr_spark.session import get_spark

    from .inputs import dedup_input, make_corpus
    from .proctree import RssSampler, tree_cpu_s
    from .workloads import WARM_PASSES, check, run_op

    corpus = make_corpus(workload, seed, f"{work}/input")
    if trace:
        corpus.properties.update(dedup_input(seed, f"{work}/dedup"))
    cores = len(os.sched_getaffinity(0))
    layer: dict[str, float] = {}
    # a timed run samples only the Python side, and less often, to keep the
    # sampler's own CPU time out of the timed passes
    sampler = RssSampler() if trace else RssSampler(interval=0.25, with_jvm=False)
    with StderrCapture(f"{work}/spark.log") as log, sampler as rss:
        rss.reset()
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            spark = get_spark(app_name=f"perfbench-{workload}", cores=cores)
            spark.sparkContext.setLogLevel("ERROR")
            layer["session.start_s"] = time.perf_counter() - t0
            if trace:
                layer["session.warm_s"] = _trivial_job(spark)
                layer["session.trivial_task_ms"] = _trivial_job(spark) * 1e3
            warm = []
            for i in range(WARM_PASSES):
                t = time.perf_counter()
                run_op(spark, corpus, f"{work}/warm/{i}")
                warm.append(time.perf_counter() - t)
            setup_wall_s = time.perf_counter() - t0
            setup_cpu_s = tree_cpu_s(os.getpid()) - c0
            if trace:
                from .trace import traced_run

                layer.update(traced_run(spark, corpus, work, cores, rss))
                outputs = [(f"{work}/trace/extract", False), (f"{work}/trace/job", True)]
                walls, cpus = [], []
            else:
                outputs, walls, cpus = [], [], []
                while sum(walls) < seconds or len(walls) < MIN_SAMPLES:
                    out = f"{work}/out/{len(walls)}"
                    c, t = tree_cpu_s(os.getpid()), time.perf_counter()
                    run_op(spark, corpus, out)
                    walls.append(time.perf_counter() - t)
                    cpus.append(tree_cpu_s(os.getpid()) - c)
                    outputs.append((out, False))
        finally:
            _stop_spark()
        parts = ("tree", "jvm", "python") if trace else ("python",)
        peak_pss = {k: rss.peak_mb(k) for k in parts}
    layer["session.error_log_lines"] = log.error_lines()

    attempted = failed = 0
    for out, job in outputs:
        a, f = check(corpus, out, job)
        attempted += a
        failed += f
    if trace:
        metrics = {k: layer[k] for k in sorted(layer)}
    else:
        metrics = {
            "cpu_s": statistics.median(cpus),
            "setup_s": setup_cpu_s,
            "python_peak_rss_mb": peak_pss["python"],
        }
    wall_s = statistics.median(walls) if walls else None
    return {
        "inputs": dict(corpus.properties, seed=seed, workload=workload),
        "run": {"cores": cores, "wall_s": wall_s,
                "docs_per_s": corpus.n_docs / wall_s if walls else None,
                "setup_wall_s": setup_wall_s, "wall_samples_s": walls,
                "cpu_samples_s": cpus, "warm_samples_s": warm,
                "peak_pss_mb": peak_pss,
                "spark_error_log_lines": layer["session.error_log_lines"]},
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mindocr_spark")):
        print(f"perfbench: no mindocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    _configure_env(work)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = out["result"]
    units = declared_metrics(bool(args.trace))
    if set(units) != set(res["metrics"]):
        print(f"perfbench: measured {sorted(res['metrics'])}, declared {sorted(units)}",
              file=sys.stderr)
        return 3
    res["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    print(json.dumps({"inputs": out["inputs"], "run": out["run"]}))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: import the benchmark as the `perfbench` package
        sys.path.insert(0, ROOT)
        from perfbench.run import main as _main

        raise SystemExit(_main())
    raise SystemExit(main())
