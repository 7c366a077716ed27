"""Round-7 optimization measurement harness (bench.py is FROZEN — this
file exists so per-query isolation, explain capture and stage-level
attribution never touch the driver-timed artifact).

Usage:
  python bench_extra.py q1 q2 ...        # time the named queries (bench
                                         # methodology: noop sink, best-of-2,
                                         # clearCache between reps)
  python bench_extra.py --all            # the full HEADLINE list
  python bench_extra.py --explain q ...  # also write plan_dumps/<q>_<tag>.txt
  python bench_extra.py --tag before ... # tag for the explain files
  python bench_extra.py --stages q       # per-stage wall/metrics via the
                                         # UI REST API (single query)
  python bench_extra.py --reps N         # override rep count (default 2)
  python bench_extra.py --workers q ...  # after the timed queries, one JSON
                                         # line: PSS and Private_Dirty (MB,
                                         # smaps_rollup) of the Python daemon
                                         # and of each worker it forked

Same env contract as bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
Run EXCLUSIVELY (no concurrent pytest) or numbers are garbage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402  (frozen list, reused read-only)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _proc_memory_mb(pid: int) -> dict:
    out = {"pid": pid}
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("Pss", "Private_Dirty"):
                out[f"{key.lower()}_mb"] = round(int(rest.split()[0]) / 1024, 1)
    return out


def _worker_memory() -> dict:
    """PSS and Private_Dirty of each Python daemon under this process's JVM
    (a non-JVM process running a ``*daemon`` module; the JVM's own command
    line names the daemon conf) and of every worker it forked (same command
    line, the daemon as parent)."""
    from perfbench.proctree import descendants

    parent = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdline = f.read()
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index(b"(") + 1 : stat.rindex(b")")]
        if b"daemon" in cmdline and comm != b"java":
            parent[pid] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    daemons = sorted(p for p, pp in parent.items() if pp not in parent)
    workers = sorted(p for p, pp in parent.items() if pp in parent)
    return {
        "python_daemons": [_proc_memory_mb(p) for p in daemons],
        "python_workers": [_proc_memory_mb(p) for p in workers],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    args = sys.argv[1:]
    do_explain = "--explain" in args
    do_stages = "--stages" in args
    do_workers = "--workers" in args
    tag = "before"
    if "--tag" in args:
        tag = args[args.index("--tag") + 1]
        args.remove("--tag")
        args.remove(tag)
    reps = 2
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = [a for a in args if not a.startswith("--")]
    if "--all" in args or not names:
        names = list(HEADLINE)

    import __spark_entry__ as entrymod
    from mindocr_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm exactly like bench.py so steady-state matches
    from mindocr_spark.data.derive_corpus import derive_from_docs
    from mindocr_spark.plans.extract import extract as _extract

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _w_spans, _w_media = derive_from_docs(docs.limit(64))
    _materialize(_extract(spark, _w_spans, _w_media, mode="fused"))

    times: dict[str, list[float]] = {}
    for name in names:
        fn = qs[name]
        if do_explain:
            import contextlib
            import io

            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            os.makedirs("plan_dumps", exist_ok=True)
            with open(f"plan_dumps/{name}_{tag}.txt", "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{name}")
            t0 = time.time()
            _materialize(fn(spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        times[name] = samples
        print(f"{name}: best={min(samples)} samples={samples}", flush=True)

    if do_workers:
        print(json.dumps({"worker_memory": _worker_memory()}), flush=True)

    if do_stages and len(names) == 1:
        # stage-level attribution from the local UI REST API
        import urllib.request

        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete") as r:
            stages = json.loads(r.read())
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        for s in stages[:25]:
            print(
                f"stage {s['stageId']}: run={s['executorRunTime']/1000.0:.2f}s "
                f"cpu={s.get('executorCpuTime',0)/1e9:.2f}s "
                f"tasks={s['numCompleteTasks']} "
                f"shufR={s.get('shuffleReadBytes',0)>>20}MB "
                f"shufW={s.get('shuffleWriteBytes',0)>>20}MB "
                f"in={s.get('inputBytes',0)>>20}MB  {s['name'][:90]}"
            )

    total_best = sum(min(v) for v in times.values())
    print(json.dumps({"total_best": round(total_best, 3),
                      "queries": {k: min(v) for k, v in times.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
