"""Paired CPU A/B of every ``config.persist_intermediate`` call site that a
set of registered queries reaches: does the cache pay for itself?

Usage::

    python tools/persist_ab.py --sf-dir DIR --queries q1,q2,...
        [--tree DIR] [--out FILE]

``--tree`` is the checkout whose ``mindocr_spark`` and
``__spark_entry__`` are measured (default: this one; a ``git archive`` of
an older commit measures its sites). One warm ``local[4]`` session runs
everything. The call sites are found by parsing the tree's engine
source; an untimed first run of each query records which sites it
reaches and the sha256 of its sorted rows.

Each variant replaces ``persist_intermediate`` with a wrapper that looks
at its caller and returns the frame unpersisted for the dropped sites
(the source is not edited): "kept" drops none; each site is dropped
alone; and a query that reaches two or more sites also runs with all of
them dropped. Each variant times every query that reaches its dropped
sites: the process-tree CPU (driver, JVM and Python workers,
``perfbench.proctree``) of a noop write followed by ``clearCache()``. The
"kept" runs and the variant's runs alternate which goes first over PAIRS
pairs, after one untimed run of each whose rows must hash as "kept"'s.

Prints one line per variant and query and writes the per-pair figures as
JSON to ``--out``; a query is ``slower_without`` in a pair when its CPU
there is above "kept"'s.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10
CORES = 4
sys.path.insert(0, HERE)

from perfbench.proctree import tree_cpu_s  # noqa: E402


def call_sites(tree: str) -> list[tuple[str, str, str, int, int]]:
    """(site name, file, enclosing def, first line, last line) of every
    ``persist_intermediate(...)`` call under ``<tree>/mindocr_spark``. A
    site is named ``module.def:target`` after the name it assigns (or
    ``return``)."""
    sites = []
    root = os.path.join(tree, "mindocr_spark")
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                mod = ast.parse(f.read())
            for fdef in ast.walk(mod):
                if not isinstance(fdef, ast.FunctionDef):
                    continue
                for st in ast.walk(fdef):
                    call = getattr(st, "value", None)
                    if not (
                        isinstance(st, (ast.Assign, ast.Return))
                        and isinstance(call, ast.Call)
                        and getattr(call.func, "id", "") == "persist_intermediate"
                    ):
                        continue
                    target = (
                        st.targets[0].id if isinstance(st, ast.Assign) else "return"
                    )
                    name = f"{fn[:-3]}.{fdef.name}:{target}"
                    sites.append(
                        (name, os.path.realpath(path), fdef.name,
                         call.lineno, call.end_lineno)
                    )
    return sites


class Switch:
    """The ``persist_intermediate`` stand-in: persists as the original
    does unless the calling site is in ``drop``; records reached sites."""

    def __init__(self, original, sites):
        self.original = original
        self.sites = sites
        self.drop: set[str] = set()
        self.reached: set[str] = set()

    def __call__(self, df):
        f = sys._getframe(1)
        path = os.path.realpath(f.f_code.co_filename)
        for name, p, fdef, lo, hi in self.sites:
            if p == path and fdef == f.f_code.co_name and lo <= f.f_lineno <= hi:
                self.reached.add(name)
                return df if name in self.drop else self.original(df)
        raise RuntimeError(f"unknown persist site {path}:{f.f_lineno}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--tree", default=HERE)
    ap.add_argument("--out")
    args = ap.parse_args()

    tree = os.path.realpath(args.tree)
    sys.path.insert(0, tree)
    import mindocr_spark

    if not os.path.realpath(mindocr_spark.__file__).startswith(tree + os.sep):
        raise SystemExit(f"mindocr_spark imported from {mindocr_spark.__file__}")
    from __spark_entry__ import queries
    from mindocr_spark import config
    from mindocr_spark.session import get_spark

    sites = call_sites(tree)
    switch = Switch(config.persist_intermediate, sites)
    for mod in list(sys.modules.values()):
        if getattr(mod, "persist_intermediate", None) is switch.original:
            mod.persist_intermediate = switch

    spark = get_spark(app_name="persist_ab", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    registry = queries()
    names = args.queries.split(",")
    pid = os.getpid()

    def rows_sha(q):
        df = registry[q](spark, args.sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        spark.catalog.clearCache()
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    def cpu(q, drop):
        switch.drop = drop
        t0 = tree_cpu_s(pid)
        registry[q](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return round(tree_cpu_s(pid) - t0, 3)

    reach, sha = {}, {}
    for q in names:
        switch.reached = set()
        sha[q] = rows_sha(q)
        reach[q] = sorted(switch.reached)
    variants = [
        (s, [q for q in names if s in reach[q]])
        for s in sorted({s for q in names for s in reach[q]})
    ]
    variants += [("+".join(reach[q]), [q]) for q in names if len(reach[q]) > 1]

    out = {
        "argv": sys.argv[1:],
        "tree": tree,
        "sf_dir": args.sf_dir,
        "cores": CORES,
        "sites": {q: reach[q] for q in names},
        "rows_sha256": sha,
        "variants": [],
    }
    for label, qs in variants:
        drop = set(label.split("+"))
        switch.drop = drop
        for q in qs:
            if rows_sha(q) != sha[q]:
                raise SystemExit(f"{q}: rows differ without {label}")
        cpus = {q: ([], []) for q in qs}  # (kept, without) per query
        for i in range(PAIRS):
            for arm in ((0, 1) if i % 2 == 0 else (1, 0)):
                for q in qs:
                    cpus[q][arm].append(cpu(q, drop if arm else set()))
        rec = {"dropped": sorted(drop), "queries": {}}
        for q, (kept, without) in cpus.items():
            slower = sum(w > k for k, w in zip(kept, without))
            rec["queries"][q] = {
                "kept_cpu_s": kept,
                "without_cpu_s": without,
                "kept_median": round(statistics.median(kept), 3),
                "without_median": round(statistics.median(without), 3),
                "slower_without": slower,
            }
            print(
                f"{label:60s} {q}: kept {statistics.median(kept):.2f} s, "
                f"without {statistics.median(without):.2f} s, slower without "
                f"in {slower}/{PAIRS}",
                flush=True,
            )
        out["variants"].append(rec)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
