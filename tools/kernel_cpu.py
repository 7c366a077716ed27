"""Single-thread kernel CPU of two source trees, stage by stage, in one
process.

Usage::

    python tools/kernel_cpu.py <other-tree> <sf-dir> [--rounds N]
        [--label TEXT] [--out FILE]

``<other-tree>`` is a checkout of another commit (``git archive`` of the
parent, say); ``<sf-dir>`` holds the scale-factor ``documents.parquet``.
Both trees' ``mindocr_spark`` load in this process under two package
names (the engine imports itself only relatively), so both run on the
same interpreter, heap and CPU state: run as two processes, paired A/Bs
on a shared 4-core VM swung by +-20% per pair.

Payload sets: the media rows of perfbench's ``ocr_heavy`` and
``shared_media`` inputs at seed 1 (``perfbench.inputs.make_corpus``, in a
temporary directory) and the media rows derived from ``<sf-dir>``. Each
round times, per tree and per set, the media path's stages one at a time
over every payload, in the order the fused OCR UDF applies them
(``kernels.system.media_payload_text``):

- ``route_table``: ``route_payload`` (decode, ruled-table OCR, PDF text);
- ``det_score``: ``det_resize`` + ``det_score`` of every page;
- ``db_postprocess``: ``db_postprocess`` + ``validate_det_res``, the
  poly profile's quad fit and the reading order (``detect_quads``);
- ``crop``: ``crop_box`` of every quad;
- ``cls_rec``: ``classify_and_recognize`` of every crop.

CPU is ``time.process_time``. The trees alternate which runs first from
round to round, after one untimed round each (it also checks that the
staged det equals ``detect_quads``). Prints one line per set and stage and
writes the per-round figures as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import importlib.util
import json
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGES = ("route_table", "det_score", "db_postprocess", "crop", "cls_rec")


def load_tree(tree: str, name: str):
    """Import ``<tree>/mindocr_spark`` as package ``name``; returns a
    function resolving its submodules."""
    pkg = os.path.join(tree, "mindocr_spark")
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg]
    )
    module = importlib.util.module_from_spec(spec)
    sys.modules[name] = module
    spec.loader.exec_module(module)
    return lambda sub: importlib.import_module(f"{name}.{sub}")


def payload_sets(sf_dir: str) -> dict[str, list[tuple[bytes | None, str | None]]]:
    """(payload, profile) of every media row of each set."""
    import pandas as pd
    import pyarrow.parquet as pq

    sys.path.insert(0, HERE)
    from mindocr_spark.data.derive_corpus import derive_corpus_pandas
    from perfbench.inputs import make_corpus

    sets = {}
    for workload in ("ocr_heavy", "shared_media"):
        with tempfile.TemporaryDirectory() as tmp:
            make_corpus(workload, 1, tmp)
            media = pq.read_table(
                f"{tmp}/media.parquet", columns=["image", "profile"]
            ).to_pylist()
        sets[f"perfbench_{workload}_seed1"] = [
            (m["image"], m["profile"]) for m in media
        ]
    media = derive_corpus_pandas(pd.read_parquet(f"{sf_dir}/documents.parquet"))[1]
    sets["sf0.01_derived"] = list(zip(media["image"], media["profile"]))
    return sets


class Tree:
    """One tree's media-path stages."""

    def __init__(self, mod):
        self.system = mod("kernels.system")
        self.det = mod("kernels.det")
        self.geometry = mod("functions.geometry")
        self.ordering = mod("functions.ordering")

    def quads(self, img, polys, scores, box_mode):
        import numpy as np

        polys, _ = self.det.validate_det_res(polys, scores, img.shape[0], img.shape[1])
        if box_mode == "poly":
            polys = [
                self.geometry.order_points_clockwise(
                    self.geometry.min_area_rect(p.astype(np.float64))[0]
                ).astype(np.int64)
                for p in polys
            ]
        return [polys[i] for i in self.ordering.sorted_boxes(polys)]

    def run(self, payloads, check: bool = False) -> dict[str, float]:
        """Every stage over every payload; CPU seconds per stage."""
        s, det = self.system, self.det
        cpu = {}

        def timed(stage, fn):
            gc.collect()
            t0 = time.process_time()
            out = fn()
            cpu[stage] = time.process_time() - t0
            return out

        routed = timed("route_table", lambda: [
            (s.route_payload(p)[1], prof) for p, prof in payloads
        ])
        pages = [(img, prof) for img, prof in routed if img is not None]
        scored = timed("det_score", lambda: [
            (img, prof, *_score(det, img)) for img, prof in pages
        ])
        boxed = timed("db_postprocess", lambda: [
            (img, prof, self.quads(
                img, *det.db_postprocess(prob, shape, s.profile_heads(prof)[1]),
                s.profile_heads(prof)[1],
            ))
            for img, prof, prob, shape in scored
        ])
        if check:
            for img, prof, quads in boxed:
                want = s.detect_quads(img, box_mode=s.profile_heads(prof)[1])
                assert [q.tolist() for q in quads] == [q.tolist() for q in want]
        crops = timed("crop", lambda: [
            (s.crop_box(img, q), prof) for img, prof, quads in boxed for q in quads
        ])
        timed("cls_rec", lambda: [
            s.classify_and_recognize(c, decoder=s.profile_heads(prof)[0])
            for c, prof in crops
        ])
        cpu["pages"], cpu["crops"] = len(pages), len(crops)
        return cpu


def _score(det, img):
    resized, shape = det.det_resize(img)
    return det.det_score(resized), shape


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("other_tree")
    ap.add_argument("sf_dir")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--label", default="", help="what the other tree is")
    ap.add_argument("--out", default="BENCH_kernel_cpu_ab.json")
    args = ap.parse_args()
    trees = {
        "this": Tree(load_tree(HERE, "_kcpu_this")),
        "other": Tree(load_tree(os.path.abspath(args.other_tree), "_kcpu_other")),
    }
    result = {"other": args.label or os.path.basename(os.path.abspath(args.other_tree)),
              "rounds": args.rounds, "stages": list(STAGES), "sets": {}}
    for name, payloads in payload_sets(args.sf_dir).items():
        for tree in trees.values():
            tree.run(payloads, check=True)  # untimed: warms both trees
        per = {t: {st: [] for st in STAGES} for t in trees}
        for r in range(args.rounds):
            for t in (("this", "other") if r % 2 == 0 else ("other", "this")):
                cpu = trees[t].run(payloads)
                for st in STAGES:
                    per[t][st].append(round(cpu[st], 4))
        totals = {t: [round(sum(v), 4) for v in zip(*per[t].values())] for t in trees}
        entry = {
            "payloads": len(payloads), "pages": cpu["pages"], "crops": cpu["crops"],
            "this_s": per["this"], "other_s": per["other"],
            "this_total_s": totals["this"], "other_total_s": totals["other"],
            "ratio_median": {
                st: round(statistics.median(per["this"][st])
                          / statistics.median(per["other"][st]), 3)
                for st in STAGES
            },
            "total_ratio_median": round(statistics.median(totals["this"])
                                        / statistics.median(totals["other"]), 3),
            "rounds_this_faster": sum(
                a < b for a, b in zip(totals["this"], totals["other"])
            ),
        }
        result["sets"][name] = entry
        for st in STAGES:
            print(f"{name:28s} {st:15s} other {statistics.median(per['other'][st]):7.3f} s"
                  f"  this {statistics.median(per['this'][st]):7.3f} s"
                  f"  ratio {entry['ratio_median'][st]:.3f}")
        print(f"{name:28s} {'TOTAL':15s} other {statistics.median(totals['other']):7.3f} s"
              f"  this {statistics.median(totals['this']):7.3f} s"
              f"  ratio {entry['total_ratio_median']:.3f}"
              f"  this faster in {entry['rounds_this_faster']}/{args.rounds} rounds")
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
