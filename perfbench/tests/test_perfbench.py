"""Tests of the benchmark itself: seeded inputs, the output check, and the
repeatability of the traced counts.

    python3 -m pytest perfbench/tests -q      # about four minutes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.inputs import GENERATORS, make_corpus  # noqa: E402
from perfbench.workloads import check  # noqa: E402

OUT_SPANS = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("order", pa.int32()),
]))


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_seed_gives_byte_identical_inputs(workload, tmp_path):
    a = make_corpus(workload, 11, str(tmp_path / "a"))
    b = make_corpus(workload, 11, str(tmp_path / "b"))
    c = make_corpus(workload, 12, str(tmp_path / "c"))
    assert _files(a.dir) == _files(b.dir)
    assert a.expected == b.expected and a.properties == b.properties
    assert _files(a.dir)["documents_spans.parquet"] != _files(c.dir)["documents_spans.parquet"]


def _write_output(corpus, out_dir: str, alter: str | None = None) -> None:
    """The engine's output schema, built from the expected spans; ``alter``
    names one document whose last span text is changed."""
    docs, spans = [], []
    for doc_id, exp in corpus.expected.items():
        recs = [{"kind": k, "text": t, "media_ref": r, "order": i}
                for i, (k, t, r) in enumerate(exp)]
        if doc_id == alter:
            recs[-1]["text"] += "x"
        docs.append(doc_id)
        spans.append(recs)
    os.makedirs(out_dir)
    pq.write_table(
        pa.table({"doc_id": pa.array(docs), "out_spans": pa.array(spans, OUT_SPANS)}),
        f"{out_dir}/part-0.parquet",
    )
    os.makedirs(f"{out_dir}/_lineage")
    pq.write_table(pa.table({"n_docs": pa.array([corpus.n_docs], pa.int64())}),
                   f"{out_dir}/_lineage/part-0.parquet")


def test_altered_output_span_is_a_failure(tmp_path):
    corpus = make_corpus("shared_media", 3, str(tmp_path / "in"))
    _write_output(corpus, str(tmp_path / "good"))
    assert check(corpus, str(tmp_path / "good"), job=True) == (corpus.n_docs, 0)
    victim = next(d for d, exp in corpus.expected.items() if exp)
    _write_output(corpus, str(tmp_path / "bad"), alter=victim)
    attempted, failed = check(corpus, str(tmp_path / "bad"), job=True)
    assert failed == 1 and failed / attempted > 0


def _traced_counts(seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "shared_media",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"], res
    return {k: res["metrics"][k]["value"] for k in
            ("kernels.boxes", "kernels.crops_dropped", "media_path.ocr_rows")}


def test_traced_counts_repeat_exactly():
    first, second = _traced_counts(5), _traced_counts(5)
    assert first == second
    assert first["kernels.boxes"] > 0 and first["media_path.ocr_rows"] > 0
