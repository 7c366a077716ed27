"""What each workload times, and the check of what it wrote.

Every timed operation writes its whole result to a fresh directory; the
check reads that directory after the clock stops, so the output checked is
the output timed (no second execution, and no ``count()``, which would let
Catalyst prune the OCR stages).
"""

from __future__ import annotations

import pyarrow.parquet as pq

from .inputs import Corpus, spans_from_records

# Untimed passes before the clock starts. Pass times keep falling while the
# JVM compiles the hot paths and grows its heap and the Python workers
# settle: the first pass takes 3-5x the fifth, and CPU time per pass still
# falls slowly after that, so the clock starts at the sixth.
WARM_PASSES = 5


def run_op(spark, corpus: Corpus, out_dir: str) -> None:
    """The timed operation: the stored corpus in, fused ``extract``, the
    complete result written to ``out_dir``."""
    from mindocr_spark.plans.extract import extract, load_corpus

    spans, media = load_corpus(spark, corpus.dir)
    extract(spark, spans, media, mode="fused").write.parquet(out_dir)


def check(corpus: Corpus, out_dir: str, job: bool) -> tuple[int, int]:
    """(attempted, failed) documents of one written result. A document
    fails when it is missing, duplicated, unexpected, or its span sequence
    differs from the expected one; a ``job`` output's lineage must also
    count every document once."""
    rows = pq.read_table(out_dir, columns=["doc_id", "out_spans"]).to_pylist()
    got: dict[str, object] = {}
    failed = 0
    for r in rows:
        if r["doc_id"] in got or r["doc_id"] not in corpus.expected:
            failed += 1
            continue
        try:
            got[r["doc_id"]] = spans_from_records(r["out_spans"])
        except ValueError:
            got[r["doc_id"]] = None
    failed += sum(got.get(d) != exp for d, exp in corpus.expected.items())
    if job:
        lineage = pq.read_table(f"{out_dir}/_lineage", columns=["n_docs"])
        failed += abs(sum(lineage.column("n_docs").to_pylist()) - corpus.n_docs)
    return corpus.n_docs, min(failed, corpus.n_docs)
