"""Derived-corpus path (the driver's flagship entry): Spark extraction over
spans derived from the testdata documents table == pandas oracle."""

import pandas as pd
import pytest

from mindocr_spark.data.derive_corpus import derive_corpus_pandas, derive_from_docs
from mindocr_spark.oracle.pipeline import extract_documents_oracle
from mindocr_spark.plans.extract import extract

SF_DIR = "/root/testdata/sf0.001"
# 3 full shape cycles (doc_id % 8) including both % 16 subshapes of m=6
# (media-only doc 6+22, missing-media doc 14) and shared-media docs 4/12/20
N_DOCS = 24


@pytest.fixture(scope="module")
def docs_pdf():
    return (
        pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "text"]]
        .head(N_DOCS)
        .reset_index(drop=True)
    )


def test_corpus_covers_every_shape(docs_pdf):
    """The head(24) slice exercises all 9 derived shapes (8 classes + the
    m=6 missing-media subclass): multi-span, interleaved offsets, shared
    media_refs, empty docs, media-only docs, missing media."""
    spans_pdf, media_pdf = derive_corpus_pandas(docs_pdf)
    by_doc = dict(zip(spans_pdf["doc_id"], spans_pdf["spans"]))
    media_refs = set(media_pdf["media_ref"])
    assert by_doc["doc_00000005"] == []  # empty doc
    assert [s["offset"] for s in by_doc["doc_00000002"]] == [4, 2, 0]  # unsorted
    assert sum(s["kind"] == "media" for s in by_doc["doc_00000003"]) == 2
    shared = [s for s in by_doc["doc_00000004"] if s["kind"] == "media"]
    assert shared[0]["media_ref"] == "img_00000001_01"  # doc 1's image
    assert shared[0]["media_ref"] in media_refs
    missing = [s for s in by_doc["doc_00000014"] if s["kind"] == "media"]
    assert missing[0]["media_ref"] not in media_refs  # decode-skip path
    assert [s["kind"] for s in by_doc["doc_00000006"]] == ["media"]
    assert [s["kind"] for s in by_doc["doc_00000007"]] == ["text", "text"]


@pytest.mark.parametrize(
    ("mode", "salt"), [("fused", 0), ("exploded", 0), ("fused", 3), ("exploded", 3)]
)
def test_derived_extraction_matches_oracle(spark, docs_pdf, mode, salt):
    spans_pdf, media_pdf = derive_corpus_pandas(docs_pdf)
    want = extract_documents_oracle(spans_pdf, media_pdf)

    docs = spark.createDataFrame(docs_pdf)
    spans, media = derive_from_docs(docs)
    rows = (
        extract(spark, spans, media, mode=mode, salt_buckets=salt)
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == len(want)
    for row, (_, orow) in zip(rows, want.iterrows()):
        got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["out_spans"]]
        exp = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in orow["out_spans"]]
        assert row["doc_id"] == orow["doc_id"]
        assert got == exp, row["doc_id"]


def test_entry_contract(spark):
    """entry(spark) returns a DataFrame with rows and a stable schema."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert dict(df.dtypes)["doc_id"] == "string"
    assert df.limit(3).count() == 3


def test_queries_oracle_keys_consistent():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as mod

    qs = mod.queries()
    osql = mod.oracle_sql()
    assert set(osql) <= set(qs)
    # every query except these has a DuckDB oracle (round 2: the flagship
    # extraction gained a full end-to-end oracle, EXTRACT_ORACLE_SQL;
    # round 4: the xxhash64 family gained generated-XXH64 oracles, so only
    # the OCR-pipeline byproducts remain rows-only — their "oracle" is the
    # pytest golden suite, not SQL)
    no_oracle = set(qs) - set(osql)
    assert no_oracle == {
        "ocr_golden_records",
        "image_meta_derived",
        "ocr_eval_selftest",
        "media_health",
        "tensor_stage_checksums",
        # round 5: TableMaster pred_html per ruled payload — OCR path,
        # exact HTML goldens in tests/test_table_extract.py
        "table_html_records",
        # round 5: iterative BPE trainer — the merge sequence is
        # data-dependent (no static SQL mirror exists); the exactness
        # oracle is the pure-Python reference BPE in tests/test_pretrain.py
        "bpe_train_merges",
        # round 5: perceptual image dedup — PNG decode has no SQL mirror;
        # kernel exact-pinned in tests/test_multimodal.py
        "image_dhash_signatures",
        "image_near_dup",
        # round 5: BPE encode — data-dependent merges, like the trainer
        "bpe_apply",
    }


def test_derive_corpus_memoization_exact(spark):
    """derive_corpus memoizes the rendered corpus to parquet per process;
    the read-back tables must equal a fresh (unmemoized) derivation
    row-for-row — a stale or lossy cache would silently decouple the
    flagship queries from the oracle."""
    from mindocr_spark.data import derive_corpus as dc

    import os

    cached_spans, cached_media = dc.derive_corpus(spark, SF_DIR)
    fresh_spans, fresh_media = dc.derive_from_docs(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    fp = dc._source_fingerprint(f"{SF_DIR}/documents.parquet")
    assert (SF_DIR, fp) in dc._CORPUS_CACHE

    cs = cached_spans.selectExpr("doc_id", "to_json(spans) AS s").toPandas()
    fs = fresh_spans.selectExpr("doc_id", "to_json(spans) AS s").toPandas()
    assert (
        cs.sort_values("doc_id").reset_index(drop=True).equals(
            fs.sort_values("doc_id").reset_index(drop=True)
        )
    )
    cm = cached_media.toPandas().sort_values("media_ref").reset_index(drop=True)
    fm = fresh_media.toPandas().sort_values("media_ref").reset_index(drop=True)
    assert list(cm["media_ref"]) == list(fm["media_ref"])
    assert all(
        (a is None and b is None) or bytes(a) == bytes(b)
        for a, b in zip(cm["image"], fm["image"])
    )


def test_derive_corpus_shared_memo_dir(spark, tmp_path, monkeypatch):
    """The cluster contract: with MINDOCR_CORPUS_MEMO_DIR set, the memo
    lands under that root at a deterministic path, and a cold process
    (cache cleared) serves the already-rendered parquet without
    re-deriving — the multi-driver / restart scenario."""
    import os

    from mindocr_spark.data import derive_corpus as dc

    monkeypatch.setenv("MINDOCR_CORPUS_MEMO_DIR", str(tmp_path))
    monkeypatch.setattr(dc, "_CORPUS_CACHE", {})
    spans1, _ = dc.derive_corpus(spark, SF_DIR)
    n1 = spans1.count()
    memo_dirs = os.listdir(tmp_path)
    assert len(memo_dirs) == 1 and memo_dirs[0].startswith("derived_")
    # simulate a restarted driver: empty cache, memo already on disk
    monkeypatch.setattr(dc, "_CORPUS_CACHE", {})
    monkeypatch.setattr(
        dc, "derive_from_docs",
        lambda *_: (_ for _ in ()).throw(
            AssertionError("restart must not re-render a present memo")
        ),
    )
    spans2, media2 = dc.derive_corpus(spark, SF_DIR)
    assert spans2.count() == n1
    assert media2.count() > 0
    assert os.listdir(tmp_path) == memo_dirs


def test_shared_memo_atomic_publish(spark, tmp_path, monkeypatch):
    """Round-5 ADVICE hardening: the shared memo is rendered into a
    private .tmp.<pid> sibling and os.rename()d into place — no reader
    can ever observe a half-written or mid-overwrite memo dir — and a
    driver that loses the publish race adopts the winner's dir instead
    of clobbering it."""
    import os

    from mindocr_spark.data import derive_corpus as dc

    monkeypatch.setenv("MINDOCR_CORPUS_MEMO_DIR", str(tmp_path))
    monkeypatch.setattr(dc, "_CORPUS_CACHE", {})
    dc.derive_corpus(spark, SF_DIR)
    published = [d for d in os.listdir(tmp_path) if ".tmp." not in d]
    assert len(published) == 1  # tmp sibling renamed away, nothing torn
    assert len(os.listdir(tmp_path)) == 1
    final = os.path.join(tmp_path, published[0])
    marker = os.path.join(final, "documents_spans.parquet", "_SUCCESS")
    ino = os.stat(marker).st_ino

    # loser path: memo already published when this driver tries to rename
    monkeypatch.setattr(dc, "_CORPUS_CACHE", {})
    real_rename = os.rename
    calls = []

    def racing_rename(src, dst):
        calls.append((src, dst))
        raise OSError(39, "Directory not empty")  # the ENOTEMPTY race shape

    monkeypatch.setattr(os, "rename", racing_rename)
    # force a re-render attempt by pretending the memo isn't published yet,
    # but only for the pre-render check (the post-race check must see it)
    checks = []
    real_pub = dc._memo_published

    def first_check_misses(out):
        checks.append(out)
        if len(checks) == 1:
            return False
        return real_pub(out)

    monkeypatch.setattr(dc, "_memo_published", first_check_misses)
    spans, _ = dc.derive_corpus(spark, SF_DIR)
    assert spans.count() > 0
    monkeypatch.setattr(os, "rename", real_rename)
    # winner's memo untouched (same inode), loser's tmp cleaned up
    assert os.stat(marker).st_ino == ino
    assert [d for d in os.listdir(tmp_path) if ".tmp." in d] == []
    assert calls, "loser must have attempted an atomic rename"


def test_source_fingerprint_changes_on_rewrite(tmp_path):
    """The memo key must change when documents.parquet is rewritten even
    if the coarse (1s) mtime does not move — size or mtime_ns will."""
    import os

    from mindocr_spark.data import derive_corpus as dc

    p = tmp_path / "documents.parquet"
    p.write_bytes(b"one")
    fp1 = dc._source_fingerprint(str(p))
    p.write_bytes(b"three")  # different size, same second
    ts = os.stat(p)
    os.utime(p, (ts.st_atime, int(ts.st_mtime)))  # truncate to whole second
    fp2 = dc._source_fingerprint(str(p))
    assert fp1 != fp2
    # directory form: keyed on the file inventory
    d = tmp_path / "dir.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a")
    fp3 = dc._source_fingerprint(str(d))
    (d / "part-1.parquet").write_bytes(b"b")
    assert dc._source_fingerprint(str(d)) != fp3
