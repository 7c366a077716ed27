"""Derive an interleaved spans+media corpus from the driver's ``documents``
table — deterministically, on executors (no driver-side rendering).

Each document row (doc_id bigint, text) maps to one of EIGHT span shapes
keyed on ``doc_id % 8`` (the corpus exercises every reassembly
behavior the engine claims, so the driver's DuckDB hash gate certifies
them all — variable span counts, interleaved/non-contiguous offsets,
out-of-order span listings, media_refs shared across documents, missing
media, and empty documents):

====  =========================================================
m     shape (offsets as listed in the spans array)
====  =========================================================
0     text(0) + PDF media(1)                       [classic, PDF]
1     text(0) + image media(1)                     [classic, image]
      d%16==9: the page renders ROTATED 180 when every word is
      mixed-height (cls-recoverable; functions/glyphs.mixed_height)
      -> extracted words read in reverse placement order
2     media(4), text=words(2), text=body(0)        [3 spans, listed
      out of offset order, offsets non-contiguous]
      d%16==10: the media is a ruled 2x2 TABLE (cells
      [[w0,w1],[w2,w0]], '' when missing) -> table-structure path,
      text = row-major non-empty cells = words + ' ' + w0
3     media=words(1), text=body(3), media=word1(5) [two media spans]
      d%16==11: media 1 carries profile='poly' (box_type='poly'
      detection), media 2 profile='attn' (attention rec decode) —
      same expected text through the alternate det/rec contracts
4     text(0) + media ref of doc ``d-3``(1)        [SHARED media_ref:
      no media row of its own; d-3 is an m=1 doc — possibly the
      d%16==9 rotated variant (when d%16==12)]
5     (no spans)                                   [empty document]
6     d%16==6 : media(2) only                      [media-only doc]
      d%16==14: media(2) with a ref absent from the
      media table -> extracted text '' (decode-skip)
7     text=words(7), text=body(3)                  [text-only, listed
      reversed]
====  =========================================================

Text spans wrap their inner text in deterministic HTML boilerplate
(nav/script/footer variants chosen by doc_id); image media render the
first 1-3 charset-safe tokens of the text ("words"); PDFs carry the same
words as a text layer.

Everything is a pure function of (doc_id, text) — plus, for m=4, of the
text of doc ``d-3`` (driver doc_ids are contiguous from 0, verified in
tests/test_corpus_oracle.py) — so Spark executors and the pandas oracle
produce identical corpora at any parallelism, and EXTRACT_ORACLE_SQL
(plans/extract.py) can reconstruct the exact expected output per shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import CHARSET, spread
from ..functions.glyphs import mixed_height, render_page, render_table
from ..functions.png_codec import encode_png

_CHARSET_SET = set(CHARSET)

_WRAPPERS = [
    ("<nav><a href='/'>home</a> <a href='/b'>blog</a></nav><p>{}</p>"
     "<footer>copyright 2024 example corp</footer>"),
    ("<style>.x{{color:red}}</style><div><p>{}</p></div>"
     "<script>track('pageview');</script>"),
    ("<p>{}</p><div><a href='/1'>one</a> <a href='/2'>two</a> "
     "<a href='/3'>three</a></div>"),
]


def media_words_for(text: str) -> list[str]:
    """First up to 3 tokens that are charset-only, 2-7 chars."""
    out = []
    for tok in text.split(" "):
        if 2 <= len(tok) <= 7 and all(c in _CHARSET_SET for c in tok):
            out.append(tok)
        if len(out) == 3:
            break
    return out or ["empty"]


def spans_for_doc(
    doc_id: int, text: str, with_media: bool = True
) -> tuple[list[dict], list[dict]]:
    """Pure mapping: one driver document -> (spans, media rows).

    Shape class = ``doc_id % 8`` (module docstring table). ``with_media=False``
    skips the (CPU-heavy) page rendering when only the spans side is being
    generated."""
    d = int(doc_id)
    did = f"doc_{d:08d}"
    wrapper = _WRAPPERS[d % len(_WRAPPERS)]
    words = media_words_for(text)
    wtext = " ".join(words)
    m = d % 8

    def text_span(inner: str, offset: int) -> dict:
        return {
            "kind": "text",
            "text": wrapper.format(inner),
            "media_ref": None,
            "offset": offset,
        }

    def media_span(ref: str, offset: int) -> dict:
        return {"kind": "media", "text": None, "media_ref": ref, "offset": offset}

    def render_media(
        ref: str, ws: list[str], rotate: bool = False, profile: str | None = None
    ) -> dict | None:
        if not with_media:
            return None
        height = ((len(ws) * 64 + 31) // 32) * 32
        width = ((max(len(w) for w in ws) * 24 + 48 + 31) // 32) * 32
        page, _gt = render_page(
            [(w, 16 + i * 64, 16) for i, w in enumerate(ws)],
            height,
            width,
            rotate180=rotate,
        )
        return {
            "media_ref": ref,
            "image": encode_png(page),
            "width": width,
            "height": height,
            "profile": profile,
        }

    def render_table_media(ref: str, cells: list[list[str]]) -> dict | None:
        if not with_media:
            return None
        img, _gt = render_table(cells)
        return {
            "media_ref": ref,
            "image": encode_png(img),
            "width": img.shape[1],
            "height": img.shape[0],
            "profile": None,
        }

    media: list[dict] = []
    if m == 0:  # classic text + PDF media (text-layer parse path)
        ref = f"pdf_{d:08d}_01"
        spans = [text_span(text, 0), media_span(ref, 1)]
        if with_media:
            from ..functions.pdf_text import make_simple_pdf

            media.append(
                {
                    "media_ref": ref,
                    "image": make_simple_pdf([wtext]),
                    "width": 0,
                    "height": 0,
                    "profile": None,
                }
            )
    elif m == 1:  # classic text + image media; d%16==9 renders ROTATED 180
        # (only when every word is mixed-height — the generator invariant
        # that keeps the cls stage decisive; otherwise upright as usual)
        ref = f"img_{d:08d}_01"
        spans = [text_span(text, 0), media_span(ref, 1)]
        rot = d % 16 == 9 and all(mixed_height(w) for w in words)
        mm = render_media(ref, words, rotate=rot)
        if mm:
            media.append(mm)
    elif m == 2:  # 3 spans, listed out of offset order, offsets 0/2/4;
        # d%16==10 renders the media as a ruled 2x2 TABLE instead of a page
        ref = f"img_{d:08d}_01"
        spans = [media_span(ref, 4), text_span(wtext, 2), text_span(text, 0)]
        if d % 16 == 10:
            cells = [
                [words[0], words[1] if len(words) > 1 else ""],
                [words[2] if len(words) > 2 else "", words[0]],
            ]
            mm = render_table_media(ref, cells)
        else:
            mm = render_media(ref, words)
        if mm:
            media.append(mm)
    elif m == 3:  # two media spans around a text span (offsets 1/3/5);
        # d%16==11 routes media 1 through poly-mode detection and media 2
        # through the attention rec decoder (per-item profile metadata)
        ref1, ref2 = f"img_{d:08d}_01", f"img_{d:08d}_02"
        spans = [media_span(ref1, 1), text_span(text, 3), media_span(ref2, 5)]
        p1, p2 = ("poly", "attn") if d % 16 == 11 else (None, None)
        for mm in (
            render_media(ref1, words, profile=p1),
            render_media(ref2, words[:1], profile=p2),
        ):
            if mm:
                media.append(mm)
    elif m == 4:  # SHARED media_ref: reuse doc d-3's image (d-3 % 8 == 1)
        spans = [text_span(text, 0), media_span(f"img_{d - 3:08d}_01", 1)]
    elif m == 5:  # empty document: no spans at all
        spans = []
    elif m == 6:
        if d % 16 == 6:  # media-only document
            ref = f"img_{d:08d}_01"
            spans = [media_span(ref, 2)]
            mm = render_media(ref, words)
            if mm:
                media.append(mm)
        else:  # ref absent from the media table -> decode-skip ('')
            spans = [media_span(f"missing_{d:08d}", 2)]
    else:  # m == 7: two text spans, listed reversed (offsets 7/3)
        spans = [text_span(wtext, 7), text_span(text, 3)]
    return [{"doc_id": did, "spans": spans}], media


_SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
_MEDIA_SCHEMA = (
    "media_ref string, image binary, width int, height int, profile string"
)


def _gen_spans_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            srows, _ = spans_for_doc(int(doc_id), text, with_media=False)
            rows.extend(
                {
                    "doc_id": r["doc_id"],
                    "spans": [
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in r["spans"]
                    ],
                }
                for r in srows
            )
        yield pd.DataFrame(rows, columns=["doc_id", "spans"])


def _gen_media_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            _, mrows = spans_for_doc(int(doc_id), text)
            rows.extend(mrows)
        yield pd.DataFrame(
            rows, columns=["media_ref", "image", "width", "height", "profile"]
        )


def derive_from_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    docs = docs.select("doc_id", "text")
    # rendering is CPU-bound Python: spread over task slots even when the
    # source parquet is one small split
    docs = spread(docs, "doc_id")
    spans = docs.mapInPandas(_gen_spans_iter, _SPANS_SCHEMA)
    media = docs.mapInPandas(_gen_media_iter, _MEDIA_SCHEMA)
    return spans, media


# (sf_dir, documents.parquet mtime) -> materialized corpus dir. The
# derived corpus is a pure deterministic function of the documents table,
# so per process it is rendered ONCE to parquet and read back: every
# consumer (both flagships, golden/meta/health queries) then times
# extraction from a STORED interleaved table — the north-rule shape (the
# job reads an Iceberg table; it does not synthesize its input) — instead
# of paying the PNG/PDF render again inside every timed query.
#
# Cluster contract: the memo root is
# configurable via MINDOCR_CORPUS_MEMO_DIR. The default is a per-process
# local tempdir — correct on a single driver, WRONG for multi-driver or
# restart scenarios (another driver cannot see a local path); point the
# env var at shared storage (HDFS/NFS/object-store mount) there.
# The cache key is a CONTENT fingerprint of documents.parquet (per-file
# name + size + mtime_ns), not a bare float mtime: a rewrite within the
# same second on a coarse-mtime filesystem still changes the key, so a
# stale derived corpus is never served. Publication into the shared root
# is ATOMIC: each driver renders into a private ".tmp.<pid>" sibling and
# os.rename()s it into place, so a reader that has observed _SUCCESS can
# never see files deleted out from under it by a concurrent re-render,
# and the rename loser simply adopts the winner's identical corpus.
_CORPUS_CACHE: dict[tuple[str, str], str] = {}


def _source_fingerprint(path: str) -> str:
    """Deterministic digest of the source table's file inventory.

    Works for a single parquet file or a parquet directory; NOT Python
    hash() (PYTHONHASHSEED randomization would give each driver a
    different memo path)."""
    import hashlib
    import os

    parts: list[str] = [os.path.abspath(path)]
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


_MEMO_PARTS = ("documents_spans.parquet", "media.parquet")


def _memo_published(out: str) -> bool:
    import os

    return all(os.path.exists(f"{out}/{p}/_SUCCESS") for p in _MEMO_PARTS)


def _render_memo(spark: SparkSession, sf_dir: str, out: str) -> None:
    spans, media = derive_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    spans.write.mode("overwrite").parquet(f"{out}/documents_spans.parquet")
    media.write.mode("overwrite").parquet(f"{out}/media.parquet")


def _materialized_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    root = os.environ.get("MINDOCR_CORPUS_MEMO_DIR")
    if not root:
        out = tempfile.mkdtemp(prefix="mindocr_derived_corpus_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        _render_memo(spark, sf_dir, out)
        return out
    os.makedirs(root, exist_ok=True)
    final = os.path.join(root, f"derived_{tag}")
    if _memo_published(final):  # restart against a shared memo: skip render
        return final
    tmp = f"{final}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _render_memo(spark, sf_dir, tmp)
    try:
        os.rename(tmp, final)  # atomic publish
    except OSError:
        # another driver published first (rename onto a non-empty dir
        # fails); its corpus is byte-identical by determinism — adopt it
        if not _memo_published(final):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def derive_corpus(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    if not materialize:
        return derive_from_docs(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    key = (sf_dir, _source_fingerprint(f"{sf_dir}/documents.parquet"))
    if key not in _CORPUS_CACHE:
        _CORPUS_CACHE[key] = _materialized_dir(spark, sf_dir, key[1])
    out = _CORPUS_CACHE[key]
    return (
        spark.read.parquet(f"{out}/documents_spans.parquet"),
        spark.read.parquet(f"{out}/media.parquet"),
    )


def derive_corpus_pandas(docs_pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Oracle-side derivation (same pure function)."""
    span_rows: list[dict] = []
    media_rows: list[dict] = []
    for _, row in docs_pdf.iterrows():
        srows, mrows = spans_for_doc(int(row["doc_id"]), row["text"])
        span_rows.extend(srows)
        media_rows.extend(mrows)
    return (
        pd.DataFrame(span_rows, columns=["doc_id", "spans"]),
        pd.DataFrame(
            media_rows,
            columns=["media_ref", "image", "width", "height", "profile"],
        ),
    )
