"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: generation runs in
one process with numpy ``RandomState`` streams and writes parquet through
pyarrow with fixed schemas, so the same seed gives byte-identical files.
The program under test only ever sees the written tables.

Each workload directory holds the stored interleaved corpus the engine
reads (``documents_spans.parquet`` + ``media.parquet``); the benchmark keeps
the expected per-document span sequence in memory for the correctness
check. The traced run also writes the near-dup input (``dedup_input``): a
``documents`` and an ``embeddings`` table in the repository's schema, the
same for every workload.

The work an input asks for (documents, spans, word lengths, rendered page
sizes) follows the document index; the seed picks only which words and
refs fill it, so every seed costs the same. ``perfbench/README.md`` lists
where each size and share comes from.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The ``documents`` table vocabulary: every word is OCR-exact under the
# generator geometry, which EXTRACT_ORACLE_SQL relies on.
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# same-length words are interchangeable: a page or span of given word
# lengths costs the same whichever words fill it
_BY_LEN: dict[int, list[str]] = {}
for _w in DOC_VOCAB:
    _BY_LEN.setdefault(len(_w), []).append(_w)
_LENS = sorted(len(w) for w in DOC_VOCAB)  # the vocabulary's own length mix
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)

# workload name -> stream tag, so two workloads never share a random stream
_TAGS = {"ocr_heavy": 1, "shared_media": 3, "dedup": 4}

# One place for every size the workloads run at (the stated input size of
# each docs/s figure).
SIZES = {
    # 300 base documents x 3 perturbed replicas
    "ocr_heavy": {"base_docs": 300, "replicas": 3},
    # media refs drawn Zipf(ZIPF_ALPHA) from POOL_PER_MEDIA_SPAN rendered
    # pages per media span; 1 in 16 documents has 20-34 media spans
    "shared_media": {"docs": 224},
    # the ten near-dup queries' input: 1 in 5 documents a near-copy of an
    # earlier one (1 in 10 words redrawn); one in 25 vectors a near-copy
    "dedup": {"docs": 2000, "copy_every": 5, "vectors": 2000},
}

# shared_media's traffic (sources in perfbench/README.md):
# text and media spans per ordinary document, by doc_id % 8: the eight
# shapes of the derived corpus (data/derive_corpus.py), whose sf0.1 build
# has 4375 media spans over 5000 documents
SF_SHAPES = ((1, 1), (1, 1), (2, 1), (1, 2), (1, 1), (0, 0), (0, 1), (2, 0))
# distinct payloads per resolvable media span, measured on that sf0.1
# corpus: 3438 media rows serve 4063 resolvable spans
POOL_PER_MEDIA_SPAN = 3438 / 4063
# popularity of web objects: Zipf-like with alpha 0.64-0.83 over six proxy
# traces (Breslau et al., "Web Caching and Zipf-like Distributions",
# INFOCOM 1999); the middle of that range
ZIPF_ALPHA = 0.75

Spans = tuple[tuple[str, str, "str | None"], ...]


@dataclass
class Corpus:
    """A written workload input and what the engine must return for it."""

    workload: str
    seed: int
    dir: str
    expected: dict[str, Spans]
    properties: dict = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.expected)


def _rng(workload: str, seed: int, stream: int) -> np.random.RandomState:
    return np.random.RandomState([seed & 0xFFFFFFFF, _TAGS[workload], stream])


def _same_length(word: str, rng: np.random.RandomState) -> str:
    ws = _BY_LEN[len(word)]
    return ws[int(rng.randint(len(ws)))]


def _doc_words(rng: np.random.RandomState, i: int) -> list[str]:
    """Document ``i``'s words: 10-100 of them, their lengths fixed by ``i``
    (the first ones are the rendered page), each word drawn by ``rng``."""
    n = 10 + (i * 37) % 91
    return [_same_length("x" * _LENS[(i * 7 + k * 11) % len(_LENS)], rng)
            for k in range(n)]


def documents_frame(texts: list[str], rng: np.random.RandomState) -> pd.DataFrame:
    """The ``documents`` table schema over contiguous doc_ids from 0."""
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.randint(0, N_SOURCES, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_frame(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    """Unit vectors around ``EMB_CLUSTERS`` centroids; one in 25 is a
    near-copy of an earlier vector so the near-dup operators find pairs."""
    cent = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.randint(0, EMB_CLUSTERS, n)
    vec = cent[label] + 0.6 * rng.normal(size=(n, EMB_DIM))
    for i in range(25, n, 25):
        j = int(rng.randint(0, i))
        vec[i] = vec[j] + 1e-3 * rng.normal(size=EMB_DIM)
        label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def write_tables(out_dir: str, spans_rows: list[dict], media_rows: list[dict]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in spans_rows], pa.string()),
                "spans": pa.array([r["spans"] for r in spans_rows], SPAN_TYPE),
            }
        ),
        f"{out_dir}/documents_spans.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "media_ref": pa.array([m["media_ref"] for m in media_rows], pa.string()),
                "image": pa.array([m["image"] for m in media_rows], pa.binary()),
                "width": pa.array([m["width"] for m in media_rows], pa.int32()),
                "height": pa.array([m["height"] for m in media_rows], pa.int32()),
                "profile": pa.array([m["profile"] for m in media_rows], pa.string()),
            }
        ),
        f"{out_dir}/media.parquet",
    )


def dedup_input(seed: int, out_dir: str) -> dict:
    """The near-dup queries' ``documents`` and ``embeddings`` tables, written
    to ``out_dir``; returns their sizes."""
    size = SIZES["dedup"]
    rng = _rng("dedup", seed, 0)
    words: list[list[str]] = []
    for i in range(size["docs"]):
        if i % size["copy_every"] == size["copy_every"] - 1:
            words.append(_perturb(words[int(rng.randint(0, i))], rng, share=0.1))
        else:
            words.append(_doc_words(rng, i))
    docs = documents_frame([" ".join(w) for w in words], rng)
    emb = embeddings_frame(_rng("dedup", seed, 1), size["vectors"])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(docs["doc_id"], pa.int64()),
                "text": pa.array(docs["text"], pa.string()),
                "lang": pa.array(docs["lang"], pa.string()),
                "source": pa.array(docs["source"], pa.string()),
                "n_chars": pa.array(docs["n_chars"], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(emb["vec_id"], pa.int64()),
                "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
                "label": pa.array(emb["label"], pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return {"dedup_docs": len(docs), "dedup_vectors": len(emb)}


def _ordered(spans: list[dict], texts: dict[int, tuple]) -> Spans:
    """Expected output: spans in offset order, each as (kind, text, ref)."""
    return tuple(texts[s["offset"]] for s in sorted(spans, key=lambda s: s["offset"]))


# ---------------------------------------------------------------- ocr_heavy


def _perturb(words: list[str], rng: np.random.RandomState,
             share: float = 0.2) -> list[str]:
    """Redraw the first three words (the rendered ones, so a replica's page
    differs from its base's) and ``share`` of the rest, each with a word of
    the same length."""
    hit = rng.rand(len(words)) < share
    hit[:3] = True
    return [_same_length(w, rng) if h else w for w, h in zip(words, hit)]


def ocr_heavy(seed: int, out_dir: str) -> Corpus:
    """A ``documents`` table, replicated with per-replica word
    perturbation, rendered by ``derive_corpus_pandas`` into a stored corpus.
    Replicas render distinct pages, so only the derived corpus's own shared
    refs (doc d reusing doc d-3's page) repeat."""
    import duckdb

    from mindocr_spark.data.derive_corpus import derive_corpus_pandas
    from mindocr_spark.plans.extract import EXTRACT_ORACLE_SQL

    size = SIZES["ocr_heavy"]
    rng = _rng("ocr_heavy", seed, 0)
    base = [_doc_words(rng, i) for i in range(size["base_docs"])]
    texts = [
        " ".join(words if r == 0 else _perturb(words, rng))
        for r in range(size["replicas"])
        for words in base
    ]
    docs = documents_frame(texts, rng)
    spans_pdf, media_pdf = derive_corpus_pandas(docs[["doc_id", "text"]])
    spans_rows = spans_pdf.to_dict("records")
    media_rows = media_pdf.to_dict("records")
    write_tables(out_dir, spans_rows, media_rows)

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        oracle = con.execute(EXTRACT_ORACLE_SQL).fetchall()
    finally:
        con.close()
    expected = {doc_id: spans_from_json(js) for doc_id, js in oracle}
    return Corpus("ocr_heavy", seed, out_dir, expected,
                  properties(spans_rows, media_rows, expected))


# ------------------------------------------------------------- shared_media


def _pool(seed: int, n: int) -> tuple[list[dict], dict[str, str]]:
    """Rendered derived-corpus pages: doc ids 16k+1 take the upright
    single-image shape, whose text is the page's words."""
    from mindocr_spark.data.derive_corpus import media_words_for, spans_for_doc

    rng = _rng("shared_media", seed, 1)
    rows, texts = [], {}
    for k in range(n):
        text = " ".join(_doc_words(rng, k))
        _spans, media = spans_for_doc(16 * k + 1, text)
        rows.extend(media)
        texts[media[0]["media_ref"]] = " ".join(media_words_for(text))
    return rows, texts


def _span_counts(d: int) -> tuple[int, int]:
    """(text, media) spans of document ``d``: the derived corpus's shape
    mix, except that one document in 16 carries 20-34 media spans."""
    if d % 16 == 0:
        return 1, 20 + (d // 16 * 7) % 21
    return SF_SHAPES[d % 8]


def shared_media(seed: int, out_dir: str) -> Corpus:
    """Media spans draw refs Zipf-skewed from a shared pool of pages, like
    crawls that repeat logos and banners; one document in 16 carries
    20-34 media spans."""
    from mindocr_spark.data.gen_corpus import make_text_span_html

    size = SIZES["shared_media"]
    counts = [_span_counts(d) for d in range(size["docs"])]
    n_pool = round(POOL_PER_MEDIA_SPAN * sum(m for _t, m in counts))
    media_rows, pool_text = _pool(seed, n_pool)
    refs = list(pool_text)
    weights = 1.0 / np.arange(1, len(refs) + 1) ** ZIPF_ALPHA
    weights /= weights.sum()
    rng = _rng("shared_media", seed, 0)
    spans_rows, expected = [], {}
    for d, (n_text, n_media) in enumerate(counts):
        doc_id = f"doc_{d:08d}"
        kinds = ["media"] * n_media + ["text"] * n_text
        rng.shuffle(kinds)
        spans, out = [], {}
        for off, kind in enumerate(kinds):
            if kind == "media":
                ref = refs[int(rng.choice(len(refs), p=weights))]
                spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
                out[off] = ("media", pool_text[ref], ref)
            else:
                html, text = make_text_span_html(rng)
                spans.append({"kind": "text", "text": html, "media_ref": None, "offset": off})
                out[off] = ("text", text, None)
        spans_rows.append({"doc_id": doc_id, "spans": spans})
        expected[doc_id] = _ordered(spans, out)
    write_tables(out_dir, spans_rows, media_rows)
    return Corpus("shared_media", seed, out_dir, expected,
                  properties(spans_rows, media_rows, expected))


GENERATORS = {
    "ocr_heavy": ocr_heavy,
    "shared_media": shared_media,
}


def make_corpus(workload: str, seed: int, out_dir: str) -> Corpus:
    return GENERATORS[workload](seed, out_dir)


# ------------------------------------------------------------ shared helpers


def spans_from_json(js: str) -> Spans:
    """Spark ``to_json(out_spans)`` (null fields omitted) -> Spans."""
    return spans_from_records(json.loads(js))


def spans_from_records(recs) -> Spans:
    """Typed ``out_spans`` records -> Spans; raises on an order gap."""
    recs = sorted(recs, key=lambda r: r["order"])
    if [r["order"] for r in recs] != list(range(len(recs))):
        raise ValueError("out_spans order is not 0..n-1")
    return tuple((r["kind"], r["text"], r.get("media_ref")) for r in recs)


def properties(spans_rows: list[dict], media_rows: list[dict],
               expected: dict[str, Spans]) -> dict:
    """Input properties printed with every result: the shares a change that
    helps only repeated inputs must cite."""
    payload = {m["media_ref"]: bytes(m["image"]) for m in media_rows}
    per_doc = np.array([len(r["spans"]) for r in spans_rows])
    media_refs = [s["media_ref"] for r in spans_rows for s in r["spans"]
                  if s["kind"] == "media"]
    media_per_doc = np.array([sum(s["kind"] == "media" for s in r["spans"])
                              for r in spans_rows])
    resolved = [payload[r] for r in media_refs if r in payload]
    seen: set[bytes] = set()
    repeat_bytes = 0
    for p in resolved:
        digest = hashlib.blake2b(p, digest_size=16).digest()
        if digest in seen:
            repeat_bytes += len(p)
        seen.add(digest)
    image_words = {
        ref: len(text.split())
        for spans in expected.values()
        for kind, text, ref in spans
        if kind == "media" and ref in payload and not payload[ref].startswith(b"%PDF")
    }
    return {
        "docs": len(spans_rows),
        "spans_per_doc_median": float(np.median(per_doc)),
        "spans_per_doc_max": int(per_doc.max()),
        "media_spans_per_doc_mean": round(float(media_per_doc.mean()), 4),
        "media_spans_per_doc_max": int(media_per_doc.max()),
        "media_spans": len(media_refs),
        "media_ref_repeat_share": round(
            1 - len(set(media_refs)) / max(len(media_refs), 1), 4),
        "payload_bytes_repeat_share": round(
            repeat_bytes / max(sum(len(p) for p in resolved), 1), 4),
        "boxes_per_image": round(
            float(np.mean(list(image_words.values()))) if image_words else 0.0, 4),
        "images": len(image_words),
    }
