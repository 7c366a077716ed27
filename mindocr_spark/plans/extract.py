"""The flagship extraction plan (SURVEY.md §3.1 "Spark rebuild").

One logical DataFrame plan:

::

    read spans -> explode -> route by kind
      text path : boilerplate-strip pandas UDF
      media path: distinct referenced refs -> join media table
                  -> [fused OCR | det->crops explode->rec->drop-score
                      filter->per-ref reading-order reassembly]
                  -> (media_ref, text) joined back onto the media spans
    -> union -> per-doc reassembly ordered by offset -> out_spans

OCR is a function of the media payload alone, so each distinct ref is
OCR'd once however many spans reference it.

Shuffle inventory (at 10^12-doc scale):
  1. the referenced refs, hash-partitioned by media_ref (narrow: one
     string per media span) — it spreads the OCR stage over the cluster
     and feeds the distinct with no exchange of its own.
  2. refs⋈media equi-join on media_ref (broadcast media at local scale;
     bucket the media table by media_ref in storage to make it
     shuffle-free at scale).
  3. per-crop repartition (media_ref, box_idx) and per-ref groupBy
     media_ref — only in exploded mode.
  4. spans⋈(media_ref, text) join-back on media_ref: broadcast while the
     text table is small, else a sort-merge join (Spark's choice).
  5. per-doc groupBy doc_id — bucket the spans table by doc_id to bound it.
AQE skew handling is on (media-heavy docs); in exploded mode recognition
work is already crop-granular so no salting is needed for the rec stage
itself — the unit of work is one crop.

Ordering is always explicit: ``box_idx`` within a ref, ``offset`` within a
doc; never implicit row order (SURVEY.md §7.3 risk 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import spread
from ..operators.media_path import (
    DET_CROPS_SCHEMA,
    FUSED_SCHEMA,
    REC_SCHEMA,
    det_crops_iter,
    kept_crops,
    ocr_fused_iter,
    recognize_iter,
)
from ..operators.text_path import extract_main_text_udf

OUT_SPAN_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,order:int>>"
)

# Full end-to-end DuckDB oracle for the flagship over the derived corpus
# (driver gate). Valid because every stage is exact on this corpus:
#   - text span: extract_main_text(wrapper.format(inner)) == inner for all
#     three boilerplate wrappers (anchors/nav/footer/script stripped, inner
#     text already single-space-normalized by the generator),
#   - media span: OCR of the rendered page returns exactly the rendered
#     words (generator geometry honors kernels/det.py invariants; rec is
#     exact on the glyph font — ocr_eval_selftest = 1.0); PDF media return
#     their text layer verbatim; refs absent from the media table return ''
#     (decode-skip),
#   - serialization: Spark to_json omits null fields, so a text span is
#     {"kind","text","order"} and a media span adds "media_ref"; document
#     text is lowercase [a-z0-9 ]+ so no JSON escaping is needed.
# The corpus has EIGHT span shapes keyed on doc_id % 8
# (data/derive_corpus.py module docstring) — variable span counts,
# interleaved/non-contiguous offsets (output order = offset RANK, not the
# offset value), out-of-order span listings, shared media_refs (m=4 reads
# doc d-3's image: the self-join below), missing media (text ''), and empty
# documents ('[]'). Any kernel or reassembly regression (det miss, rec
# error, drop-score misfire, ordering bug, shared-media fan-out, empty-doc
# loss) breaks the hash — a real end-to-end check, not a tautology.
#
# Sub-shapes (doc_id % 16), each hash-certifying a pipeline path:
#   9  — ROTATED page (when all words mixed-height): the cls stage must
#        flip every crop; extracted words read in REVERSE placement order
#        (a rotated page is read in its own flipped frame). The
#        mixed-height predicate is evaluated in SQL with regex classes
#        derived from the glyph font (functions/glyphs.tall_chars), so the
#        oracle and the generator share the gating rule.
#   10 — ruled 2x2 TABLE media: table-structure path (grid detect + line
#        erase + cell match); text = row-major non-empty cells = mt + w0.
#   12 — m=4's shared ref points at a doc-d-3 that is the rotated variant:
#        same reverse-order conditional on r.mt.
#   11 — poly/attn profiles (m=3): text is unchanged BY DESIGN — the hash
#        certifies the alternate det/rec contracts produce the exact same
#        words (a broken poly fit or attn decode breaks the hash).
def _build_extract_oracle_sql() -> str:
    from ..functions.glyphs import tall_chars
    from ..config import CHARSET

    tall = tall_chars()
    short = "".join(c for c in CHARSET if c not in tall)

    def allmixed(col: str) -> str:
        return (
            f"len(list_filter(string_split({col},' '), w -> NOT ("
            f"regexp_matches(w,'[{tall}]') AND regexp_matches(w,'[{short}]')"
            f"))) = 0"
        )

    def reversed_(col: str) -> str:
        return f"array_to_string(list_reverse(string_split({col},' ')), ' ')"

    return f"""
WITH ww AS (
  SELECT doc_id, text,
    coalesce(nullif(array_to_string(
      (list_filter(string_split(text,' '),
           w -> len(w) BETWEEN 2 AND 7 AND regexp_matches(w,'^[0-9a-z]+$'))
      )[1:3], ' '), ''), 'empty') AS mt
  FROM documents
)
SELECT printf('doc_%08d', d.doc_id) AS doc_id,
  CASE
    WHEN d.doc_id % 8 = 0 THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"media","text":"' || d.mt || '","media_ref":"pdf_'
      || printf('%08d', d.doc_id) || '_01","order":1}}]'
    WHEN d.doc_id % 16 = 9 AND {allmixed('d.mt')} THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"media","text":"' || {reversed_('d.mt')}
      || '","media_ref":"img_'
      || printf('%08d', d.doc_id) || '_01","order":1}}]'
    WHEN d.doc_id % 8 = 1 THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"media","text":"' || d.mt || '","media_ref":"img_'
      || printf('%08d', d.doc_id) || '_01","order":1}}]'
    WHEN d.doc_id % 16 = 10 THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"text","text":"' || d.mt || '","order":1}},'
      || '{{"kind":"media","text":"' || d.mt || ' '
      || string_split(d.mt, ' ')[1] || '","media_ref":"img_'
      || printf('%08d', d.doc_id) || '_01","order":2}}]'
    WHEN d.doc_id % 8 = 2 THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"text","text":"' || d.mt || '","order":1}},'
      || '{{"kind":"media","text":"' || d.mt || '","media_ref":"img_'
      || printf('%08d', d.doc_id) || '_01","order":2}}]'
    WHEN d.doc_id % 8 = 3 THEN
      '[{{"kind":"media","text":"' || d.mt || '","media_ref":"img_'
      || printf('%08d', d.doc_id) || '_01","order":0}},'
      || '{{"kind":"text","text":"' || d.text || '","order":1}},'
      || '{{"kind":"media","text":"' || string_split(d.mt, ' ')[1]
      || '","media_ref":"img_' || printf('%08d', d.doc_id) || '_02","order":2}}]'
    WHEN d.doc_id % 16 = 12 AND {allmixed('r.mt')} THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"media","text":"' || {reversed_('r.mt')}
      || '","media_ref":"img_'
      || printf('%08d', d.doc_id - 3) || '_01","order":1}}]'
    WHEN d.doc_id % 8 = 4 THEN
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"media","text":"' || r.mt || '","media_ref":"img_'
      || printf('%08d', d.doc_id - 3) || '_01","order":1}}]'
    WHEN d.doc_id % 8 = 5 THEN '[]'
    WHEN d.doc_id % 16 = 6 THEN
      '[{{"kind":"media","text":"' || d.mt || '","media_ref":"img_'
      || printf('%08d', d.doc_id) || '_01","order":0}}]'
    WHEN d.doc_id % 16 = 14 THEN
      '[{{"kind":"media","text":"","media_ref":"missing_'
      || printf('%08d', d.doc_id) || '","order":0}}]'
    ELSE
      '[{{"kind":"text","text":"' || d.text || '","order":0}},'
      || '{{"kind":"text","text":"' || d.mt || '","order":1}}]'
  END AS out_spans_json
FROM ww d LEFT JOIN ww r ON r.doc_id = d.doc_id - 3
"""


EXTRACT_ORACLE_SQL = _build_extract_oracle_sql()


def extract_serialized(
    spark: SparkSession,
    spans: DataFrame,
    media: DataFrame,
    mode: str = "fused",
    salt_buckets: int = 0,
) -> DataFrame:
    """Driver-facing flagship: ``out_spans`` serialized with ``to_json`` so
    the result is sortable/hashable by a pandas canonicalizer (the typed
    nested schema from :func:`extract` stays the API for programmatic use)."""
    return extract(
        spark, spans, media, mode=mode, salt_buckets=salt_buckets
    ).select("doc_id", F.to_json("out_spans").alias("out_spans_json"))


def load_corpus(spark: SparkSession, corpus_dir: str) -> tuple[DataFrame, DataFrame]:
    spans = spark.read.parquet(f"{corpus_dir}/documents_spans.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    return spans, media


def _exploded_spans(spans: DataFrame) -> DataFrame:
    """One row per span, plus one all-null row per EMPTY document
    (``explode_outer``): the null row carries the doc_id through the
    reassembly so an empty document still yields its empty out_spans row
    with no per-doc aggregate or join: the null rows ride the text-path
    union and vanish inside the final null-skipping collect_list."""
    s = spans.select("doc_id", F.explode_outer("spans").alias("span"))
    return s.select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("raw_text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _ocr_input(media_spans: DataFrame, media: DataFrame) -> DataFrame:
    """One ``(media_ref, image[, profile])`` row per distinct non-null ref
    the spans reference. ``profile`` (per-item attn/poly routing) comes
    along when the media table has it; the OCR row functions read a missing
    one as None. The refs are spread (``config.spread``) by
    ``media_ref`` before the distinct, so the distinct adds no exchange and
    AQE cannot coalesce the OCR stage onto one core; only the narrow keys
    move and the payloads attach in place (guide §2.3/§8). LEFT join: only
    the media side may be broadcast, which keeps that spread; a ref absent
    from the media table gets a NULL image, which the OCR stages read as ''
    (``decode_node.py:30-42`` skip semantics)."""
    refs = spread(
        media_spans.select("media_ref").where(F.col("media_ref").isNotNull()),
        "media_ref",
    ).distinct()
    cols = ["media_ref", "image"] + (["profile"] if "profile" in media.columns else [])
    return refs.join(media.select(*cols), "media_ref", "left")


def _media_texts_exploded(payloads: DataFrame) -> DataFrame:
    crops = payloads.mapInPandas(det_crops_iter, DET_CROPS_SCHEMA)
    # crop-level redistribution: the unit of rec work is one crop, so a
    # 1000-box image cannot pin one task (the skew answer; SURVEY.md §4.1).
    # sortWithinPartitions by aspect ratio mirrors the reference's
    # width-sorted batching (infer_rec.py:110) to keep Arrow batches shaped
    # alike inside the rec UDF.
    crops = crops.repartition(F.col("media_ref"), F.col("box_idx")).sortWithinPartitions(
        (F.col("crop_w") / F.greatest(F.col("crop_h"), F.lit(1))).asc()
    )
    rec = crops.mapInPandas(recognize_iter, REC_SCHEMA)
    # one row per kept word or routed text; a ref with none (a page with
    # no kept word, missing or junk media) gets no group here and reads ''
    # from the join-back's coalesce in extract()
    return kept_crops(rec).groupBy("media_ref").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("box_idx", "text"))),
                lambda x: x["text"],
            ),
            " ",
        ).alias("text")
    )


def extract(
    spark: SparkSession,
    spans: DataFrame,
    media: DataFrame,
    mode: str = "fused",
    salt_buckets: int = 0,
) -> DataFrame:
    """Run the full interleaved extraction. Returns (doc_id, out_spans).

    Each distinct non-null ``media_ref`` the spans reference is OCR'd once
    and its text joined back onto every span carrying it; a NULL ref, or
    one absent from the media table, reads ''.

    Precondition: ``media.media_ref`` is unique (it is the media table's
    key). The plan does not pay the shuffle of image payloads it would
    take to enforce it. With duplicate rows for one ref, every duplicate
    is OCR'd: fused mode then emits one output span per duplicate for
    each span with that ref, and exploded mode merges the duplicates'
    crops into one text per span (words ordered by box_idx across the
    images). Dedupe upstream (e.g. ``groupBy(media_ref).agg(max(image))``)
    if the source cannot guarantee uniqueness.

    ``salt_buckets > 0`` enables explicit two-phase salting of the final
    per-document reassembly (SURVEY.md §4 item 1b): spans first aggregate on
    ``(doc_id, salt)`` where ``salt = pmod(hash(doc_id, offset), S)``, then
    the S partial arrays merge per doc. For media-heavy documents with very
    many spans this bounds any single reducer's row count at ~1/S of the
    doc; ordering is restored by the final sort on (offset), never by
    arrival order.
    """
    s = _exploded_spans(spans)
    text_spans = s.filter(F.col("kind") == "text").select(
        "doc_id",
        "offset",
        F.lit(None).cast("string").alias("media_ref"),
        extract_main_text_udf(F.col("raw_text")).alias("text"),
        F.lit("text").alias("kind"),
    )
    media_spans = s.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    )
    # empty documents: explode_outer's all-null rows (kind IS NULL) ride
    # the union with a null offset and disappear inside the null-skipping
    # collect_list below, leaving exactly one empty out_spans row per
    # empty doc (replaces the old all_docs distinct + left-join restore)
    empty_docs = s.filter(F.col("kind").isNull()).select(
        "doc_id",
        F.lit(None).cast("int").alias("offset"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("kind"),
    )
    payloads = _ocr_input(media_spans, media)
    if mode == "fused":
        media_texts = payloads.mapInPandas(ocr_fused_iter, FUSED_SCHEMA)
    elif mode == "exploded":
        media_texts = _media_texts_exploded(payloads)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    # one (media_ref, text) row per OCR'd ref, joined back onto every span
    # that references it; a NULL ref matches nothing and reads ''
    media_out = media_spans.join(media_texts, "media_ref", "left").select(
        "doc_id",
        "offset",
        "media_ref",
        F.coalesce("text", F.lit("")).alias("text"),
        F.lit("media").alias("kind"),
    )
    all_spans = text_spans.unionByName(media_out).unionByName(empty_docs)
    # the span struct is NULL (skipped by collect_list) exactly for the
    # empty-doc marker rows, so every doc — including empty ones — gets
    # its one group row with the correct (possibly empty) array and no
    # restore join is needed
    span_struct = F.when(
        F.col("offset").isNotNull(),
        F.struct("offset", "kind", "text", "media_ref"),
    )
    if salt_buckets > 0:
        partial = (
            all_spans.withColumn(
                "salt", F.pmod(F.hash("doc_id", "offset"), F.lit(salt_buckets))
            )
            .groupBy("doc_id", "salt")
            .agg(F.collect_list(span_struct).alias("part"))
        )
        collected = partial.groupBy("doc_id").agg(
            F.sort_array(F.flatten(F.collect_list("part"))).alias("arr")
        )
    else:
        collected = all_spans.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(span_struct)).alias("arr")
        )
    return collected.select(
        "doc_id",
        F.expr(
            "transform(arr, (x, i) -> "
            "struct(x.kind as kind, x.text as text, "
            "x.media_ref as media_ref, cast(i as int) as order))"
        )
        .cast(OUT_SPAN_TYPE)
        .alias("out_spans"),
    )
