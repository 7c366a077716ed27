"""SER/RE (key information extraction) operators.

The reference drives KIE with LayoutLM-family NN heads; per SURVEY §2.13
this engine replaces NN scoring with deterministic scorers and keeps the
DECODE + METRIC semantics exact (same treatment as det/rec/cls):

- ``ser_entity_labels``   — the SER inference decode: per-segment
  majority vote over folded token label ids
  (``mindocr/postprocess/kie_ser_postprocess.py:58-83``), ties to the
  lowest id.  Pure Catalyst: groupBy count + row_number.
- ``ser_seqeval_metric``  — entity-level precision/recall/F1 over the
  token-level BIO sequences (``mindocr/metrics/kie_metrics.py:17-67``,
  the seqeval semantics): chunk extraction is a windowed cumulative sum
  of chunk-start flags, exact-span tp join, integer basis points.
- ``re_link_metric``      — the RE binary pair-classification metric
  (``mindocr/metrics/kie_metrics.py:70-104``): bounded candidate pair
  join, binary precision/recall/F1 in basis points.

The token/segment table derives deterministically from ``documents`` by
integer arithmetic only (doc_id/pos mod mixes), so Spark and DuckDB agree
bit-for-bit — every query here is fully hash-oracled.  The deterministic
"model" corrupts the ground truth on a fixed schedule (class flips +
B-prefix glitches), so metrics are strictly between 0 and 1 and the
seqeval chunk-start rules (I after O, type change mid-chunk) are
actually exercised.

Scale shape: everything is windows partitioned by doc_id, map-side
combinable aggregations, and equi-joins on (doc_id, ...) — no UDFs, no
skew (segment fan-out is bounded by document length; the RE candidate
join is capped at |q_seg - a_seg| <= 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import spread

# XFUND's class set (minus OTHER, which bio_label_maps skips);
# folded ids: O=0, B-QUESTION=1, B-ANSWER=3, B-HEADER=5
CLASSES = ["QUESTION", "ANSWER", "HEADER"]
O_CLASS = len(CLASSES)  # class_idx 3 encodes "O"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def ser_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, segment_id, seg_start, gt_class, gt_prefix,
    pred_class, pred_prefix) — the deterministic SER token table.

    gt: segments of 1+ tokens (new segment when (doc_id*37+pos)%4==0),
    class per segment from (doc_id + segment_id*7)%4 with 3 = O, B at
    segment starts.  pred: gt with class flips on (doc_id*13+pos*7)%11==5
    and spurious B prefixes on (doc_id*29+pos*3)%13==7 — the structured
    noise a real token classifier produces."""
    # compact-table repartition by doc_id before the token explode: the
    # windows and every grouping below cluster by doc_id, so the exploded
    # rows are never shuffled (same trade as dedup._shingles)
    t = spread(docs, "doc_id").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).drop("tok")
    t = t.withColumn(
        "seg_start",
        (F.col("pos") == 0)
        | ((F.col("doc_id") * 37 + F.col("pos")) % 4 == 0),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn(
        "segment_id", F.sum(F.col("seg_start").cast("long")).over(w)
    )
    t = t.withColumn(
        "gt_class", (F.col("doc_id") + F.col("segment_id") * 7) % 4
    )
    flip = (F.col("doc_id") * 13 + F.col("pos") * 7) % 11 == 5
    t = t.withColumn(
        "pred_class",
        F.when(
            flip, (F.col("gt_class") + 1 + F.col("pos") % 2) % 4
        ).otherwise(F.col("gt_class")),
    )
    force_b = (F.col("doc_id") * 29 + F.col("pos") * 3) % 13 == 7
    t = t.withColumn(
        "gt_prefix", F.when(F.col("seg_start"), F.lit("B")).otherwise(F.lit("I"))
    )
    t = t.withColumn(
        "pred_prefix",
        F.when(F.col("seg_start") | force_b, F.lit("B")).otherwise(F.lit("I")),
    )
    return t


_TOKENS_SQL = """
tok0 AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(text, ' ')))) AS pos
  FROM documents
),
tok1 AS (
  SELECT doc_id, pos,
         (pos = 0 OR (doc_id * 37 + pos) % 4 = 0) AS seg_start
  FROM tok0
),
tok2 AS (
  SELECT doc_id, pos, seg_start,
         sum(CASE WHEN seg_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS segment_id
  FROM tok1
),
toks AS (
  SELECT doc_id, pos, seg_start, segment_id,
         (doc_id + segment_id * 7) % 4 AS gt_class,
         CASE WHEN (doc_id * 13 + pos * 7) % 11 = 5
              THEN ((doc_id + segment_id * 7) % 4 + 1 + pos % 2) % 4
              ELSE (doc_id + segment_id * 7) % 4 END AS pred_class,
         CASE WHEN seg_start THEN 'B' ELSE 'I' END AS gt_prefix,
         CASE WHEN seg_start OR (doc_id * 29 + pos * 3) % 13 = 7
              THEN 'B' ELSE 'I' END AS pred_prefix
  FROM tok2
)"""


def ser_entity_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SER decode: one row per segment with the majority-voted folded
    label id and its display label (kie_ser_postprocess.py:58-83; ties
    to the lowest id = numpy bincount+argmax)."""
    t = ser_tokens(_docs(spark, sf_dir))
    votes = (
        t.withColumn(
            "fold_id",
            F.when(F.col("pred_class") == O_CLASS, F.lit(0)).otherwise(
                1 + 2 * F.col("pred_class")
            ),
        )
        .groupBy("doc_id", "segment_id", "fold_id")
        .agg(F.count("*").alias("cnt"))
    )
    wv = Window.partitionBy("doc_id", "segment_id").orderBy(
        F.desc("cnt"), F.asc("fold_id")
    )
    label = F.when(F.col("fold_id") == 0, F.lit("O"))
    for i, c in enumerate(CLASSES):
        label = label.when(F.col("fold_id") == 1 + 2 * i, F.lit(c))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "segment_id",
            F.col("fold_id").cast("long").alias("pred_id"),
            label.alias("pred_label"),
        )
    )


def _label_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = {1 + 2 * i} THEN '{c}'" for i, c in enumerate(CLASSES)
    )
    return f"CASE WHEN {col} = 0 THEN 'O' {whens} END"


SER_ENTITY_LABELS_SQL = f"""
WITH {_TOKENS_SQL.lstrip()},
votes AS (
  SELECT doc_id, segment_id,
         CASE WHEN pred_class = {O_CLASS} THEN 0
              ELSE 1 + 2 * pred_class END AS fold_id,
         count(*) AS cnt
  FROM toks GROUP BY 1, 2, 3
),
top AS (
  SELECT doc_id, segment_id, fold_id,
         row_number() OVER (PARTITION BY doc_id, segment_id
                            ORDER BY cnt DESC, fold_id ASC) AS rn
  FROM votes
)
SELECT doc_id, segment_id::BIGINT AS segment_id, fold_id::BIGINT AS pred_id,
       {_label_case("fold_id")} AS pred_label
FROM top WHERE rn = 1
"""


def ser_seqeval_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-level P/R/F1 of the token-level pred BIO sequence against
    gt (VQASerTokenMetric / seqeval semantics), as integer basis points.

    NOTE a chunk interrupted by a class flip contributes its fragments,
    exactly as seqeval scores a real token classifier's output."""
    # Single pass (guide §2.3-2.4): both sides explode into (side, cls,
    # prefix) rows and run ONE window chain partitioned by (doc_id, side)
    # — satisfied by ser_tokens' existing hash(doc_id) clustering, so no
    # new exchange, and no per-side window chains or single-row joins —
    # and tp/n_pred/n_gt fall out of one conditional aggregate over the
    # per-(doc, cls, span) side flags (an entity span is unique within a
    # side, so max() flags are exact).
    t = ser_tokens(_docs(spark, sf_dir))
    sides = t.select(
        "doc_id",
        "pos",
        F.explode(
            F.array(
                F.struct(
                    F.lit("g").alias("side"),
                    F.col("gt_class").alias("cls"),
                    F.col("gt_prefix").alias("prefix"),
                ),
                F.struct(
                    F.lit("p").alias("side"),
                    F.col("pred_class").alias("cls"),
                    F.col("pred_prefix").alias("prefix"),
                ),
            )
        ).alias("sd"),
    ).select("doc_id", "pos", "sd.side", "sd.cls", "sd.prefix")
    w = Window.partitionBy("doc_id", "side").orderBy("pos")
    prev = F.lag(F.col("cls")).over(w)
    is_ent = F.col("cls") != O_CLASS
    begins = is_ent & (
        (F.col("prefix") == "B")
        | prev.isNull()
        | (prev == O_CLASS)
        | (prev != F.col("cls"))
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ents = (
        sides.withColumn("begins", begins)
        .withColumn("ent_id", F.sum(F.col("begins").cast("long")).over(wc))
        .filter(is_ent)
        .groupBy("doc_id", "side", "ent_id")
        .agg(
            F.min("cls").alias("cls"),
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
        )
    )
    spans = ents.groupBy("doc_id", "cls", "start_pos", "end_pos").agg(
        F.max((F.col("side") == "p").cast("int")).alias("has_p"),
        F.max((F.col("side") == "g").cast("int")).alias("has_g"),
    )
    counts = spans.agg(
        F.sum(F.col("has_p") * F.col("has_g")).alias("tp"),
        F.sum("has_p").alias("n_pred"),
        F.sum("has_g").alias("n_gt"),
    )
    return counts.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("n_gt").cast("long").alias("n_gt"),
        F.expr("(10000 * tp) div n_pred").alias("precision_bp"),
        F.expr("(10000 * tp) div n_gt").alias("recall_bp"),
        F.expr("(20000 * tp) div (n_pred + n_gt)").alias("hmean_bp"),
    )


def _entities_sql(name: str, prefix: str, cls: str) -> str:
    return f"""
{name}0 AS (
  SELECT doc_id, pos, {cls} AS cls,
         ({cls} != {O_CLASS} AND (
            {prefix} = 'B'
            OR lag({cls}) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
            OR lag({cls}) OVER (PARTITION BY doc_id ORDER BY pos) = {O_CLASS}
            OR lag({cls}) OVER (PARTITION BY doc_id ORDER BY pos) != {cls}
         )) AS begins
  FROM toks
),
{name}1 AS (
  SELECT doc_id, pos, cls, begins,
         sum(CASE WHEN begins THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS ent_id
  FROM {name}0
),
{name} AS (
  SELECT doc_id, ent_id, min(cls) AS cls,
         min(pos) AS start_pos, max(pos) AS end_pos
  FROM {name}1 WHERE cls != {O_CLASS}
  GROUP BY doc_id, ent_id
)"""


SER_SEQEVAL_SQL = f"""
WITH {_TOKENS_SQL.lstrip()},
{_entities_sql("gt_ents", "gt_prefix", "gt_class").lstrip()},
{_entities_sql("pred_ents", "pred_prefix", "pred_class").lstrip()},
agg AS (
  SELECT
    (SELECT count(*) FROM pred_ents p JOIN gt_ents g
       ON p.doc_id = g.doc_id AND p.cls = g.cls
      AND p.start_pos = g.start_pos AND p.end_pos = g.end_pos)::BIGINT AS tp,
    (SELECT count(*) FROM pred_ents)::BIGINT AS n_pred,
    (SELECT count(*) FROM gt_ents)::BIGINT AS n_gt
)
SELECT tp, n_pred, n_gt,
       ((10000 * tp) // n_pred)::BIGINT AS precision_bp,
       ((10000 * tp) // n_gt)::BIGINT AS recall_bp,
       ((20000 * tp) // (n_pred + n_gt))::BIGINT AS hmean_bp
FROM agg
"""


RE_MAX_SEG_DISTANCE = 2  # candidate pair window: bounded join fan-out


def re_link_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE binary pair-classification metric (VQAReTokenMetric,
    kie_metrics.py:70-104): question x answer segment candidates within
    +-{RE_MAX_SEG_DISTANCE} segments, deterministic gt/pred link labels,
    binary precision/recall/F1 in basis points."""
    t = ser_tokens(_docs(spark, sf_dir))
    segs = t.select("doc_id", "segment_id", "gt_class").distinct()
    q = segs.filter(F.col("gt_class") == 0).select(
        "doc_id", F.col("segment_id").alias("q_seg")
    )
    a = segs.filter(F.col("gt_class") == 1).select(
        "doc_id", F.col("segment_id").alias("a_seg")
    )
    pairs = q.join(a, "doc_id").filter(
        F.abs(F.col("q_seg") - F.col("a_seg")) <= RE_MAX_SEG_DISTANCE
    )
    gt = (F.col("doc_id") + F.col("q_seg") * 3 + F.col("a_seg")) % 3 == 0
    noise = (F.col("doc_id") * 11 + F.col("q_seg") + F.col("a_seg") * 5) % 13 == 4
    pairs = pairs.withColumn("gt_link", gt).withColumn(
        "pred_link", gt != noise
    )
    agg = pairs.agg(
        F.sum((F.col("pred_link") & F.col("gt_link")).cast("long")).alias("tp"),
        F.sum((F.col("pred_link") & ~F.col("gt_link")).cast("long")).alias("fp"),
        F.sum((~F.col("pred_link") & F.col("gt_link")).cast("long")).alias("fn"),
    )
    return agg.select(
        "tp", "fp", "fn",
        F.expr("(10000 * tp) div (tp + fp)").alias("precision_bp"),
        F.expr("(10000 * tp) div (tp + fn)").alias("recall_bp"),
        F.expr("(20000 * tp) div (2 * tp + fp + fn)").alias("hmean_bp"),
    )


RE_LINK_SQL = f"""
WITH {_TOKENS_SQL.lstrip()},
segs AS (SELECT DISTINCT doc_id, segment_id, gt_class FROM toks),
pairs AS (
  SELECT q.doc_id, q.segment_id AS q_seg, a.segment_id AS a_seg,
         (q.doc_id + q.segment_id * 3 + a.segment_id) % 3 = 0 AS gt_link,
         ((q.doc_id + q.segment_id * 3 + a.segment_id) % 3 = 0)
           != ((q.doc_id * 11 + q.segment_id + a.segment_id * 5) % 13 = 4)
           AS pred_link
  FROM segs q JOIN segs a
    ON q.doc_id = a.doc_id AND q.gt_class = 0 AND a.gt_class = 1
   AND abs(q.segment_id - a.segment_id) <= {RE_MAX_SEG_DISTANCE}
),
agg AS (
  SELECT sum(CASE WHEN pred_link AND gt_link THEN 1 ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN pred_link AND NOT gt_link THEN 1 ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN NOT pred_link AND gt_link THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM pairs
)
SELECT tp, fp, fn,
       ((10000 * tp) // (tp + fp))::BIGINT AS precision_bp,
       ((10000 * tp) // (tp + fn))::BIGINT AS recall_bp,
       ((20000 * tp) // (2 * tp + fp + fn))::BIGINT AS hmean_bp
FROM agg
"""


# --- XFUND file-decode path under the driver oracle ---------------------------
# The SER/RE queries above derive their token table in-plan; this query
# instead drives the FILE path: a deterministic XFUND-format JSON document
# (mindocr/data/kie_dataset.py reads the same shape) is rendered from the
# documents table, decoded through sources.datasets.read_xfund
# (wholetext -> from_json -> double explode), and flattened to scalar
# entity rows.  The DuckDB oracle recomputes the identical rows from
# `documents` by integer arithmetic alone — so the JSON render, the
# from_json schema, and both explodes are all under the value hash.
#
# Entity derivation (pure integer arithmetic, shared with ser_tokens'
# segmentation): segments are ser_tokens segments; label class c =
# (doc_id + segment_id*7) % 4 with 3 = "other"; box is an affine function
# of (segment_id, n_tokens); a question segment s (c=0) always has
# class(s+3) = 1, so RE links are [[s, s+3]] mirrored on both endpoints.

XFUND_CLASS_NAMES = ["question", "answer", "header", "other"]


def _xfund_entity_fields(doc_id: int, seg_id: int, ntok: int) -> dict:
    """Shared arithmetic for the JSON render (python side). The SQL mirror
    is inlined in XFUND_ENTITIES_SQL — keep the two in lockstep."""
    cls = (doc_id + seg_id * 7) % 4
    x1 = 10 + 13 * (seg_id % 37)
    y1 = 8 + 9 * (seg_id % 61)
    return {
        "cls": cls,
        "label": XFUND_CLASS_NAMES[cls],
        "box": [x1, y1, x1 + 15 + 7 * (ntok % 11), y1 + 24],
    }


def render_xfund_json(docs_pdf) -> str:
    """documents pandas -> XFUND-format JSON string (deterministic)."""
    import json

    out_docs = []
    for _, row in docs_pdf.sort_values("doc_id").iterrows():
        doc_id = int(row["doc_id"])
        toks = str(row["text"]).split(" ")
        segs: list[list[str]] = []
        for pos, tok in enumerate(toks):
            if pos == 0 or (doc_id * 37 + pos) % 4 == 0:
                segs.append([])
            segs[-1].append(tok)
        n_seg = len(segs)
        entities = []
        for seg_id0, seg_toks in enumerate(segs):
            seg_id = seg_id0 + 1
            f = _xfund_entity_fields(doc_id, seg_id, len(seg_toks))
            linking = []
            if f["cls"] == 0 and seg_id + 3 <= n_seg:
                linking.append([seg_id, seg_id + 3])
            if f["cls"] == 1 and seg_id - 3 >= 1:
                linking.append([seg_id - 3, seg_id])
            entities.append(
                {
                    "id": seg_id,
                    "label": f["label"],
                    "text": " ".join(seg_toks),
                    "box": f["box"],
                    "linking": linking,
                }
            )
        out_docs.append(
            {
                "id": f"doc_{doc_id}",
                "img": {
                    "fname": f"doc_{doc_id}.png",
                    "width": 640 + 32 * (doc_id % 10),
                    "height": 960,
                },
                "document": entities,
            }
        )
    return json.dumps({"documents": out_docs})


def _xfund_json_path(sf_dir: str) -> str:
    """Render-once memo of the XFUND JSON fixture (same contract as the
    derived-corpus memo: content-fingerprint key, process-local tempdir)."""
    import atexit
    import os
    import shutil
    import tempfile

    import pandas as pd

    from ..data.derive_corpus import _source_fingerprint

    src = f"{sf_dir}/documents.parquet"
    key = (sf_dir, _source_fingerprint(src))
    cached = _XFUND_JSON_CACHE.get(key)
    if cached is None:
        out = tempfile.mkdtemp(prefix="mindocr_xfund_json_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        cached = os.path.join(out, "xfund.json")
        with open(cached, "w") as fh:
            fh.write(render_xfund_json(pd.read_parquet(src)))
        _XFUND_JSON_CACHE[key] = cached
    return cached


_XFUND_JSON_CACHE: dict[tuple[str, str], str] = {}


from ..sources.datasets import _XFUND_SCHEMA as _XFUND_JSON_SCHEMA  # noqa: E402


def xfund_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the rendered XFUND JSON through the file source and flatten
    to one scalar row per entity: (doc_id, fname, width, entity_id,
    label, text, x1, y1, x2, y2, links_json)."""
    from ..sources.datasets import read_xfund

    path = _xfund_json_path(sf_dir)
    raw = spark.read.text(path, wholetext=True).select(
        F.from_json("value", _XFUND_JSON_SCHEMA).alias("j")
    )
    docs = raw.select(F.explode("j.documents").alias("d"))
    # read_xfund provides the standard (doc_id, fname, entity...) view;
    # width is re-selected here because the driver row also certifies the
    # img-struct decode
    ents = read_xfund(spark, path)
    widths = docs.select(
        F.col("d.id").alias("doc_id"), F.col("d.img.width").alias("width")
    )
    return (
        ents.join(widths, "doc_id")
        .select(
            "doc_id",
            "fname",
            F.col("width").cast("long").alias("width"),
            F.col("entity_id").cast("long").alias("entity_id"),
            "label",
            "text",
            F.element_at("box", 1).cast("long").alias("x1"),
            F.element_at("box", 2).cast("long").alias("y1"),
            F.element_at("box", 3).cast("long").alias("x2"),
            F.element_at("box", 4).cast("long").alias("y2"),
            F.to_json("linking").alias("links_json"),
        )
    )


XFUND_ENTITIES_SQL = """
WITH tok0 AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(text, ' ')))) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tok1 AS (
  SELECT doc_id, pos, tok,
         (pos = 0 OR (doc_id * 37 + pos) % 4 = 0) AS seg_start
  FROM tok0
),
tok2 AS (
  SELECT doc_id, pos, tok,
         (sum(CASE WHEN seg_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING))::BIGINT AS segment_id
  FROM tok1
),
seg AS (
  SELECT doc_id, segment_id,
         count(*)::BIGINT AS ntok,
         string_agg(tok, ' ' ORDER BY pos) AS text
  FROM tok2 GROUP BY 1, 2
),
nseg AS (SELECT doc_id, max(segment_id) AS n_seg FROM seg GROUP BY 1),
ent AS (
  SELECT s.doc_id, s.segment_id, s.ntok, s.text, n.n_seg,
         (s.doc_id + s.segment_id * 7) % 4 AS cls,
         10 + 13 * (s.segment_id % 37) AS x1,
         8 + 9 * (s.segment_id % 61) AS y1
  FROM seg s JOIN nseg n ON s.doc_id = n.doc_id
)
SELECT 'doc_' || doc_id AS doc_id,
       'doc_' || doc_id || '.png' AS fname,
       (640 + 32 * (doc_id % 10))::BIGINT AS width,
       segment_id AS entity_id,
       CASE cls WHEN 0 THEN 'question' WHEN 1 THEN 'answer'
                WHEN 2 THEN 'header' ELSE 'other' END AS label,
       text,
       x1::BIGINT AS x1, y1::BIGINT AS y1,
       (x1 + 15 + 7 * (ntok % 11))::BIGINT AS x2, (y1 + 24)::BIGINT AS y2,
       CASE WHEN cls = 0 AND segment_id + 3 <= n_seg
              THEN '[[' || segment_id || ',' || (segment_id + 3) || ']]'
            WHEN cls = 1 AND segment_id - 3 >= 1
              THEN '[[' || (segment_id - 3) || ',' || segment_id || ']]'
            ELSE '[]' END AS links_json
FROM ent
"""
