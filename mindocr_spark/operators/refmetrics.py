"""Reference evaluation metrics over surrogate pred/gt pairs.

Two metrics from the reference's metric zoo given a driver surface,
following the ``det_metric_prf``/``rec_metric`` precedent: derive
deterministic prediction/ground-truth pairs from the synthetic tables,
then compute the reference's exact aggregation — engine-exact (integer
basis points, no float boundary), so both are fully hash-oracled.

- :func:`table_structure_acc` — TableStructureMetric
  (reference ``mindocr/metrics/table_metrics.py:6-57``): per-table
  structure-token exact-match accuracy, with the ``del_thead_tbody``
  variant computed alongside. The ground-truth token strings are built
  with the REAL TableMaster vocabulary composer
  (``functions/table_master.py:grid_structure_tokens``) so the driver row
  certifies that composer against the oracle's closed-form SQL.
- :func:`layout_map` — YOLOv8Metric / COCOeval bbox mAP
  (reference ``mindocr/metrics/layout_metrics.py:7-30``): grouped
  per-image-per-class IoU join, greedy score-ordered matching, 101-point
  interpolated AP per (class, IoU threshold), averaged over the 10 COCO
  thresholds .50:.05:.95. The AP interpolation is computed without the
  101-row grid join: precision-envelope × first-crossing rank arithmetic
  (a lag window), which is also the 100 TB-safe form.

Scale notes: everything is bounded equi-joins and partitioned windows —
the IoU join is keyed (img, class) with per-image fan-out bounded by the
boxes on one page; PR curves are per-(class, threshold) windows (30
partitions regardless of corpus size; at a real 10^9-image scale the
per-class curve window is the known single-reducer point of ANY exact AP
— the standard mitigation, score-bucketed histogram PR, would replace the
rank window; documented, not needed at driver scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- TableStructureMetric ----------------------------------------------------

_DEL_CHAIN = (
    ("<thead>", ""),
    ("</thead>", ""),
    ("<tbody>", ""),
    ("</tbody>", ""),
)


def _strip_wrappers(col):
    """The reference's exact del_thead_tbody replace chain
    (table_metrics.py:22-34)."""
    out = col
    for old, new in _DEL_CHAIN:
        out = F.replace(out, F.lit(old), F.lit(new))
    return out


def structure_acc(pairs: DataFrame, pred_col: str = "pred_str",
                  gt_col: str = "gt_str") -> DataFrame:
    """TableStructureMetric core (table_metrics.py:13-49) over a DataFrame
    of joined-token strings: exact-match accuracy, plus the
    ``del_thead_tbody`` variant in the same row. Accuracy is integer
    basis points (the repo's engine-exact convention; the reference's
    ``correct/(all+eps)`` float is recovered as acc_bp/10000)."""
    scored = pairs.select(
        F.when(F.col(pred_col) == F.col(gt_col), 1).otherwise(0).alias("ok"),
        F.when(
            _strip_wrappers(F.col(pred_col)) == _strip_wrappers(F.col(gt_col)),
            1,
        ).otherwise(0).alias("ok_del"),
    )
    agg = scored.agg(
        F.count("*").cast("long").alias("n_tables"),
        F.sum("ok").cast("long").alias("correct"),
        F.sum("ok_del").cast("long").alias("correct_del"),
    )
    return agg.select(
        "n_tables",
        "correct",
        F.expr("(10000 * correct) div n_tables").alias("acc_bp"),
        "correct_del",
        F.expr("(10000 * correct_del) div n_tables").alias("acc_del_bp"),
    )


def table_structure_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableStructureMetric over surrogate decode results: every document
    is a (2 + doc_id%4) x (2 + doc_id%3) ruled grid whose ground-truth
    token string comes from the real TableMaster composer
    (``grid_structure_tokens``, broadcast 12-combo lookup); predictions
    are the ground truth with two deterministic error populations:

    - ``doc_id % 7 == 0``: a structural error — one extra ``<td></td>``
      in the last body row (wrong under both variants);
    - else ``doc_id % 5 == 0``: a wrapper-only error — the
      ``<thead>/<tbody>`` wrappers dropped (wrong plain, CORRECT under
      ``del_thead_tbody``, which is exactly what that variant exists to
      forgive — table_metrics.py:22-34).
    """
    from ..functions.table_master import grid_structure_tokens

    lut = spark.createDataFrame(
        [
            (r, c, "".join(grid_structure_tokens(r, c)))
            for r in range(2, 6)
            for c in range(2, 5)
        ],
        "n_rows int, n_cols int, gt_str string",
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("n_rows"),
        (F.lit(2) + F.col("doc_id") % 3).cast("int").alias("n_cols"),
    )
    pairs = docs.join(F.broadcast(lut), ["n_rows", "n_cols"]).select(
        "doc_id",
        "gt_str",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.replace(
                F.col("gt_str"),
                F.lit("</tr></tbody>"),
                F.lit("<td></td></tr></tbody>"),
            ),
        )
        .when(F.col("doc_id") % 5 == 0, _strip_wrappers(F.col("gt_str")))
        .otherwise(F.col("gt_str"))
        .alias("pred_str"),
    )
    return structure_acc(pairs)


TABLE_STRUCTURE_ACC_SQL = """
WITH shape AS (
  SELECT doc_id,
         (2 + doc_id % 4)::INT AS n_rows,
         (2 + doc_id % 3)::INT AS n_cols
  FROM documents
),
gt AS (
  SELECT doc_id,
         '<thead><tr>' || repeat('<td></td>', n_cols) || '</tr></thead>'
         || '<tbody>'
         || repeat('<tr>' || repeat('<td></td>', n_cols) || '</tr>', n_rows - 1)
         || '</tbody>' AS gt_str
  FROM shape
),
pairs AS (
  SELECT doc_id, gt_str,
         CASE
           WHEN doc_id % 7 = 0 THEN
             replace(gt_str, '</tr></tbody>', '<td></td></tr></tbody>')
           WHEN doc_id % 5 = 0 THEN
             replace(replace(replace(replace(gt_str,
               '<thead>', ''), '</thead>', ''), '<tbody>', ''), '</tbody>', '')
           ELSE gt_str
         END AS pred_str
  FROM gt
),
scored AS (
  SELECT CASE WHEN pred_str = gt_str THEN 1 ELSE 0 END AS ok,
         CASE WHEN replace(replace(replace(replace(pred_str,
                '<thead>', ''), '</thead>', ''), '<tbody>', ''), '</tbody>', '')
              = replace(replace(replace(replace(gt_str,
                '<thead>', ''), '</thead>', ''), '<tbody>', ''), '</tbody>', '')
              THEN 1 ELSE 0 END AS ok_del
  FROM pairs
),
agg AS (
  SELECT count(*)::BIGINT AS n_tables,
         sum(ok)::BIGINT AS correct,
         sum(ok_del)::BIGINT AS correct_del
  FROM scored
)
SELECT n_tables, correct,
       ((10000 * correct) // n_tables)::BIGINT AS acc_bp,
       correct_del,
       ((10000 * correct_del) // n_tables)::BIGINT AS acc_del_bp
FROM agg
"""


# --- YOLOv8Metric / COCO bbox mAP -------------------------------------------

COCO_THRESHOLDS = list(range(50, 100, 5))


def coco_map_bp(
    gts: DataFrame,
    preds: DataFrame,
    thresholds: list[int] | None = None,
) -> DataFrame:
    """COCO-style bbox mAP (layout_metrics.py:7-30 / COCOeval 'bbox') as a
    grouped IoU join + per-class AP windows, integer basis points.

    Inputs: ``gts(img_id, class_id, gt_id, x1, y1, x2, y2)`` and
    ``preds(img_id, class_id, pred_id, score_milli, x1, y1, x2, y2)``;
    integer pixel coords, ``pred_id`` globally unique (the deterministic
    score tie-break; COCOeval uses input order, which a distributed
    engine cannot honor).

    Exact greedy equivalence requires each prediction to overlap at most
    one same-class gt on its image (true of layout detection after NMS,
    and asserted for the surrogate in tests); with multiple overlaps the
    per-gt score rank approximates COCO's greedy pass. AP uses the
    101-point interpolated precision envelope; the grid is folded into
    first-crossing rank arithmetic (env * (maxr - lag(maxr))), so no
    101-way join exists in the plan. Integer floor on precision keeps
    both engines bit-identical (within 1bp of float COCOeval).

    Output: one row per class (ap50_bp, ap_bp = mean over the 10 COCO
    thresholds) plus the overall row ``class_id = -1`` (the reference's
    ``stats[0]`` is overall ap_bp/10000).
    """
    ts = thresholds or COCO_THRESHOLDS
    inter_w = F.least(F.col("p.x2"), F.col("g.x2")) - F.greatest(
        F.col("p.x1"), F.col("g.x1")
    )
    inter_h = F.least(F.col("p.y2"), F.col("g.y2")) - F.greatest(
        F.col("p.y1"), F.col("g.y1")
    )
    matched = (
        preds.alias("p")
        .join(
            gts.alias("g"),
            (F.col("p.img_id") == F.col("g.img_id"))
            & (F.col("p.class_id") == F.col("g.class_id"))
            & (F.col("p.x1") < F.col("g.x2"))
            & (F.col("g.x1") < F.col("p.x2"))
            & (F.col("p.y1") < F.col("g.y2"))
            & (F.col("g.y1") < F.col("p.y2")),
        )
        .select(
            F.col("p.pred_id").alias("pred_id"),
            F.col("p.img_id").alias("img_id"),
            F.col("p.class_id").alias("class_id"),
            F.col("p.score_milli").alias("score_milli"),
            F.col("g.gt_id").alias("gt_id"),
            (inter_w * inter_h).alias("inter"),
            (
                (F.col("p.x2") - F.col("p.x1")) * (F.col("p.y2") - F.col("p.y1"))
                + (F.col("g.x2") - F.col("g.x1")) * (F.col("g.y2") - F.col("g.y1"))
                - inter_w * inter_h
            ).alias("uni"),
        )
    )
    t_df = preds.sparkSession.createDataFrame([(t,) for t in ts], "t int")
    # greedy match per threshold: among preds hitting (img, class, gt)
    # with IoU >= t/100, the best score wins the gt; everyone else is FP
    qual = matched.join(F.broadcast(t_df)).filter(
        F.col("inter") * 100 >= F.col("t") * F.col("uni")
    )
    w_gt = Window.partitionBy("t", "img_id", "class_id", "gt_id").orderBy(
        F.desc("score_milli"), F.asc("pred_id")
    )
    tp = (
        qual.withColumn("rk", F.row_number().over(w_gt))
        .filter(F.col("rk") == 1)
        .select("t", "pred_id", F.lit(1).alias("is_tp"))
    )
    scored = (
        preds.select("class_id", "pred_id", "score_milli")
        .join(F.broadcast(t_df))
        .join(tp, ["t", "pred_id"], "left")
        .select(
            "t",
            "class_id",
            "pred_id",
            "score_milli",
            F.coalesce("is_tp", F.lit(0)).alias("is_tp"),
        )
    )
    n_gt = gts.groupBy("class_id").agg(F.count("*").cast("long").alias("n_gt"))
    w_curve = Window.partitionBy("t", "class_id").orderBy(
        F.desc("score_milli"), F.asc("pred_id")
    )
    ranked = (
        scored.join(F.broadcast(n_gt), "class_id")
        .withColumn("rn", F.row_number().over(w_curve))
        .withColumn(
            "cumtp",
            F.sum("is_tp").over(w_curve.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("prec_bp", F.expr("(10000 * cumtp) div rn"))
        .withColumn("maxr", F.expr("(100 * cumtp) div n_gt"))
    )
    w_env = Window.partitionBy("t", "class_id").orderBy(F.desc("rn")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_lag = Window.partitionBy("t", "class_id").orderBy(F.asc("rn"))
    curve = ranked.withColumn("env_bp", F.max("prec_bp").over(w_env)).withColumn(
        "contrib",
        F.col("env_bp") * (F.col("maxr") - F.lag("maxr", 1, -1).over(w_lag)),
    )
    ap = curve.groupBy("class_id", "t").agg(
        F.expr("sum(contrib) div 101").cast("long").alias("ap_t_bp")
    )
    n_pred = preds.groupBy("class_id").agg(
        F.count("*").cast("long").alias("n_pred")
    )
    percls = (
        ap.groupBy("class_id")
        .agg(
            F.max(F.when(F.col("t") == 50, F.col("ap_t_bp"))).alias("ap50_bp"),
            F.expr(f"sum(ap_t_bp) div {len(ts)}").cast("long").alias("ap_bp"),
        )
        .join(F.broadcast(n_gt), "class_id")
        .join(F.broadcast(n_pred), "class_id")
        .select(
            F.col("class_id").cast("long").alias("class_id"),
            "n_gt",
            "n_pred",
            "ap50_bp",
            "ap_bp",
        )
    )
    # per-class table feeds both output branches (rows + overall agg):
    # persist so the PR-curve windows run once, not twice
    from ..config import persist_intermediate

    percls = persist_intermediate(percls)
    overall = percls.agg(
        F.lit(-1).cast("long").alias("class_id"),
        F.sum("n_gt").cast("long").alias("n_gt"),
        F.sum("n_pred").cast("long").alias("n_pred"),
        F.expr("sum(ap50_bp) div count(*)").cast("long").alias("ap50_bp"),
        F.expr("sum(ap_bp) div count(*)").cast("long").alias("ap_bp"),
    )
    return percls.unionByName(overall)


def layout_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YOLOv8Metric mAP over surrogate layout detections: every document
    is one page image with 1 + doc_id%3 ground-truth regions across 3
    layout classes; predictions are the gt boxes under deterministic
    integer jitter (IoU spread 0.61-1.0, so higher COCO thresholds
    progressively lose matches), one doubled detection per 6th page (the
    greedy score contest) and one far-away false positive per 4th page.
    Geometry guarantees each prediction overlaps at most one gt (boxes
    200px apart, |jitter| <= 20), making the windowed match exactly
    COCO-greedy."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("img_id"),
        (F.lit(1) + F.col("doc_id") % 3).alias("n_gt"),
    )
    g = docs.select(
        "img_id", F.explode(F.sequence(F.lit(0), F.col("n_gt") - 1)).alias("g")
    )
    gts = g.select(
        "img_id",
        ((F.col("img_id") + F.col("g")) % 3).alias("class_id"),
        F.col("g").alias("gt_id"),
        (F.col("g") * 200).alias("x1"),
        ((F.col("img_id") % 5) * 100).alias("y1"),
        (F.col("g") * 200 + 150).alias("x2"),
        ((F.col("img_id") % 5) * 100 + 80).alias("y2"),
    )
    main = g.select(
        "img_id",
        ((F.col("img_id") + F.col("g")) % 3).alias("class_id"),
        (F.col("img_id") * 10 + F.col("g") * 3).alias("pred_id"),
        ((F.col("img_id") * 31 + F.col("g") * 17) % 1000).alias("score_milli"),
        (F.col("g") * 200 + (F.col("img_id") * 7 + F.col("g") * 13) % 41 - 20)
        .alias("x1"),
        (
            (F.col("img_id") % 5) * 100
            + (F.col("img_id") * 11 + F.col("g") * 5) % 21
            - 10
        ).alias("y1"),
    )
    main = main.select(
        "img_id", "class_id", "pred_id", "score_milli", "x1", "y1",
        (F.col("x1") + 150).alias("x2"), (F.col("y1") + 80).alias("y2"),
    )
    base = docs.select("img_id")
    cont = base.filter(F.col("img_id") % 6 == 0).select(
        "img_id",
        (F.col("img_id") % 3).alias("class_id"),
        (F.col("img_id") * 10 + 1).alias("pred_id"),
        ((F.col("img_id") * 19 + 7) % 1000).alias("score_milli"),
        F.lit(18).alias("x1"),
        ((F.col("img_id") % 5) * 100).alias("y1"),
        F.lit(168).alias("x2"),
        ((F.col("img_id") % 5) * 100 + 80).alias("y2"),
    )
    extra = base.filter(F.col("img_id") % 4 == 0).select(
        "img_id",
        (F.col("img_id") % 3).alias("class_id"),
        (F.col("img_id") * 10 + 2).alias("pred_id"),
        ((F.col("img_id") * 13) % 1000).alias("score_milli"),
        (F.lit(5000) + (F.col("img_id") % 3) * 200).alias("x1"),
        ((F.col("img_id") % 5) * 100).alias("y1"),
        (F.lit(5150) + (F.col("img_id") % 3) * 200).alias("x2"),
        ((F.col("img_id") % 5) * 100 + 80).alias("y2"),
    )
    preds = main.unionByName(cont).unionByName(extra)
    return coco_map_bp(gts, preds)


LAYOUT_MAP_SQL = """
WITH g AS (
  SELECT doc_id AS img_id, unnest(range(0, 1 + doc_id % 3)) AS g
  FROM documents
),
gts AS (
  SELECT img_id, (img_id + g) % 3 AS class_id, g AS gt_id,
         g * 200 AS x1, (img_id % 5) * 100 AS y1,
         g * 200 + 150 AS x2, (img_id % 5) * 100 + 80 AS y2
  FROM g
),
main AS (
  SELECT img_id, (img_id + g) % 3 AS class_id,
         img_id * 10 + g * 3 AS pred_id,
         (img_id * 31 + g * 17) % 1000 AS score_milli,
         g * 200 + (img_id * 7 + g * 13) % 41 - 20 AS x1,
         (img_id % 5) * 100 + (img_id * 11 + g * 5) % 21 - 10 AS y1
  FROM g
),
preds AS (
  SELECT img_id, class_id, pred_id, score_milli, x1, y1,
         x1 + 150 AS x2, y1 + 80 AS y2
  FROM main
  UNION ALL
  SELECT img_id, img_id % 3, img_id * 10 + 1, (img_id * 19 + 7) % 1000,
         18, (img_id % 5) * 100, 168, (img_id % 5) * 100 + 80
  FROM (SELECT DISTINCT img_id FROM g) b1 WHERE img_id % 6 = 0
  UNION ALL
  SELECT img_id, img_id % 3, img_id * 10 + 2, (img_id * 13) % 1000,
         5000 + (img_id % 3) * 200, (img_id % 5) * 100,
         5150 + (img_id % 3) * 200, (img_id % 5) * 100 + 80
  FROM (SELECT DISTINCT img_id FROM g) b2 WHERE img_id % 4 = 0
),
matched AS (
  SELECT p.pred_id, p.img_id, p.class_id, p.score_milli, gg.gt_id,
         (least(p.x2, gg.x2) - greatest(p.x1, gg.x1))
         * (least(p.y2, gg.y2) - greatest(p.y1, gg.y1)) AS inter,
         (p.x2 - p.x1) * (p.y2 - p.y1) + (gg.x2 - gg.x1) * (gg.y2 - gg.y1)
         - (least(p.x2, gg.x2) - greatest(p.x1, gg.x1))
           * (least(p.y2, gg.y2) - greatest(p.y1, gg.y1)) AS uni
  FROM preds p
  JOIN gts gg ON p.img_id = gg.img_id AND p.class_id = gg.class_id
    AND p.x1 < gg.x2 AND gg.x1 < p.x2 AND p.y1 < gg.y2 AND gg.y1 < p.y2
),
ts AS (SELECT unnest([50, 55, 60, 65, 70, 75, 80, 85, 90, 95]) AS t),
tp AS (
  SELECT t, pred_id, 1 AS is_tp FROM (
    SELECT ts.t, m.pred_id,
           row_number() OVER (
             PARTITION BY ts.t, m.img_id, m.class_id, m.gt_id
             ORDER BY m.score_milli DESC, m.pred_id ASC) AS rk
    FROM matched m CROSS JOIN ts
    WHERE m.inter * 100 >= ts.t * m.uni
  ) WHERE rk = 1
),
n_gt_t AS (SELECT class_id, count(*)::BIGINT AS n_gt FROM gts GROUP BY class_id),
n_pred_t AS (
  SELECT class_id, count(*)::BIGINT AS n_pred FROM preds GROUP BY class_id
),
scored AS (
  SELECT ts.t, p.class_id, p.pred_id, p.score_milli,
         coalesce(tp.is_tp, 0) AS is_tp
  FROM preds p CROSS JOIN ts
  LEFT JOIN tp ON tp.t = ts.t AND tp.pred_id = p.pred_id
),
ranked AS (
  SELECT s.t, s.class_id, s.pred_id, n.n_gt,
         row_number() OVER w AS rn,
         sum(s.is_tp) OVER (
           PARTITION BY s.t, s.class_id
           ORDER BY s.score_milli DESC, s.pred_id ASC
           ROWS UNBOUNDED PRECEDING)::BIGINT AS cumtp
  FROM scored s JOIN n_gt_t n ON n.class_id = s.class_id
  WINDOW w AS (PARTITION BY s.t, s.class_id
               ORDER BY s.score_milli DESC, s.pred_id ASC)
),
curve AS (
  SELECT t, class_id, rn,
         (10000 * cumtp) // rn AS prec_bp,
         (100 * cumtp) // n_gt AS maxr
  FROM ranked
),
env AS (
  SELECT t, class_id, rn, maxr,
         max(prec_bp) OVER (PARTITION BY t, class_id ORDER BY rn DESC
                            ROWS UNBOUNDED PRECEDING) AS env_bp,
         lag(maxr, 1, -1) OVER (PARTITION BY t, class_id ORDER BY rn ASC)
           AS prev_maxr
  FROM curve
),
ap AS (
  SELECT class_id, t,
         (sum(env_bp * (maxr - prev_maxr)) // 101)::BIGINT AS ap_t_bp
  FROM env GROUP BY class_id, t
),
percls AS (
  SELECT ap.class_id::BIGINT AS class_id, n.n_gt, np.n_pred,
         max(CASE WHEN t = 50 THEN ap_t_bp END)::BIGINT AS ap50_bp,
         (sum(ap_t_bp) // 10)::BIGINT AS ap_bp
  FROM ap
  JOIN n_gt_t n ON n.class_id = ap.class_id
  JOIN n_pred_t np ON np.class_id = ap.class_id
  GROUP BY ap.class_id, n.n_gt, np.n_pred
)
SELECT class_id, n_gt, n_pred, ap50_bp, ap_bp FROM percls
UNION ALL
SELECT -1::BIGINT, sum(n_gt)::BIGINT, sum(n_pred)::BIGINT,
       (sum(ap50_bp) // count(*))::BIGINT, (sum(ap_bp) // count(*))::BIGINT
FROM percls
"""
