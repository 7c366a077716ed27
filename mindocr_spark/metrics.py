"""Evaluation metrics as Spark aggregations.

- ``det_metric``: DetMetric semantics (``mindocr/metrics/det_metrics.py:22-167``):
  per-image greedy IoU>0.5 matching of predicted vs ground-truth quads
  (invalid gt quads dropped, ignore-region handling at intersect/area>0.5),
  binary labels -> global TP/FP/FN sums -> precision/recall/f-score. The
  per-image matcher is a row function under ``config.row_stage`` (one
  ``mapInPandas``, no shuffle: each image row is matched on its own); the
  global sum is a native partial+final aggregation — the Spark analogue
  of the reference's ``AllReduce(sum)`` (det_metrics.py:110-111,159-162).
- ``rec_metric``: RecMetric semantics (``mindocr/metrics/rec_metrics.py:16-158``):
  strip spaces, lower, filter label chars outside the dictionary, then
  exact-match accuracy and 1 - mean(levenshtein / max(len)).
- ``cls_metric``: angle accuracy (``mindocr/metrics/cls_metrics.py:4-42``).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import CHARSET, row_stage
from .functions.geometry import poly_area_perimeter, poly_intersection_area, poly_iou

MIN_IOU = 0.5
MIN_INTERSECT = 0.5


def _segments_cross(p: np.ndarray) -> bool:
    """True if any two non-adjacent edges of the closed polygon intersect."""
    n = len(p)

    def ccw(a, b, c):
        return (c[1] - a[1]) * (b[0] - a[0]) - (b[1] - a[1]) * (c[0] - a[0])

    for i in range(n):
        a1, a2 = p[i], p[(i + 1) % n]
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue
            b1, b2 = p[j], p[(j + 1) % n]
            d1 = ccw(a1, a2, b1)
            d2 = ccw(a1, a2, b2)
            d3 = ccw(b1, b2, a1)
            d4 = ccw(b1, b2, a2)
            if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
                return True
    return False


def quad_is_valid(poly: np.ndarray) -> bool:
    """shapely ``is_valid`` equivalent for quads: positive area, simple."""
    area, _ = poly_area_perimeter(poly)
    if area <= 0:
        return False
    return not _segments_cross(np.asarray(poly, dtype=np.float64))


def match_image_labels(
    pred_polys: list[np.ndarray],
    gt_polys: list[np.ndarray],
    gt_ignore: list[bool],
) -> tuple[int, int, int]:
    """One image -> (tp, fp, fn), reference greedy matching semantics."""
    gts, ignores = [], []
    for poly, ig in zip(gt_polys, gt_ignore):
        p = np.asarray(poly, dtype=np.float64)
        if quad_is_valid(p):
            (ignores if ig else gts).append(p)
    dets = []
    for poly in pred_polys:
        p = np.asarray(poly, dtype=np.float64)
        if not quad_is_valid(p):
            continue
        area, _ = poly_area_perimeter(p)
        if ignores and area > 0:
            ignored = False
            for ig in ignores:
                if poly_intersection_area(ig, p) / area > MIN_INTERSECT:
                    ignored = True
                    break
            if ignored:
                continue
        dets.append(p)

    det_labels = [0] * len(gts)
    matched_det = [False] * len(dets)
    extra_fp = 0
    for di, d in enumerate(dets):
        if matched_det[di]:
            continue
        for gi, g in enumerate(gts):
            if poly_iou(d, g) > MIN_IOU:
                matched_det[di] = True
                det_labels[gi] = 1
                break
        else:
            extra_fp += 1
    tp = sum(det_labels)
    fn = len(gts) - tp
    fp = extra_fp
    return tp, fp, fn


_DET_LABELS_SCHEMA = "tp long, fp long, fn long"


@row_stage(_DET_LABELS_SCHEMA)
def _det_labels_iter(pred_polys, gt_polys, gt_ignore):
    yield match_image_labels(
        [np.array(p) for p in json.loads(pred_polys)],
        [np.array(p) for p in json.loads(gt_polys)],
        list(json.loads(gt_ignore)),
    )


def det_metric(df: DataFrame) -> DataFrame:
    """df: (img string, pred_polys string-json [[x,y]x4...],
    gt_polys string-json, gt_ignore string-json [bool...]).

    Returns one row: (tp, fp, fn, recall, precision, f_score).
    """
    labels = df.mapInPandas(_det_labels_iter, _DET_LABELS_SCHEMA)
    agg = labels.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fn") == 0, 0.0)
        .otherwise(F.col("tp") / (F.col("tp") + F.col("fn")))
        .alias("recall"),
        F.when(F.col("tp") + F.col("fp") == 0, 0.0)
        .otherwise(F.col("tp") / (F.col("tp") + F.col("fp")))
        .alias("precision"),
    ).withColumn(
        "f_score",
        F.when(F.col("recall") + F.col("precision") == 0, 0.0).otherwise(
            2 * F.col("recall") * F.col("precision")
            / (F.col("recall") + F.col("precision"))
        ),
    )


def rec_metric(df: DataFrame) -> DataFrame:
    """df: (pred, gt) strings. Returns one row (n, acc,
    norm_edit_distance); all-native Catalyst. The reference's defaults
    (ignore_space, lower, filter_ood all on) are always applied."""
    pred = F.lower(F.regexp_replace(F.col("pred"), " ", ""))
    gt = F.lower(F.regexp_replace(F.col("gt"), " ", ""))
    # reference filters the LABEL only (rec_metrics.py:122-124)
    gt = F.regexp_replace(gt, f"[^{CHARSET}]", "")
    pairs = df.select(pred.alias("p"), gt.alias("g"))
    scored = pairs.select(
        F.when(F.col("p") == F.col("g"), 1).otherwise(0).alias("correct"),
        F.when(
            F.greatest(F.length("p"), F.length("g")) == 0, F.lit(0.0)
        )
        .otherwise(
            F.levenshtein("p", "g") / F.greatest(F.length("p"), F.length("g"))
        )
        .alias("ned"),
    )
    return scored.agg(
        F.count("*").alias("n"),
        F.avg("correct").alias("acc"),
        (F.lit(1.0) - F.avg("ned")).alias("norm_edit_distance"),
    )


def cls_metric(df: DataFrame) -> DataFrame:
    """df: (pred, gt) angle labels -> angle-classification accuracy."""
    return df.agg(
        F.count("*").alias("n"),
        F.avg(F.when(F.col("pred") == F.col("gt"), 1).otherwise(0)).alias("acc"),
    )


def e2e_match_image(pred_items: list[dict], gt_items: list[dict]) -> tuple[int, int]:
    """One image -> (correct, total) per the reference e2e eval
    (``deploy/eval_utils/eval_pipeline.py:33-73``): gt items with ``###``/``*``
    transcription are ignored; a pred counts once per gt whose
    intersection/gt_area exceeds ``MIN_INTERSECT`` AND whose space-stripped
    lowercase text matches."""
    gts = [g for g in gt_items if g["transcription"] not in ("###", "*")]
    correct = 0
    for pred in pred_items:
        p = np.asarray(pred["points"], dtype=np.float64).reshape(-1, 2)
        if not quad_is_valid(p):
            continue
        pred_text = pred["transcription"].replace(" ", "").lower()
        for gt in gts:
            g = np.asarray(gt["points"], dtype=np.float64).reshape(-1, 2)
            if not quad_is_valid(g):
                continue
            g_area, _ = poly_area_perimeter(g)
            if g_area <= 0:
                continue
            inter = poly_intersection_area(g, p)
            if inter / g_area > MIN_INTERSECT and gt["transcription"]:
                if gt["transcription"].replace(" ", "").lower() == pred_text:
                    correct += 1
    return correct, len(gts)


_E2E_SCORES_SCHEMA = "correct long, total long"


@row_stage(_E2E_SCORES_SCHEMA)
def _e2e_scores_iter(pred_json, gt_json):
    yield e2e_match_image(json.loads(pred_json), json.loads(gt_json))


def e2e_eval(df: DataFrame) -> DataFrame:
    """df: (img string, pred_json string, gt_json string), each a JSON list
    of {"transcription", "points"}. Returns (correct_num, total_num, acc) —
    the Spark aggregation replacing the reference's joblib multiprocessing
    (``eval_pipeline.py:76-87``)."""
    scored = df.mapInPandas(_e2e_scores_iter, _E2E_SCORES_SCHEMA)
    agg = scored.agg(
        F.sum("correct").alias("correct_num"), F.sum("total").alias("total_num")
    )
    return agg.select(
        "correct_num",
        "total_num",
        F.when(F.col("total_num") == 0, 0.0)
        .otherwise(F.col("correct_num") / F.col("total_num"))
        .alias("acc"),
    )
