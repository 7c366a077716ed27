"""YOLOv8-style layout postprocess: NMS, letterbox undo, class mapping."""

import numpy as np
import pytest

from mindocr_spark.kernels.layout_post import (
    nms_boxes,
    scale_coords,
    xywh2xyxy,
    xyxy2xywh,
    yolo_layout_postprocess,
)


def test_xywh_roundtrip():
    b = np.array([[50, 40, 20, 10]], dtype=float)
    assert np.allclose(xyxy2xywh(xywh2xyxy(b)), b)


def test_nms_suppresses_overlaps():
    boxes = np.array(
        [[0, 0, 10, 10], [1, 1, 11, 11], [50, 50, 60, 60]], dtype=float
    )
    scores = np.array([0.9, 0.8, 0.7])
    kept = nms_boxes(boxes, scores, iou_thres=0.5)
    assert kept == [0, 2]
    rng = np.random.RandomState(0)
    for _ in range(200):
        n = rng.randint(0, 15)
        xy = rng.randint(0, 40, size=(n, 2))
        boxes = np.concatenate([xy, xy + rng.randint(0, 20, size=(n, 2))], axis=1)
        boxes = boxes.astype(float)
        scores = rng.randint(0, 6, size=n) / 5.0  # ties keep input order
        for thr in (0.0, 0.3, 0.65):
            assert nms_boxes(boxes, scores, thr) == _greedy_nms(boxes, scores, thr)


def _greedy_nms(boxes, scores, thr):
    """Reference: in descending score order, keep a box unless a kept box
    overlaps it by IoU > thr."""

    def iou(a, b):
        iw = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
        ih = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
        inter = iw * ih
        union = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
        return inter / union if union > 0 else 0.0

    kept = []
    for i in sorted(range(len(scores)), key=lambda i: -scores[i]):
        if all(iou(boxes[i], boxes[k]) <= thr for k in kept):
            kept.append(i)
    return kept


def test_scale_coords_letterbox_undo():
    boxes = np.array([[20, 10, 120, 60]], dtype=float)
    out = scale_coords(boxes, ori_shape=(100, 200), ratio=0.5, pad=(10.0, 5.0))
    assert np.allclose(out, [[20, 10, 200, 100]])  # clipped at width 200


def test_layout_postprocess_classes_and_nms():
    # two overlapping text dets + one table det, xywh+conf+5 class scores
    def row(cx, cy, w, h, conf, cls_idx):
        cls = [0.01] * 5
        cls[cls_idx] = 0.95
        return [cx, cy, w, h, conf] + cls

    pred = np.array(
        [
            row(50, 30, 80, 20, 0.9, 0),   # text
            row(52, 31, 80, 20, 0.8, 0),   # duplicate text (suppressed)
            row(150, 100, 60, 40, 0.85, 3),  # table
        ]
    )
    recs = yolo_layout_postprocess(pred, ori_shape=(200, 400), conf_thres=0.1)
    cats = sorted(r["category_id"] for r in recs)
    assert cats == [2, 4]  # publaynet text=2, table=4
    text = next(r for r in recs if r["category_id"] == 2)
    assert text["bbox"] == [10.0, 20.0, 80.0, 20.0]
    assert text["score"] == pytest.approx(0.9 * 0.95, abs=1e-4)


def test_empty_pred():
    assert yolo_layout_postprocess(np.zeros((0, 10)), (10, 10)) == []
