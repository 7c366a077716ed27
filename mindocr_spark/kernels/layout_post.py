"""Layout-analysis (YOLOv8-style) postprocess: conf filter -> class-wise
NMS -> letterbox undo -> PubLayNet category records.

Semantics follow the reference's YOLOv8Postprocess
(``mindocr/postprocess/layout_postprocess.py:10-64,160-297``): predictions
are (N, 4+1+nc) rows [cx, cy, w, h, conf, class scores...]; candidate boxes
keep conf*cls_score above threshold; greedy per-class NMS at the IoU
threshold; coordinates are scaled back to the source image by undoing the
letterbox ratio/pad and clipping; output bbox is [x, y, w, h] (top-left) and
``category_id`` maps through the PubLayNet ids [2, 1, 5, 4, 3] =
{text, title, list, table, figure}.
"""

from __future__ import annotations

import numpy as np

from ..functions.geometry import aabb_iou

PUBLAYNET_CLASS_IDS = (2, 1, 5, 4, 3)
YOLO_IOU_THRES = 0.65  # YOLOv8Postprocess's NMS IoU threshold
LETTERBOX_GRAY = 114.0


def xywh2xyxy(x: np.ndarray) -> np.ndarray:
    y = np.copy(x).astype(np.float64)
    y[:, 0] = x[:, 0] - x[:, 2] / 2
    y[:, 1] = x[:, 1] - x[:, 3] / 2
    y[:, 2] = x[:, 0] + x[:, 2] / 2
    y[:, 3] = x[:, 1] + x[:, 3] / 2
    return y


def xyxy2xywh(x: np.ndarray) -> np.ndarray:
    y = np.copy(x).astype(np.float64)
    y[:, 0] = (x[:, 0] + x[:, 2]) / 2
    y[:, 1] = (x[:, 1] + x[:, 3]) / 2
    y[:, 2] = x[:, 2] - x[:, 0]
    y[:, 3] = x[:, 3] - x[:, 1]
    return y


def nms_boxes(boxes_xyxy: np.ndarray, scores: np.ndarray, iou_thres: float) -> list[int]:
    """Greedy score-descending NMS on axis-aligned boxes; returns kept idx."""
    order = np.argsort(-scores, kind="stable")
    kept: list[int] = []
    alive = np.ones(len(order), dtype=bool)
    for pos, idx in enumerate(order):
        if not alive[pos]:
            continue
        kept.append(int(idx))
        rest = pos + 1 + np.nonzero(alive[pos + 1 :])[0]
        if len(rest) == 0:
            break
        ious = aabb_iou(boxes_xyxy[idx][None], boxes_xyxy[order[rest]])[0]
        alive[rest[ious > iou_thres]] = False
    return kept


def scale_coords(
    boxes_xyxy: np.ndarray,
    ori_shape: tuple[int, int],
    ratio: float,
    pad: tuple[float, float],
) -> np.ndarray:
    """Undo letterbox: subtract pad, divide ratio, clip to source image."""
    out = boxes_xyxy.astype(np.float64).copy()
    out[:, [0, 2]] = (out[:, [0, 2]] - pad[0]) / ratio
    out[:, [1, 3]] = (out[:, [1, 3]] - pad[1]) / ratio
    out[:, [0, 2]] = np.clip(out[:, [0, 2]], 0, ori_shape[1])
    out[:, [1, 3]] = np.clip(out[:, [1, 3]], 0, ori_shape[0])
    return out


def yolo_layout_postprocess(
    pred: np.ndarray,
    ori_shape: tuple[int, int],
    conf_thres: float = 0.001,
) -> list[dict]:
    """pred: (N, 5+nc) rows [cx, cy, w, h, conf, cls...] in source-image
    pixels (no letterbox: ratio 1, pad 0). Returns records
    {"category_id", "bbox" [x,y,w,h], "score"} in score-descending order
    per class."""
    if pred.size == 0:
        return []
    conf = pred[:, 4]
    cls_scores = pred[:, 5:] * conf[:, None]
    n_cls = cls_scores.shape[1]
    results: list[dict] = []
    boxes_xyxy_all = xywh2xyxy(pred[:, :4])
    for c in range(n_cls):
        sc = cls_scores[:, c]
        sel = np.nonzero(sc > conf_thres)[0]
        if len(sel) == 0:
            continue
        boxes = boxes_xyxy_all[sel]
        scores = sc[sel]
        kept = nms_boxes(boxes, scores, YOLO_IOU_THRES)
        if not kept:
            continue
        native = scale_coords(boxes[kept], ori_shape, 1.0, (0.0, 0.0))
        tl = native.copy()
        tl[:, 2] -= tl[:, 0]  # -> width
        tl[:, 3] -= tl[:, 1]  # -> height
        cat = PUBLAYNET_CLASS_IDS[c] if c < len(PUBLAYNET_CLASS_IDS) else c
        for row, s in zip(tl, scores[kept]):
            results.append(
                {
                    "category_id": int(cat),
                    "bbox": [round(float(v), 3) for v in row],
                    "score": round(float(s), 5),
                }
            )
    return results


def letterbox(
    image: np.ndarray,
    new_shape: int | tuple[int, int],
    scaleup: bool = False,
) -> tuple[np.ndarray, float, tuple[float, float]]:
    """Forward letterbox (``mindocr/data/layout_dataset.py:361-399``,
    yolo-family path): keep-ratio resize by r = min(new/old) (never upscaled
    unless ``scaleup``), then pad both sides with gray 114
    (``LETTERBOX_GRAY``) using the reference's round(d -/+ 0.1) split.
    Returns (image, r, (dh, dw)) — the exact inputs :func:`scale_coords`
    inverts."""
    from ..functions.imaging import add_padding, resize_bilinear

    h, w = image.shape[:2]
    if isinstance(new_shape, int):
        new_shape = (new_shape, new_shape)
    r = min(new_shape[0] / h, new_shape[1] / w)
    if not scaleup:
        r = min(r, 1.0)
    new_unpad = (int(round(w * r)), int(round(h * r)))  # (w, h)
    dw = abs(new_shape[1] - new_unpad[0]) / 2.0
    dh = abs(new_shape[0] - new_unpad[1]) / 2.0
    out = image.astype(np.float32)
    if (w, h) != new_unpad:
        out = resize_bilinear(out, new_unpad[1], new_unpad[0])
    top, bottom = int(round(dh - 0.1)), int(round(dh + 0.1))
    left, right = int(round(dw - 0.1)), int(round(dw + 0.1))
    out = add_padding(out, (top, bottom, left, right), LETTERBOX_GRAY)
    return out.astype(np.float32), float(r), (dh, dw)
