"""Table-structure matching: assign OCR text boxes to table cells.

Follows the reference matcher's rule cascade
(``tools/infer/text/utils/matcher.py:84-138``): (1) a text box whose center
lies inside exactly one cell belongs to it; (2) otherwise the cell with the
highest IoU wins; (3) otherwise the cell with the nearest center. All boxes
axis-aligned ``[x0, y0, x1, y1]``.
"""

from __future__ import annotations

import numpy as np

from .geometry import aabb_iou


def _centers(boxes: np.ndarray) -> np.ndarray:
    return np.stack(
        [(boxes[:, 0] + boxes[:, 2]) / 2, (boxes[:, 1] + boxes[:, 3]) / 2], axis=1
    )


def match_boxes_to_cells(
    text_boxes: np.ndarray, cell_boxes: np.ndarray
) -> list[tuple[int, str]]:
    """Returns per text box (cell_index, rule) with rule in
    {'center', 'iou', 'distance'}; cell_index -1 when there are no cells."""
    if len(cell_boxes) == 0:
        return [(-1, "none")] * len(text_boxes)
    text_boxes = np.asarray(text_boxes, dtype=np.float64).reshape(-1, 4)
    cell_boxes = np.asarray(cell_boxes, dtype=np.float64).reshape(-1, 4)
    tc = _centers(text_boxes)
    cc = _centers(cell_boxes)
    iou = aabb_iou(text_boxes, cell_boxes)
    out: list[tuple[int, str]] = []
    for i, (cx, cy) in enumerate(tc):
        inside = np.nonzero(
            (cell_boxes[:, 0] <= cx)
            & (cx <= cell_boxes[:, 2])
            & (cell_boxes[:, 1] <= cy)
            & (cy <= cell_boxes[:, 3])
        )[0]
        if len(inside) == 1:
            out.append((int(inside[0]), "center"))
            continue
        if len(inside) > 1:  # overlapping cells: break tie by IoU
            best = inside[int(np.argmax(iou[i, inside]))]
            out.append((int(best), "center"))
            continue
        if iou[i].max() > 0:
            out.append((int(np.argmax(iou[i])), "iou"))
            continue
        d = np.hypot(cc[:, 0] - cx, cc[:, 1] - cy)
        out.append((int(np.argmin(d)), "distance"))
    return out


def cells_to_text(
    texts: list[str],
    assignments: list[tuple[int, str]],
    n_cells: int,
    text_boxes: np.ndarray | None = None,
) -> list[str]:
    """Concatenate assigned texts per cell, left-to-right by box x when
    boxes are given (the reference joins cell contents in reading order)."""
    per_cell: list[list[tuple[float, str]]] = [[] for _ in range(n_cells)]
    for i, (cell, _rule) in enumerate(assignments):
        if cell < 0:
            continue
        x = float(text_boxes[i][0]) if text_boxes is not None else float(i)
        per_cell[cell].append((x, texts[i]))
    return [" ".join(t for _x, t in sorted(c)) for c in per_cell]
