"""Table-structure extraction: ruled-grid cell detection + per-cell text.

The reference's table path (``tools/infer/text/predict_table_e2e.py`` +
TableMaster + ``utils/matcher.py``) runs a structure model for cell boxes,
OCR for text boxes, and an IoU/distance matcher to assign text to cells.
Here the structure "model" is a deterministic ruling-line detector
(projection profiles of long ink runs — the classic heuristic for ruled
tables), OCR is the shared system pipeline run on the line-erased image,
and the matcher is ``functions/table_match`` — the same three-stage shape.
"""

from __future__ import annotations

import numpy as np

from ..functions.imaging import runs
from ..functions.table_match import cells_to_text, match_boxes_to_cells
from .system import ocr_image

_LINE_COVERAGE = 0.7  # a ruling line spans >=70% of the table extent
_INK = 128
_CELL_PAD = 2  # px kept clear inside a cell's ruling lines
_ERASE_PX = 3  # px whited out on each side of a ruling line's center


def detect_grid(img: np.ndarray) -> tuple[list[int], list[int]]:
    """Gray image -> (horizontal line y-centers, vertical line x-centers)."""
    ink = img < _INK
    h, w = ink.shape
    row_cov = ink.sum(axis=1) / max(w, 1)

    def centers(cov: np.ndarray) -> list[int]:
        starts, ends = runs(cov >= _LINE_COVERAGE)
        return ((starts + ends - 1) // 2).tolist()

    h_lines = centers(row_cov)
    if len(h_lines) < 2:
        return h_lines, []
    # vertical coverage measured within the table's row extent — the page
    # may be padded well below the last ruling line
    y0, y1 = h_lines[0], h_lines[-1] + 1
    col_cov = ink[y0:y1].sum(axis=0) / max(y1 - y0, 1)
    return h_lines, centers(col_cov)


def grid_cells(h_lines: list[int], v_lines: list[int]) -> list[list[int]]:
    """Line centers -> cell interior bboxes [x0, y0, x1, y1], row-major."""
    pad = _CELL_PAD
    cells = []
    for yi in range(len(h_lines) - 1):
        for xi in range(len(v_lines) - 1):
            cells.append(
                [
                    v_lines[xi] + pad + 1,
                    h_lines[yi] + pad + 1,
                    v_lines[xi + 1] - pad - 1,
                    h_lines[yi + 1] - pad - 1,
                ]
            )
    return cells


def erase_lines(img: np.ndarray, h_lines: list[int], v_lines: list[int]) -> np.ndarray:
    """White out ruling lines so word detection sees only cell contents."""
    out = img.copy()
    for y in h_lines:
        out[max(y - _ERASE_PX, 0) : y + _ERASE_PX + 1, :] = 255
    for x in v_lines:
        out[:, max(x - _ERASE_PX, 0) : x + _ERASE_PX + 1] = 255
    return out


def _grid_ocr(img: np.ndarray) -> tuple | None:
    """The OCR pass both extractors share: ruled grid -> cell boxes ->
    line erase -> OCR -> text boxes. Returns (n_rows, n_cols, cell boxes,
    text boxes, texts) with boxes as float64 [x0, y0, x1, y1] rows; None
    when no ruled grid is found."""
    h_lines, v_lines = detect_grid(img)
    if len(h_lines) < 2 or len(v_lines) < 2:
        return None
    cells = np.array(grid_cells(h_lines, v_lines), dtype=np.float64)
    records = ocr_image(erase_lines(img, h_lines, v_lines))
    boxes = np.array(
        [[*r["points"][0], *r["points"][2]] for r in records], dtype=np.float64
    ).reshape(-1, 4)
    texts = [r["transcription"] for r in records]
    return len(h_lines) - 1, len(v_lines) - 1, cells, boxes, texts


def extract_table(img: np.ndarray) -> dict:
    """Gray table image -> {"n_rows", "n_cols", "cells": [[text,...],...]}.

    Empty dict-shape (0 rows/cols) when no ruled grid is found.
    """
    grid = _grid_ocr(img)
    if grid is None:
        return {"n_rows": 0, "n_cols": 0, "cells": []}
    n_rows, n_cols, cells, boxes, texts = grid
    assignments = match_boxes_to_cells(boxes, cells)
    flat = cells_to_text(texts, assignments, len(cells), boxes)
    return {
        "n_rows": n_rows,
        "n_cols": n_cols,
        "cells": [flat[r * n_cols : (r + 1) * n_cols] for r in range(n_rows)],
    }


def extract_table_html(img: np.ndarray) -> str:
    """Gray table image -> the reference's pred_html
    (``predict_table_recognition.py`` TableAnalyzer.__call__): structure
    tokens + cell bboxes from the deterministic grid "model", OCR text
    boxes from the shared system pipeline on the line-erased image, then
    the full TableMasterMatcher composition
    (``functions/table_master.table_master_html``) — match cascade, text
    insertion, <thead> bolding, ``<html><body><table>`` wrap.

    Returns '' when no ruled grid is found (callers fall back to the
    plain span path, like ``kernels.system.route_payload``)."""
    from ..functions.table_master import (
        grid_structure_tokens,
        table_master_html,
    )

    grid = _grid_ocr(img)
    if grid is None:
        return ""
    n_rows, n_cols, cells, boxes, texts = grid
    tokens = grid_structure_tokens(n_rows, n_cols)
    return table_master_html(tokens, cells, boxes, texts)
