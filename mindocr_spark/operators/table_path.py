"""Table-span path: ruled-table structure extraction as a mapInPandas
stage (the predict_table_e2e analogue; see kernels/table.py)."""

from __future__ import annotations

from ..config import row_stage
from ..kernels.system import decode_gray
from ..kernels.table import extract_table_html

TABLE_HTML_SCHEMA = "media_ref string, html string, n_cells int"


@row_stage(TABLE_HTML_SCHEMA)
def table_html_iter(media_ref, image):
    """(media_ref, image) -> one row per ruled-table image with the
    TableMaster pred_html (kernels/table.extract_table_html —
    the predict_table_recognition.py output shape). Non-table or
    undecodable payloads are skipped, like the decode-skip node."""
    img = decode_gray(image)
    if img is None:
        return
    html = extract_table_html(img)
    if html:
        yield media_ref, html, html.count("<td")
