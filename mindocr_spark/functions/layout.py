"""Layout reading-order recovery: column classification of region boxes.

Reimplements the reference's ``sorted_layout_boxes``
(``tools/infer/text/utils/recovery_to_doc.py:90-153``): regions sorted
top-to-bottom (ties right-to-left), then classified into
single/double/triple-column or spanning layout using thirds-of-width
thresholds with a 2%-of-width tolerance; output order = spanning regions in
scan order, then left column, center column, right column (the reference's
emission order).
"""

from __future__ import annotations


def sorted_layout_boxes(regions: list[dict], page_width: int) -> list[dict]:
    """regions: [{"bbox": [x0, y0, x1, y1], ...}]. Returns new list with a
    ``layout`` key added, in the reference's reading-emission order."""
    if len(regions) == 1:
        out = dict(regions[0])
        out["layout"] = "single"
        return [out]

    scan = sorted(regions, key=lambda r: (r["bbox"][1], -r["bbox"][0]))
    third1 = page_width / 3
    third2 = 2 * page_width / 3
    tol = 0.02 * page_width

    left: list[dict] = []
    center: list[dict] = []
    right: list[dict] = []
    ordered: list[dict] = []
    for region in scan:
        r = dict(region)
        x0, x1 = r["bbox"][0], r["bbox"][2]
        width = x1 - x0
        if width > third2:
            r["layout"] = "spanning"
            ordered.append(r)
        elif x1 < third1 + tol:
            left.append(r)
        elif x0 > third2 - tol:
            right.append(r)
        elif third1 - tol <= x0 <= third2 + tol:
            center.append(r)
        else:
            left.append(r)

    def _col_layout_left() -> str:
        if center and right:
            return "triple"
        if right or center:
            return "double"
        return "single"

    for r in left:
        r["layout"] = _col_layout_left()
        ordered.append(r)
    for r in center:
        r["layout"] = "triple" if left and right else "double"
        ordered.append(r)
    for r in right:
        r["layout"] = "triple" if center else "double"
        ordered.append(r)
    return ordered


def recover_page_text(regions: list[dict], page_width: int) -> str:
    """Reading-ordered page text from OCR'd layout regions — the text-level
    equivalent of the reference's docx reconstruction
    (``recovery_to_doc.convert_info_docx``): regions ordered by
    ``sorted_layout_boxes``, texts joined by newline; empty regions dropped.
    Each region: {"bbox": [...], "text": str}."""
    ordered = sorted_layout_boxes(regions, page_width)
    return "\n".join(r["text"] for r in ordered if r.get("text"))


def recover_page_docx(regions: list[dict], page_width: int) -> bytes:
    """Reading-ordered .docx payload from typed layout regions — the full
    ``convert_info_docx`` surface (``functions/docx_writer``):
    regions ordered by ``sorted_layout_boxes`` (which stamps the
    single/double/triple ``layout`` used for column sections), then
    emitted as WordprocessingML. Each region: {"bbox": [...], "type":
    "text"|"title"|"table"|"figure", "res": str|bytes} — tables take
    pred_html, figures take PNG payload bytes."""
    import os
    import tempfile

    from .docx_writer import convert_info_docx

    ordered = sorted_layout_boxes(regions, page_width)
    fd, path = tempfile.mkstemp(suffix=".docx")
    os.close(fd)
    try:
        convert_info_docx(ordered, path)
        with open(path, "rb") as fh:
            return fh.read()
    finally:
        os.unlink(path)
