"""Per-image OCR system: detect -> sort -> crop -> cls -> rec -> merge.

This is the single-image core of the reference's ``TextSystem.__call__``
(``tools/infer/text/predict_system.py:255-355``), shared verbatim between
the single-process oracle and the Spark media-path UDFs. Exposed in stages
so the Spark plan can explode at crop level for skew handling.
"""

from __future__ import annotations

import numpy as np

from ..config import CLS_LABELS, CLS_THRESH, DROP_SCORE
from ..functions.geometry import min_area_rect, order_points_clockwise
from ..functions.imaging import rotate180, warp_perspective_crop
from ..functions.ordering import sorted_boxes
from .cls import cls_probs_from_analyses
from .det import db_postprocess, det_resize, det_score, validate_det_res
from .rec import analyze_crop, rec_resize_norm, recognize_analysis


def profile_heads(profile: str | None, decoder: str = "ctc") -> tuple[str, str]:
    """A media item's ``profile`` -> its (rec head, det box type).

    ``profile`` is per-item pipeline metadata (the media table's ``profile``
    column — the per-source analogue of the reference's yaml config choice):
    ``'attn'`` decodes recognition with the attention head contract,
    ``'poly'`` detects with ``box_type='poly'``; None/'default' keeps
    ``decoder`` with quad boxes."""
    return (
        "attn" if profile == "attn" else decoder,
        "poly" if profile == "poly" else "quad",
    )


def _detect(img: np.ndarray, box_type: str) -> tuple[list[np.ndarray], list[float]]:
    """resize -> DB score map -> DB postprocess -> validate: int64 polys in
    source coords and their scores, in component order."""
    resized, shape_list = det_resize(img)
    polys, scores = db_postprocess(det_score(resized), shape_list, box_type)
    return validate_det_res(polys, scores, img.shape[0], img.shape[1])


def crop_box(img: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Perspective-crop one quad (``crop_text_region`` semantics).

    Returns uint8 — cv2.warpPerspective on a uint8 source yields uint8
    (rounded), and the reference feeds uint8 crops to cls/rec preprocess.
    Also quarters the crop-shuffle bytes in exploded mode."""
    out = warp_perspective_crop(img, poly.astype(np.float64))
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def classify_and_recognize(
    crop: np.ndarray, use_cls: bool = True, decoder: str = "ctc"
) -> tuple[str, float]:
    """Fused cls+rec: one resize, one glyph analysis per orientation —
    the cls evidence and the chosen orientation's logits share the
    analysis instead of recomputing it (3 passes -> 2).

    ``decoder`` names a head of ``kernels.rec.REC_HEADS`` (``'ctc'``,
    ``'attn'``, ``'master'`` or ``'sar'``) — the decode families of the
    reference's rec model zoo over the same crop analysis."""
    resized = rec_resize_norm(crop)
    chosen = analyze_crop(resized)
    if use_cls:
        flipped = analyze_crop(rotate180(resized))
        probs = cls_probs_from_analyses(chosen, flipped)
        idx = int(probs.argmax())
        if CLS_LABELS[idx] == "180" and float(probs[idx]) >= CLS_THRESH:
            chosen = flipped
    return recognize_analysis(chosen, decoder)


def detect_polys(img: np.ndarray) -> tuple[list[np.ndarray], list[float]]:
    """Poly-mode detection (``box_type='poly'``): ragged polygons in source
    coords, validated (clip + area>=3) like the quad path, with scores.
    Returned in component order (deterministic top-left)."""
    return _detect(img, "poly")


def layout_region_text(img: np.ndarray, bbox: tuple[float, float, float, float]) -> str:
    """The layout-region recognition route
    (``tools/infer/text/predict_table_e2e.py:170-189``): crop the region
    bbox, add 10px white padding (``add_padding``, better recognition on
    tight region crops), OCR, join transcriptions in ``sort_words_by_poly``
    order."""
    from ..functions.imaging import add_padding
    from ..functions.ordering import sort_words_reading_order

    left, top, right, bottom = (int(v) for v in bbox)
    crop = img[max(top, 0) : bottom, max(left, 0) : right]
    if crop.size == 0:
        return ""
    crop = add_padding(crop, 10, 255.0).astype(np.uint8)
    recs = ocr_image(crop)
    polys = [np.array(r["points"], dtype=np.float64) for r in recs]
    order = sort_words_reading_order(polys)
    return " ".join(recs[i]["transcription"] for i in order)


def detect_quads(img: np.ndarray, box_mode: str = "quad") -> list[np.ndarray]:
    """Reading-ordered recognition quads under either detection mode.

    ``box_mode='quad'`` fits DB quads directly; ``box_mode='poly'`` runs
    poly-mode detection (``box_type='poly'``) and fits each ragged polygon's
    min-area rect — the quad the crop stage needs (the reference's
    ``crop_text_region`` consumes 4-point boxes regardless of det box_type).
    """
    if box_mode == "quad":
        quads, _scores = _detect(img, "quad")
    else:
        quads = [
            order_points_clockwise(
                min_area_rect(p.astype(np.float64))[0]
            ).astype(np.int64)
            for p in detect_polys(img)[0]
        ]
    return [quads[i] for i in sorted_boxes(quads)]


def ocr_image(
    img: np.ndarray,
    use_cls: bool = True,
    decoder: str = "ctc",
    box_mode: str = "quad",
) -> list[dict]:
    """Full per-image system; returns kept records in reading order:
    ``[{"transcription": str, "score": float, "points": [[x,y]x4]}]``
    with the drop-score filter applied (``predict_system.py:327-336``).

    ``decoder``/``box_mode`` select the rec-head and det-output contracts
    (the reference's config axes: ``rec_postprocess.py:255-366`` attn family,
    ``det_db_postprocess.py:103-107`` box_type='poly')."""
    records: list[dict] = []
    for poly in detect_quads(img, box_mode=box_mode):
        crop = crop_box(img, poly)
        text, conf = classify_and_recognize(crop, use_cls=use_cls, decoder=decoder)
        if not text or conf < DROP_SCORE:
            continue
        records.append(
            {
                "transcription": text,
                "score": conf,
                "points": poly.astype(int).tolist(),
            }
        )
    return records


def decode_gray(payload: bytes | None) -> np.ndarray | None:
    """Decode a PNG payload to a gray uint8 image; None when it is missing
    or undecodable (``decode_node.py:30-42`` skip semantics). RGB pages
    become integer luminance (deterministic, no float rounding)."""
    if payload is None:
        return None
    from ..functions.png_codec import decode_png

    try:
        img = decode_png(bytes(payload))
    except Exception:  # noqa: BLE001 - any junk input -> skip, not fail job
        return None
    if img.ndim == 3:
        img = (
            (299 * img[:, :, 0].astype(np.uint32)
             + 587 * img[:, :, 1].astype(np.uint32)
             + 114 * img[:, :, 2].astype(np.uint32)) // 1000
        ).astype(np.uint8)
    return img


def route_payload(payload: bytes | None) -> tuple[str | None, np.ndarray | None]:
    """The one routing decision for a media payload, shared by every OCR
    mode and the oracle. Returns ``(text, None)`` when the payload's text
    is settled without OCR — a PDF's text layer (north rule: 'PDF/layout
    parse'; '' on a parse error), '' for missing or junk media, or a ruled
    table's non-empty cells joined row-major (grid lines would otherwise be
    mis-read as glyph blobs; the reference's table e2e text assembly) —
    else ``(None, gray_img)``: a page for the OCR system."""
    if payload is None:
        return "", None
    payload = bytes(payload)
    if payload.startswith(b"%PDF"):
        from ..functions.pdf_text import extract_pdf_text

        try:
            return extract_pdf_text(payload), None
        except Exception:  # noqa: BLE001
            return "", None
    img = decode_gray(payload)
    if img is None:
        return "", None
    from .table import extract_table

    table = extract_table(img)
    if table["n_rows"] > 0:
        return " ".join(t for row in table["cells"] for t in row if t), None
    return None, img


def media_payload_text(
    payload: bytes | None, use_cls: bool = True, profile: str | None = None
) -> str:
    """The extracted text of one media payload: :func:`route_payload`, then
    OCR of a page under the contract :func:`profile_heads` picks for
    ``profile`` (None/'default' is the CTC+quad system)."""
    text, img = route_payload(payload)
    if img is None:
        return text
    decoder, box_mode = profile_heads(profile)
    return media_span_text(img, use_cls=use_cls, decoder=decoder, box_mode=box_mode)


def media_span_text(
    img: np.ndarray,
    use_cls: bool = True,
    decoder: str = "ctc",
    box_mode: str = "quad",
) -> str:
    """The extracted text of one media span: kept transcriptions in reading
    order joined by single spaces (join convention from
    ``predict_table_e2e.py:186-189``; ordering ``utils.py:95-103``)."""
    return " ".join(
        r["transcription"]
        for r in ocr_image(img, use_cls=use_cls, decoder=decoder, box_mode=box_mode)
    )
