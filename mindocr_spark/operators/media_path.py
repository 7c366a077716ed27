"""Media-span path: decode -> detect -> crop -> cls -> rec as mapInPandas
stages over Arrow batches (SURVEY.md §3.1 Spark rebuild). Each stage is a
per-row function under ``config.row_stage``, the one batch loop.

Two physical strategies, same semantics:

- **fused**: one ``mapInPandas`` runs the whole per-image system
  (``kernels.system.ocr_image``). Zero extra shuffle; per-row cost bounded
  by the reference's own ``max_candidates=1000`` cap. Best when box counts
  per image are modest.
- **exploded**: a det stage emits one output row per crop (the reference's
  ``DetPostNode`` crop fan-out, ``det_post_node.py:19-52``), letting Spark
  redistribute recognition work across executors — the skew answer for
  1000-box images. Crops travel as raw uint8 bytes + dims (cheaper than
  re-encoding PNG); order is preserved by an explicit ``box_idx`` from the
  reading-order sort, never by row order.

Both share every kernel bit-for-bit with the oracle.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np

from ..config import DROP_SCORE, row_stage
from ..kernels.system import (
    classify_and_recognize,
    crop_box,
    decode_gray,
    detect_quads,
    media_payload_text,
    ocr_image,
    profile_heads,
    route_payload,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# schemas for mapInPandas stages. OCR is a function of the media payload
# alone, so every stage is keyed by ``media_ref`` and reads only
# ``media_ref``/``image``/``profile`` (extra input columns are ignored).
# ``profile`` is per-item pipeline metadata from the media table (its rec
# head and det box type: ``kernels.system.profile_heads``), carried through
# the exploded plan so the rec stage decodes each crop under its source's
# contract. In DET_CROPS/REC rows,
# ``box_idx = -1`` is the ref's own row (its routed text, one per ref) and
# ``box_idx >= 0`` a page crop in reading order.
FUSED_SCHEMA = "media_ref string, text string"
DET_CROPS_SCHEMA = (
    "media_ref string, box_idx int, crop binary, crop_h int, crop_w int, "
    "profile string"
)
REC_SCHEMA = "media_ref string, box_idx int, text string, conf double"


@row_stage(FUSED_SCHEMA)
def ocr_fused_iter(media_ref, image, profile=None):
    """(media_ref, image, profile) -> (media_ref, text)."""
    yield media_ref, media_payload_text(image, profile=profile)


@row_stage(DET_CROPS_SCHEMA)
def det_crops_iter(media_ref, image, profile=None):
    """(media_ref, image, profile) -> one ref row per input row, i.e. per
    media ref, plus one row per crop of a page.

    The ref row (``box_idx = -1``, ``crop_h = crop_w = 0``) carries the text
    :func:`route_payload` settled as UTF-8 in ``crop``: a PDF's text layer
    or a ruled table's cells, '' for a page or for missing or junk media.
    A page's crops follow with ``box_idx`` = the reading-order index
    (``sorted_boxes`` applied inside ``detect_quads``).
    """
    text, img = route_payload(image)
    yield media_ref, -1, (text or "").encode("utf-8"), 0, 0, profile
    if img is None:
        return
    box_mode = profile_heads(profile)[1]
    for idx, poly in enumerate(detect_quads(img, box_mode=box_mode)):
        crop = crop_box(img, poly)  # uint8
        yield media_ref, idx, crop.tobytes(), crop.shape[0], crop.shape[1], profile


@row_stage(REC_SCHEMA)
def recognize_iter(media_ref, box_idx, crop, crop_h, crop_w, profile=None):
    """Crop rows -> (media_ref, box_idx, text, conf): cls-rotate then
    recognition under the head contract the crop's profile picks
    (:func:`profile_heads`). A ref row (``box_idx < 0``) passes its routed
    text through with conf 1.0."""
    if box_idx < 0:
        yield media_ref, box_idx, bytes(crop).decode("utf-8"), 1.0
        return
    img = np.frombuffer(crop, dtype=np.uint8).reshape(crop_h, crop_w)
    text, conf = classify_and_recognize(img, decoder=profile_heads(profile)[0])
    yield media_ref, box_idx, text, conf


def kept_crops(df: DataFrame) -> DataFrame:
    """The drop-score filter over recognized rows (``predict_system.py:
    327-336``): keep non-empty text scored at or above ``DROP_SCORE``."""
    from pyspark.sql import functions as F

    return df.filter((F.col("conf") >= F.lit(DROP_SCORE)) & (F.col("text") != ""))


OCR_RECORDS_SCHEMA = "media_ref string, transcription string, score double, points string"


@row_stage(OCR_RECORDS_SCHEMA)
def ocr_records_iter(media_ref, image):
    """(media_ref, image) -> per-image OCR record rows (transcription, score,
    points json) — the det/system golden-file shape (FIXTURES.md F3)."""
    import json

    img = decode_gray(image)
    if img is None:
        return
    for rec in ocr_image(img):
        yield media_ref, rec["transcription"], rec["score"], json.dumps(rec["points"])
