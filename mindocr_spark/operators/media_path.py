"""Media-span path: decode -> detect -> crop -> cls -> rec as mapInPandas
stages over Arrow batches (SURVEY.md §3.1 Spark rebuild).

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

from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from ..config import DROP_SCORE
from ..kernels.system import (
    classify_and_recognize,
    crop_box,
    decode_gray,
    detect_polys,
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


def _profiles_col(pdf: pd.DataFrame) -> "pd.Series | list[None]":
    """The optional ``profile`` column (older corpora lack it)."""
    if "profile" in pdf.columns:
        return pdf["profile"]
    return [None] * len(pdf)


def ocr_fused_iter(
    batches: Iterator[pd.DataFrame], use_cls: bool = True
) -> Iterator[pd.DataFrame]:
    """(media_ref, image, profile) -> (media_ref, text)."""
    for pdf in batches:
        texts = [
            media_payload_text(blob, use_cls=use_cls, profile=prof)
            for blob, prof in zip(pdf["image"], _profiles_col(pdf))
        ]
        yield pd.DataFrame({"media_ref": pdf["media_ref"], "text": texts})


def det_crops_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image, profile) -> one ref row per input row, i.e. per
    media ref, plus one row per crop of a page.

    The ref row (``box_idx = -1``, ``crop_h = crop_w = 0``) carries the text
    :func:`route_payload` settled as UTF-8 in ``crop``: a PDF's text layer
    or a ruled table's cells, '' for a page or for missing or junk media.
    A page's crops follow with ``box_idx`` = the reading-order index
    (``sorted_boxes`` applied inside ``detect_quads``).
    """
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "media_ref", "box_idx", "crop", "crop_h", "crop_w", "profile"
        )}

        def emit(media_ref, idx, blob, ch, cw, prof):
            for k, v in zip(out, (media_ref, idx, blob, ch, cw, prof)):
                out[k].append(v)

        for media_ref, png, prof in zip(
            pdf["media_ref"], pdf["image"], _profiles_col(pdf)
        ):
            text, img = route_payload(png)
            emit(media_ref, -1, (text or "").encode("utf-8"), 0, 0, prof)
            if img is None:
                continue
            box_mode = profile_heads(prof)[1]
            for idx, poly in enumerate(detect_quads(img, box_mode=box_mode)):
                crop = crop_box(img, poly)  # uint8
                emit(media_ref, idx, crop.tobytes(), crop.shape[0], crop.shape[1], prof)
        yield pd.DataFrame(out)


def recognize_iter(
    batches: Iterator[pd.DataFrame], use_cls: bool = True, decoder: str = "ctc"
) -> Iterator[pd.DataFrame]:
    """Crop rows -> (media_ref, box_idx, text, conf): cls-rotate then
    recognition. ``decoder`` picks the head contract ('ctc' | 'attn' |
    'master' | 'sar') of crops whose profile does not pick one.
    A ref row (``box_idx < 0``) passes its routed text through with
    conf 1.0."""
    for pdf in batches:
        texts: list[str] = []
        confs: list[float] = []
        for blob, h, w, bidx, prof in zip(
            pdf["crop"], pdf["crop_h"], pdf["crop_w"], pdf["box_idx"],
            _profiles_col(pdf),
        ):
            if int(bidx) < 0:
                texts.append(bytes(blob).decode("utf-8"))
                confs.append(1.0)
                continue
            crop = np.frombuffer(blob, dtype=np.uint8).reshape(int(h), int(w))
            text, conf = classify_and_recognize(
                crop, use_cls=use_cls, decoder=profile_heads(prof, decoder)[0]
            )
            texts.append(text)
            confs.append(conf)
        yield pd.DataFrame(
            {
                "media_ref": pdf["media_ref"],
                "box_idx": pdf["box_idx"],
                "text": texts,
                "conf": confs,
            }
        )


def kept_crops(df: DataFrame, threshold: float = DROP_SCORE) -> DataFrame:
    """The drop-score filter over recognized rows (``predict_system.py:
    327-336``): keep non-empty text scored at or above ``threshold``."""
    from pyspark.sql import functions as F

    return df.filter((F.col("conf") >= F.lit(threshold)) & (F.col("text") != ""))


def ocr_records_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image) -> per-image OCR record rows (transcription, score,
    points json) — the det/system golden-file shape (FIXTURES.md F3)."""
    import json

    for pdf in batches:
        out: dict[str, list] = {"media_ref": [], "transcription": [], "score": [], "points": []}
        for media_ref, png in zip(pdf["media_ref"], pdf["image"]):
            img = decode_gray(png)
            if img is None:
                continue
            for rec in ocr_image(img):
                out["media_ref"].append(media_ref)
                out["transcription"].append(rec["transcription"])
                out["score"].append(rec["score"])
                out["points"].append(json.dumps(rec["points"]))
        yield pd.DataFrame(out)


OCR_RECORDS_SCHEMA = "media_ref string, transcription string, score double, points string"


DET_POLYS_SCHEMA = (
    "media_ref string, poly_idx int, points array<array<int>>, score double"
)


def det_polys_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image) -> one row per detected POLYGON (box_type='poly',
    ``det_db_postprocess.py:103-107``): ragged ``array<array<int>>`` points
    instead of the fixed 4-point quad — the output representation for
    curved/irregular text regions."""
    for pdf in batches:
        out: dict[str, list] = {
            "media_ref": [], "poly_idx": [], "points": [], "score": [],
        }
        for media_ref, png in zip(pdf["media_ref"], pdf["image"]):
            img = decode_gray(png)
            if img is None:
                continue
            polys, scores = detect_polys(img)
            for i, (p, s) in enumerate(zip(polys, scores)):
                out["media_ref"].append(media_ref)
                out["poly_idx"].append(i)
                out["points"].append([[int(x), int(y)] for x, y in p])
                out["score"].append(float(s))
        yield pd.DataFrame(out)
