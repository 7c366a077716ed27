"""NN-input tensor preparation — the Spark rebuild of the reference's
preprocess-transform chain as it appears in inference YAMLs
(``RecResizeNormForInfer`` -> ``NormalizeImage`` -> ``ToCHWImage`` ->
gear padding, ``general_transforms.py:89-160`` +
``gear_utils.py:10-70``).

Rows carry an explicit float32 tensor (raw bytes) plus its ``dims``. The
reference's YAML chain

    RecResizeNormForInfer -> NormalizeImage(mean=127.5, std=127.5)
      -> ToCHWImage -> gear padding (64, 128, 256, 320)

is one composition, :func:`rec_input_tensors`, over the det-crop stage.

This is the training-data/export path (prepare batched NN inputs at 100 TB);
the OCR scorers consume raw uint8 crops and are unaffected.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np

from ..config import REC_TARGET_HEIGHT, row_stage, spread
from .media_path import DET_CROPS_SCHEMA, det_crops_iter

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

CROP_TENSOR_SCHEMA = (
    "media_ref string, box_idx int, tensor binary, dims array<int>"
)
GEAR_TENSOR_SCHEMA = CROP_TENSOR_SCHEMA + ", valid_w int, truncated boolean"
# the padded widths of the (32, W) recognition tensors
GEARS = (64, 128, 256, 320)


@row_stage(CROP_TENSOR_SCHEMA)
def rec_resize_tensor_iter(media_ref, box_idx, crop, crop_h, crop_w):
    """Det-crop rows -> float32 (32, W') resize-norm tensors
    (``rec_transforms.py:548-636`` keep-ratio, width-capped). Sentinel /
    payload rows (box_idx < 0) are dropped — they carry no image."""
    from ..kernels.rec import rec_resize_norm

    if box_idx < 0 or crop_h == 0:
        return
    img = np.frombuffer(crop, dtype=np.uint8).reshape(crop_h, crop_w)
    t = rec_resize_norm(img).astype(np.float32)
    yield media_ref, box_idx, t.tobytes(), list(t.shape)


@row_stage(CROP_TENSOR_SCHEMA)
def normalize_image_iter(media_ref, box_idx, tensor, dims):
    """NormalizeImage (``general_transforms.py:89-130``):
    (x.astype(float32) - 127.5) / 127.5, elementwise, dims unchanged."""
    x = np.frombuffer(tensor, dtype=np.float32)
    out = ((x - np.float32(127.5)) / np.float32(127.5)).astype(np.float32)
    yield media_ref, box_idx, out.tobytes(), dims


@row_stage(CROP_TENSOR_SCHEMA)
def to_chw_iter(media_ref, box_idx, tensor, dims):
    """ToCHWImage (``general_transforms.py:149-160``): HWC -> CHW; a 2-dim
    gray (H, W) tensor gains a leading channel axis (1, H, W). Bytes are
    re-laid-out accordingly."""
    d = [int(x) for x in dims]
    arr = np.frombuffer(tensor, dtype=np.float32).reshape(d)
    if arr.ndim == 2:
        out = arr[None, :, :]
    elif arr.ndim == 3:
        out = np.ascontiguousarray(np.transpose(arr, (2, 0, 1)))
    else:
        raise ValueError(f"to_chw expects 2- or 3-dim tensor, got {d}")
    yield media_ref, box_idx, out.tobytes(), list(out.shape)


@row_stage(GEAR_TENSOR_SCHEMA)
def gear_pad_iter(media_ref, box_idx, tensor, dims):
    """Match each tensor's (h, w) to the nearest (32, gear) shape of
    ``GEARS`` and zero-pad up to it (``get_matched_gear_hw`` +
    ``padding_to_batch`` zero-fill). Emits ``valid_w`` so consumers can
    unpad; :func:`rec_input_tensors` repartitions on the resulting width
    (= dims[-1]) to co-locate same-gear tensors for contiguous batch
    stacking.

    A tensor wider than the largest gear is cropped to it — the reference
    gear path never sees this case (inputs are resized into the gear
    envelope upstream, ``rec_resize_norm``'s width cap), so when it DOES
    happen here it is data loss and is flagged: ``truncated = true`` lets
    downstream consumers drop/reroute instead of silently reading a crop
    with its trailing glyphs cut off."""
    from ..functions.gear import get_matched_gear_hw, pad_to_gear

    hw_list = [(REC_TARGET_HEIGHT, g) for g in GEARS]
    arr = np.frombuffer(tensor, dtype=np.float32).reshape([int(x) for x in dims])
    h, w = arr.shape[-2], arr.shape[-1]
    gear = get_matched_gear_hw((h, w), [g for g in hw_list if g[1] >= w] or [hw_list[-1]])
    truncated = gear[1] < w
    if truncated:  # wider than every gear: crop to the max cap
        arr = arr[..., :, : gear[1]]
        w = gear[1]
    out = pad_to_gear(arr, gear)
    yield media_ref, box_idx, out.tobytes(), list(out.shape), w, truncated


def rec_input_tensors(media: DataFrame) -> DataFrame:
    """(media_ref, image[, profile]) rows -> one gear-padded float32 CHW
    tensor per det crop: det crops -> resize-norm -> normalize -> CHW ->
    gear pad, spread on the padded width so same-gear tensors co-locate
    for contiguous batch stacking."""
    from pyspark.sql import functions as F

    df = media.mapInPandas(det_crops_iter, DET_CROPS_SCHEMA)
    for fn in (rec_resize_tensor_iter, normalize_image_iter, to_chw_iter):
        df = df.mapInPandas(fn, CROP_TENSOR_SCHEMA)
    df = df.mapInPandas(gear_pad_iter, GEAR_TENSOR_SCHEMA)
    return spread(df, F.element_at("dims", -1))
