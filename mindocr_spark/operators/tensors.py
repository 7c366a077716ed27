"""NN-input tensor preparation stages — the Spark rebuild of the reference's
preprocess-transform chain as it appears in inference YAMLs
(``RecResizeNormForInfer`` -> ``NormalizeImage`` -> ``ToCHWImage`` ->
gear padding, ``general_transforms.py:89-160`` +
``gear_utils.py:10-70``).

Rows carry an explicit float32 tensor (raw bytes) plus its ``dims``, so the
stages compose by name exactly like the reference's YAML pipelines:

    [{"name": "det_crops"}, {"name": "rec_resize_tensor"},
     {"name": "normalize_image", "mean": 127.5, "std": 127.5},
     {"name": "to_chw"}, {"name": "gear_pad", "gears": [64, 128, 256]}]

This is the training-data/export path (prepare batched NN inputs at 100 TB);
the OCR scorers consume raw uint8 crops and are unaffected.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

CROP_TENSOR_SCHEMA = (
    "media_ref string, box_idx int, tensor binary, dims array<int>"
)


def _rows(pdf: pd.DataFrame, tensors: list[bytes], dims: list[list[int]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "media_ref": pdf["media_ref"],
            "box_idx": pdf["box_idx"],
            "tensor": tensors,
            "dims": dims,
        }
    )


def rec_resize_tensor_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Det-crop rows -> float32 (32, W') resize-norm tensors
    (``rec_transforms.py:548-636`` keep-ratio, width-capped). Sentinel /
    payload rows (box_idx < 0) are dropped — they carry no image."""
    from ..kernels.rec import rec_resize_norm

    for pdf in batches:
        keep, tensors, dims = [], [], []
        for i, (blob, h, w, bidx) in enumerate(
            zip(pdf["crop"], pdf["crop_h"], pdf["crop_w"], pdf["box_idx"])
        ):
            if int(bidx) < 0 or int(h) == 0:
                continue
            crop = np.frombuffer(blob, dtype=np.uint8).reshape(int(h), int(w))
            t = rec_resize_norm(crop).astype(np.float32)
            keep.append(i)
            tensors.append(t.tobytes())
            dims.append([int(d) for d in t.shape])
        yield _rows(pdf.iloc[keep], tensors, dims)


def normalize_image_iter(
    batches: Iterator[pd.DataFrame], mean: float = 127.5, std: float = 127.5
) -> Iterator[pd.DataFrame]:
    """NormalizeImage (``general_transforms.py:89-130``):
    (x.astype(float32) - mean) / std, elementwise, dims unchanged."""
    m = np.float32(mean)
    s = np.float32(std)
    for pdf in batches:
        tensors = [
            ((np.frombuffer(b, dtype=np.float32) - m) / s).astype(np.float32).tobytes()
            for b in pdf["tensor"]
        ]
        yield _rows(pdf, tensors, list(pdf["dims"]))


def to_chw_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """ToCHWImage (``general_transforms.py:149-160``): HWC -> CHW; a 2-dim
    gray (H, W) tensor gains a leading channel axis (1, H, W). Bytes are
    re-laid-out accordingly."""
    for pdf in batches:
        tensors, dims = [], []
        for b, d in zip(pdf["tensor"], pdf["dims"]):
            d = [int(x) for x in d]
            arr = np.frombuffer(b, dtype=np.float32).reshape(d)
            if arr.ndim == 2:
                out = arr[None, :, :]
            elif arr.ndim == 3:
                out = np.ascontiguousarray(np.transpose(arr, (2, 0, 1)))
            else:
                raise ValueError(f"to_chw expects 2- or 3-dim tensor, got {d}")
            tensors.append(out.tobytes())
            dims.append([int(x) for x in out.shape])
        yield _rows(pdf, tensors, dims)


def gear_pad_iter(
    batches: Iterator[pd.DataFrame], gears: list[int], height: int = 32
) -> Iterator[pd.DataFrame]:
    """Match each tensor's (h, w) to the nearest (height, gear) shape and
    zero-pad up to it (``get_matched_gear_hw`` + ``padding_to_batch``
    zero-fill). Emits ``valid_w`` so consumers can unpad; callers should
    repartition on the resulting width (= dims[-1]) to co-locate same-gear
    tensors for contiguous batch stacking.

    A tensor wider than the largest gear is cropped to it — the reference
    gear path never sees this case (inputs are resized into the gear
    envelope upstream, ``rec_resize_norm``'s width cap), so when it DOES
    happen here it is data loss and is flagged: ``truncated = true`` lets
    downstream consumers drop/reroute instead of silently reading a crop
    with its trailing glyphs cut off (r2 ADVICE item)."""
    from ..functions.gear import get_matched_gear_hw, pad_to_gear

    hw_list = [(int(height), int(g)) for g in sorted(gears)]
    for pdf in batches:
        tensors, dims, valid, trunc = [], [], [], []
        for b, d in zip(pdf["tensor"], pdf["dims"]):
            d = [int(x) for x in d]
            arr = np.frombuffer(b, dtype=np.float32).reshape(d)
            h, w = arr.shape[-2], arr.shape[-1]
            gear = get_matched_gear_hw((h, w), [g for g in hw_list if g[1] >= w] or [hw_list[-1]])
            was_truncated = gear[1] < w
            if was_truncated:  # wider than every gear: crop to the max cap
                arr = arr[..., :, : gear[1]]
                w = gear[1]
            out = pad_to_gear(arr, gear)
            tensors.append(out.tobytes())
            dims.append([int(x) for x in out.shape])
            valid.append(int(w))
            trunc.append(bool(was_truncated))
        out_pdf = _rows(pdf, tensors, dims)
        out_pdf["valid_w"] = valid
        out_pdf["truncated"] = trunc
        yield out_pdf


GEAR_TENSOR_SCHEMA = CROP_TENSOR_SCHEMA + ", valid_w int, truncated boolean"
