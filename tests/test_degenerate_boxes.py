"""A degenerate text box gives no text and raises nothing, at the kernel
and at the row-stage level: a quad whose crop side rounds to 1 px (a
singular homography) or one that repeats a vertex (NaN sample
coordinates)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mindocr_spark.functions.imaging import warp_perspective_crop
from mindocr_spark.functions.png_codec import encode_png
from mindocr_spark.kernels.rec import REC_HEADS
from mindocr_spark.kernels.system import (
    classify_and_recognize,
    crop_box,
    media_payload_text,
)
from mindocr_spark.operators.media_path import (
    det_crops_iter,
    ocr_fused_iter,
    recognize_iter,
)

DEGENERATE = {
    # a 1 px tall box: dst corners coincide, the homography is singular
    "one_px_side": (np.full((10, 60), 255, np.uint8),
                    np.array([[5, 3], [40, 3], [40, 3], [5, 3]])),
    # a repeated vertex: 0/0 sample coordinates
    "repeated_vertex": (np.full((7, 48), 255, np.uint8),
                        np.array([[34, 1], [47, 1], [47, 3], [34, 1]])),
}


@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_degenerate_quad_crops_empty_and_reads_no_text(case):
    img, quad = DEGENERATE[case]
    assert warp_perspective_crop(img, quad).shape == (0, 0)
    crop = crop_box(img, quad)
    assert crop.shape == (0, 0) and crop.dtype == np.uint8
    for head in REC_HEADS:
        assert classify_and_recognize(crop, head) == ("", 0.0)


def _line_page() -> bytes:
    """A 3-row page whose one ink line detects as a 2 px tall box."""
    img = np.full((3, 200), 255, np.uint8)
    img[1, 20:180] = 0
    return encode_png(img)


def test_degenerate_page_through_row_stages():
    payload = _line_page()
    for profile in (None, "attn", "poly"):
        assert media_payload_text(payload, profile=profile) == ""
    rows = pd.DataFrame({"media_ref": ["r"], "image": [payload]})
    (fused,) = list(ocr_fused_iter(iter([rows])))
    assert fused.values.tolist() == [["r", ""]]
    (crops,) = list(det_crops_iter(iter([rows])))
    assert crops["box_idx"].tolist()[0] == -1 and len(crops) >= 2
    (rec,) = list(recognize_iter(iter([crops])))
    assert rec["text"].tolist() == [""] * len(crops)
    assert rec["conf"].tolist()[1:] == [0.0] * (len(crops) - 1)
