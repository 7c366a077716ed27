"""NN-input tensor stages: NormalizeImage / ToCHWImage / gear padding
(general_transforms.py:89-160, gear_utils.py:10-70) and their one
composition, ``operators.tensors.rec_input_tensors``."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mindocr_spark.functions.gear import get_matched_gear_hw, pad_to_gear
from mindocr_spark.operators.media_path import DET_CROPS_SCHEMA, det_crops_iter
from mindocr_spark.operators.tensors import (
    CROP_TENSOR_SCHEMA,
    GEAR_TENSOR_SCHEMA,
    GEARS,
    gear_pad_iter,
    rec_input_tensors,
    rec_resize_tensor_iter,
)


def test_get_matched_gear_hw_reference_semantics():
    gears = [(32, 64), (32, 128), (32, 256)]
    assert get_matched_gear_hw((32, 60), gears) == (32, 64)
    assert get_matched_gear_hw((32, 100), gears) == (32, 128)
    # L1 distance, first match wins on ties: (32,96) is 32 from both 64
    # and 128 -> the earlier gear wins
    assert get_matched_gear_hw((32, 96), gears) == (32, 64)
    assert get_matched_gear_hw((32, 999), [(32, 64)]) == (32, 64)


def test_pad_to_gear_zero_fill_and_guard():
    t = np.ones((32, 50), dtype=np.float32)
    p = pad_to_gear(t, (32, 64))
    assert p.shape == (32, 64)
    assert p[:, :50].min() == 1.0 and p[:, 50:].max() == 0.0
    c = np.ones((1, 32, 50), dtype=np.float32)
    assert pad_to_gear(c, (32, 64)).shape == (1, 32, 64)
    with pytest.raises(ValueError):
        pad_to_gear(t, (32, 40))


def _media_df(spark, media_pdf, n=3):
    sub = media_pdf[~media_pdf["media_ref"].str.startswith("pdf_")].head(n)
    return spark.createDataFrame(
        pd.DataFrame(
            {"media_ref": sub["media_ref"].tolist(), "image": sub["image"].tolist()}
        )
    )


def test_tensor_pipeline_exact_values(spark, small_corpus):
    """resize -> normalize -> chw -> gear: exact value check against the
    same kernels applied directly."""
    from mindocr_spark.kernels.rec import rec_resize_norm

    _, _, media_pdf = small_corpus
    media = _media_df(spark, media_pdf)
    raw = {
        (r["media_ref"], r["box_idx"]): np.frombuffer(
            r["crop"], dtype=np.uint8
        ).reshape(r["crop_h"], r["crop_w"])
        for r in media.mapInPandas(det_crops_iter, DET_CROPS_SCHEMA).collect()
        if r["box_idx"] >= 0
    }
    assert raw
    rows = rec_input_tensors(media).collect()
    assert len(rows) == len(raw)
    for r in rows:
        t = np.frombuffer(r["tensor"], dtype=np.float32).reshape(r["dims"])
        assert t.ndim == 3 and t.shape[0] == 1 and t.shape[1] == 32
        assert t.shape[2] in GEARS
        expect = (
            rec_resize_norm(raw[(r["media_ref"], r["box_idx"])]).astype(np.float32)
            - np.float32(127.5)
        ) / np.float32(127.5)
        got_valid = t[0, :, : r["valid_w"]]
        assert got_valid.shape == expect.shape
        assert np.array_equal(got_valid, expect.astype(np.float32))
        assert float(np.abs(t[0, :, r["valid_w"] :]).max(initial=0.0)) == 0.0


def test_gear_pad_flags_truncation(spark, small_corpus):
    """A tensor wider than every gear is cropped to the max gear — that is
    data loss (the reference resizes into the gear envelope upstream and
    never crops), so the row must carry truncated=true; in-envelope rows
    carry truncated=false."""
    _, _, media_pdf = small_corpus
    ok = (
        _media_df(spark, media_pdf)
        .mapInPandas(det_crops_iter, DET_CROPS_SCHEMA)
        .mapInPandas(rec_resize_tensor_iter, CROP_TENSOR_SCHEMA)
        .mapInPandas(gear_pad_iter, GEAR_TENSOR_SCHEMA)
        .collect()
    )
    assert ok and all(r["truncated"] is False for r in ok)
    assert all(r["valid_w"] <= r["dims"][-1] for r in ok)
    # wider than the widest gear: cropped to it and flagged
    wide = np.arange(32 * (GEARS[-1] + 80), dtype=np.float32).reshape(32, -1)
    rows = pd.DataFrame(
        {"media_ref": ["w"], "box_idx": [0], "tensor": [wide.tobytes()],
         "dims": [list(wide.shape)]}
    )
    (out,) = list(gear_pad_iter(iter([rows])))
    assert out.drop(columns="tensor").values.tolist() == [
        ["w", 0, [32, GEARS[-1]], GEARS[-1], True]
    ]
    assert out["tensor"][0] == wide[:, : GEARS[-1]].tobytes()


def test_gear_pad_repartitions_by_width(spark, small_corpus):
    _, _, media_pdf = small_corpus
    out = rec_input_tensors(_media_df(spark, media_pdf))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "element_at(dims" in plan  # the co-location repartition key
    assert {r["dims"][-1] for r in out.collect()} <= set(GEARS)
