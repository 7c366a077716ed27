"""``config.row_stage``: the one Arrow-batch loop of every per-row Python
stage (optional columns, missing columns, empty batches, plan names)."""

from __future__ import annotations

import pandas as pd
import pytest

from mindocr_spark.config import row_stage
from mindocr_spark.operators.media_path import (
    det_crops_iter,
    ocr_fused_iter,
    recognize_iter,
)


@row_stage("n long, profile string, tag array<struct<a:int,b:string>>")
def _echo(n, profile=None):
    for i in range(n):
        yield n, profile, [(i, "x")]


def _frames(fn, *batches):
    return list(fn(iter(batches)))


def test_missing_optional_column_reads_default():
    (out,) = _frames(_echo, pd.DataFrame({"n": [1, 2]}))
    assert out.values.tolist() == [
        [1, None, [(0, "x")]], [2, None, [(0, "x")]], [2, None, [(1, "x")]],
    ]
    # a real stage: a ref row's routed text passes through without profile
    crops = pd.DataFrame({
        "media_ref": ["r"], "box_idx": [-1], "crop": [b"hello"],
        "crop_h": [0], "crop_w": [0],
    })
    (rec,) = _frames(recognize_iter, crops)
    assert rec.values.tolist() == [["r", -1, "hello", 1.0]]


def test_missing_required_column_raises_naming_it():
    with pytest.raises(KeyError, match="'n'"):
        _frames(_echo, pd.DataFrame({"profile": ["p"]}))
    with pytest.raises(KeyError, match="'crop_h'"):
        _frames(recognize_iter, pd.DataFrame({
            "media_ref": ["r"], "box_idx": [-1], "crop": [b""], "crop_w": [0],
        }))


def test_empty_batch_yields_zero_row_frame_with_schema_columns():
    (out,) = _frames(det_crops_iter, pd.DataFrame({"media_ref": [], "image": []}))
    assert len(out) == 0
    assert list(out.columns) == [
        "media_ref", "box_idx", "crop", "crop_h", "crop_w", "profile"
    ]
    # rows that yield nothing, under a schema with commas inside a nested type
    (out,) = _frames(_echo, pd.DataFrame({"n": [0, 0]}))
    assert len(out) == 0
    assert list(out.columns) == ["n", "profile", "tag"]


def test_batch_function_keeps_row_function_name():
    assert ocr_fused_iter.__name__ == "ocr_fused_iter"
    assert det_crops_iter.__name__ == "det_crops_iter"
    assert _echo.__name__ == "_echo"
