"""Name-keyed stage registry + config-driven pipeline assembly.

The reference instantiates transform pipelines from YAML by class name
(``create_transforms`` / ``run_transforms``,
``mindocr/data/transforms/transforms_factory.py:24-60``) and registers
models/postprocessors/metrics by name (``mindocr/models/_registry.py``,
``postprocess/builder.py``). The Spark-native equivalent: a table of
DataFrame -> DataFrame stage factories, composed from a config list — an
explicit dict lookup rather than the reference's ``eval(name)``. Each
factory's keyword arguments are the stage's settable parameters, so an
unknown name or parameter raises in :func:`build_pipeline`, on the driver.
"""

from __future__ import annotations

import json
import zlib
from collections.abc import Callable, Iterator
from functools import partial, update_wrapper
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import spread
from .functions.imaging import add_padding, img_rotate
from .kernels.det_label import border_map, shrink_binary_map
from .kernels.det_label_alt import east_score_geo, pse_gt_decode
from .kernels.rec import REC_HEADS
from .operators.media_path import (
    DET_CROPS_SCHEMA,
    DET_POLYS_SCHEMA,
    FUSED_SCHEMA,
    REC_SCHEMA,
    det_crops_iter,
    det_polys_iter,
    kept_crops,
    ocr_fused_iter,
    recognize_iter,
)
from .operators.table_path import TABLE_CELLS_SCHEMA, table_cells_iter
from .operators.tensors import (
    CROP_TENSOR_SCHEMA,
    GEAR_TENSOR_SCHEMA,
    gear_pad_iter,
    normalize_image_iter,
    rec_resize_tensor_iter,
    to_chw_iter,
)
from .operators.text_path import extract_main_text_udf

Stage = Callable[[DataFrame], DataFrame]


def build_pipeline(config: list[dict[str, Any]]) -> Stage:
    """config: [{"name": <registered stage>, ...params}] -> composed stage."""
    stages = []
    for item in config:
        params = dict(item)
        name = params.pop("name")
        if name not in _STAGES:
            raise KeyError(f"unknown stage {name!r}; known: {sorted(_STAGES)}")
        stages.append(_STAGES[name](**params))

    def run(df: DataFrame) -> DataFrame:
        for s in stages:
            df = s(df)
        return df

    return run


def available_stages() -> list[str]:
    return sorted(_STAGES)


# --- the three stage builders -------------------------------------------


def _map(fn: Callable, schema: str, /, **params: Any) -> Stage:
    """One mapInPandas over ``fn`` with the stage's parameters bound; the
    UDF keeps ``fn``'s name in the plan."""
    bound = update_wrapper(partial(fn, **params), fn)
    return lambda df: df.mapInPandas(bound, schema)


def _crops_iter(
    batches: Iterator[pd.DataFrame], fn: Callable[[np.ndarray], np.ndarray]
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        crops, hs, ws = [], [], []
        for blob, h, w, bidx in zip(
            pdf["crop"], pdf["crop_h"], pdf["crop_w"], pdf["box_idx"]
        ):
            if int(bidx) >= 0 and int(h) > 0:  # sentinel / empty rows pass
                img = np.frombuffer(blob, dtype=np.uint8).reshape(int(h), int(w))
                img = np.clip(np.rint(fn(img)), 0, 255).astype(np.uint8)
                blob, (h, w) = img.tobytes(), img.shape
            crops.append(blob)
            hs.append(h)
            ws.append(w)
        out = pdf.copy()
        out["crop"], out["crop_h"], out["crop_w"] = crops, hs, ws
        yield out


def _crops(fn: Callable[..., np.ndarray], **params: Any) -> Stage:
    """A uint8 -> array image function over every real exploded crop row;
    the crop dims follow the result's shape."""
    return _map(_crops_iter, DET_CROPS_SCHEMA, fn=partial(fn, **params))


def _checksum_iter(
    batches: Iterator[pd.DataFrame], row: Callable[..., dict], columns: list[str],
    **params: Any,
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            {"media_ref": r["media_ref"], **row(r, **params)}
            for _, r in pdf.iterrows()
        ]
        yield pd.DataFrame(rows, columns=columns)


def _checksum(row: Callable[..., dict], schema: str, **params: Any) -> Stage:
    """Training-label generation over (media_ref, ...) rows, spread on
    media_ref: ``row`` runs one kernel per input row and returns integer
    checksums of its exact maps plus pixel counts, so the stage is cheap to
    verify at scale; the maps themselves stay kernel-level (exact-geometry
    pytest goldens)."""
    columns = [c.split()[0] for c in schema.split(", ")]
    stage = _map(_checksum_iter, schema, row=row, columns=columns, **params)
    return lambda df: stage(spread(df, "media_ref"))


def _polys(r: pd.Series) -> list[np.ndarray]:
    return [np.array(p, dtype=np.float64) for p in json.loads(r["polys_json"])]


def _hw(r: pd.Series) -> tuple[int, int]:
    return int(r["height"]), int(r["width"])


def _det_label_row(r: pd.Series, min_text_size: int, shrink_ratio: float) -> dict:
    polys, hw = _polys(r), _hw(r)
    gt, mask, tags = shrink_binary_map(
        hw, polys, list(json.loads(r["ignore_json"])),
        min_text_size=min_text_size, shrink_ratio=shrink_ratio,
    )
    tm, tmask = border_map(hw, polys, list(tags), shrink_ratio=shrink_ratio)
    return {
        "n_polys": len(polys),
        "n_ignored": int(tags.sum()),
        "gt_pixels": int(gt.sum()),
        "masked_pixels": int((mask == 0).sum()),
        "thresh_pixels": int(tmask.sum()),
        "gt_hash": zlib.crc32(gt.tobytes()),
        "thresh_hash": zlib.crc32(np.round(tm, 5).astype(np.float32).tobytes()),
    }


def _east_label_row(r: pd.Series, length: int, scale: float) -> dict:
    polys = np.array(json.loads(r["polys_json"]), dtype=np.float64)
    labels = np.array(json.loads(r["labels_json"]))
    score, geo, ignored = east_score_geo(
        polys.reshape(-1, 8) if polys.size else polys.reshape(0, 8),
        labels, length=length, scale=scale,
    )
    return {
        "n_polys": int(len(labels)),
        "n_ignored": int((labels == 0).sum()),
        "score_pixels": int(score.sum()),
        "ignored_pixels": int(ignored.sum()),
        "score_hash": zlib.crc32(score.tobytes()),
        "geo_hash": zlib.crc32(np.round(geo, 4).astype(np.float32).tobytes()),
    }


def _pse_label_row(
    r: pd.Series, kernel_num: int, min_shrink_ratio: float, min_shortest_edge: int
) -> dict:
    polys = _polys(r)
    out = pse_gt_decode(
        _hw(r), polys, list(json.loads(r["ignore_json"])),
        kernel_num=kernel_num, min_shrink_ratio=min_shrink_ratio,
        min_shortest_edge=min_shortest_edge,
    )
    return {
        "n_polys": len(polys),
        "text_pixels": int(out["gt_text"].sum()),
        "masked_pixels": int((out["mask"] == 0).sum()),
        "kernel_pixels": int(out["gt_kernels"].sum()),
        "text_hash": zlib.crc32(out["gt_text"].tobytes()),
        "kernels_hash": zlib.crc32(out["gt_kernels"].tobytes()),
    }


def _gear_pad(gears: list[int] | None = None, height: int = 32) -> Stage:
    """Pad-to-gear (gear_utils.py:10-70), spread on the padded width so
    same-gear tensors co-locate for contiguous batch stacking."""
    stage = _map(
        gear_pad_iter, GEAR_TENSOR_SCHEMA,
        gears=gears or [64, 128, 256, 320], height=height,
    )
    return lambda df: spread(stage(df), F.element_at("dims", -1))


def _recognize(decoder: str = "ctc") -> Stage:
    """Recognition over exploded crops; an unknown ``decoder`` raises here,
    on the driver, rather than in the first Python-worker task."""
    if decoder not in REC_HEADS:
        raise KeyError(f"unknown decoder {decoder!r}; known: {sorted(REC_HEADS)}")
    return _map(recognize_iter, REC_SCHEMA, decoder=decoder)


# --- built-in stages ----------------------------------------------------

_STAGES: dict[str, Callable[..., Stage]] = {
    "strip_html": lambda column="raw_text", out="text": (
        lambda df: df.withColumn(out, extract_main_text_udf(F.col(column)))
    ),
    "ocr_fused": lambda: _map(ocr_fused_iter, FUSED_SCHEMA),
    "det_crops": lambda: _map(det_crops_iter, DET_CROPS_SCHEMA),
    # decoder: 'ctc' (RecCTCLabelDecode), 'attn' (RecAttnLabelDecode),
    # 'master' (RecMasterLabelDecode) or 'sar' (SARLabelDecode)
    "recognize": _recognize,
    # box_type='poly' detection output: ragged polygons per media row
    "det_polys": lambda: _map(det_polys_iter, DET_POLYS_SCHEMA),
    # the layout-region pre-rec pad (predict_table_e2e.py:183)
    "pad_crops": lambda padding_size=10, padding_color=255.0: _crops(
        add_padding, padding_size=padding_size, padding_color=padding_color
    ),
    # arbitrary-angle img_rotate (utils.py:240-257), same dims
    "rotate_crops": lambda angle=180.0: _crops(img_rotate, angle=angle),
    "drop_score": lambda threshold=None: (
        lambda df: kept_crops(df) if threshold is None else kept_crops(df, threshold)
    ),
    "filter": lambda condition: lambda df: df.filter(condition),
    "repartition_cpu": lambda key="media_ref": lambda df: spread(df, key),
    "rec_resize_tensor": lambda: _map(rec_resize_tensor_iter, CROP_TENSOR_SCHEMA),
    # NormalizeImage (general_transforms.py:89-130)
    "normalize_image": lambda mean=127.5, std=127.5: _map(
        normalize_image_iter, CROP_TENSOR_SCHEMA, mean=mean, std=std
    ),
    # ToCHWImage (general_transforms.py:149-160)
    "to_chw": lambda: _map(to_chw_iter, CROP_TENSOR_SCHEMA),
    "gear_pad": _gear_pad,
    "table_cells": lambda: _map(table_cells_iter, TABLE_CELLS_SCHEMA),
    # DBNet ShrinkBinaryMap + BorderMap (det_transforms.py:230-372) over
    # (media_ref, width, height, polys_json, ignore_json) rows
    "det_labels": lambda min_text_size=8, shrink_ratio=0.4: _checksum(
        _det_label_row,
        "media_ref string, n_polys int, n_ignored int, gt_pixels long, "
        "masked_pixels long, thresh_pixels long, gt_hash long, thresh_hash long",
        min_text_size=min_text_size, shrink_ratio=shrink_ratio,
    ),
    # EASTProcessTrain label core (det_east_transforms.py:350-404) over
    # (media_ref, polys_json, labels_json) rows
    "east_labels": lambda length=512, scale=0.25: _checksum(
        _east_label_row,
        "media_ref string, n_polys int, n_ignored int, score_pixels long, "
        "ignored_pixels long, score_hash long, geo_hash long",
        length=length, scale=scale,
    ),
    # PSEGtDecode (det_transforms.py:559-668) over
    # (media_ref, width, height, polys_json, ignore_json) rows
    "pse_labels": lambda kernel_num=7, min_shrink_ratio=0.4, min_shortest_edge=640: (
        _checksum(
            _pse_label_row,
            "media_ref string, n_polys int, text_pixels long, masked_pixels long, "
            "kernel_pixels long, text_hash long, kernels_hash long",
            kernel_num=kernel_num, min_shrink_ratio=min_shrink_ratio,
            min_shortest_edge=min_shortest_edge,
        )
    ),
}
