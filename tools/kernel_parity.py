"""Both-trees kernel parity: dump every kernel output of two source trees
on the same inputs and count the outputs that differ.

Usage::

    python tools/kernel_parity.py <other-tree> <sf-dir> [--lanms-dir DIR]

``<other-tree>`` is a checkout of another commit (``git archive`` of the
parent, say); ``<sf-dir>`` holds the scale-factor ``documents.parquet`` the
derived corpus comes from. The inputs are built once, by a child
interpreter with only this tree on ``PYTHONPATH``; each tree then runs in
its own child interpreter with only that tree on ``PYTHONPATH``, computes
its outputs on those inputs and pickles them into a temporary directory;
the parent process compares them exactly (arrays by dtype, shape and
bytes, floats by ``float.hex``). Exit status 1 when any output differs.

Inputs: the media payloads derived from ``<sf-dir>``, those of
``gen_corpus_pandas(40, seed=11)`` and the media rows of perfbench's
``ocr_heavy`` and ``shared_media`` inputs at seed 1
(``perfbench.inputs.make_corpus``, in a temporary directory); the ink masks
of every decoded page; seeded masks, point sets, PSE maps and box sets.

Outputs, per payload: ``media_payload_text`` under profiles
None/attn/poly. Per decoded page: ``detect_quads`` in both modes,
``extract_table``, ``extract_table_html``, ``detect_grid``, the
``det_score`` map of the resized page, ``db_postprocess`` polygons and
scores of that map for both box types, and for every quad of the page's
profile mode its ``crop_box`` bytes, ``classify_and_recognize`` text and
confidence under all four rec heads, and ``cls_probs_from_analyses`` of the crop's upright and flipped
analyses. Per mask: ``label_runs`` (8-connected), ``_components4`` and
``_segment_glyphs``. Seeded: ``detect_grid`` and ``det_score`` of the
masks as gray images, ``db_postprocess`` of smoothed random masks (both box
types), ``crop_box`` of random images and convex quads crossing their
borders, ``min_area_rect`` (random
integer and float sets, rotated rects, collinear points, duplicates and
sets of at most 2 points), ``pse_expand`` / ``pse_postprocess``,
``match_boxes_to_cells``, the table matcher's ``_cal_iou`` (integer and
jittered float corners), ``nms_boxes``, ``locality_aware_nms`` (on seeded
9-value boxes, plus the reference's LANMS JSON fixtures when
``--lanms-dir`` names them) and ``match_image_labels``. Only names both
trees define are called.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import subprocess
import sys
import tempfile
from collections import Counter

N_MASKS = 2000
N_BOX_SETS = 2000
N_POINT_SETS = 3000
N_CROPS = 2000
REC_HEADS = ("ctc", "attn", "master", "sar")


def canon(x):
    """Exact, comparable form of a kernel output."""
    import numpy as np

    if isinstance(x, np.ndarray):
        return ("nd", x.dtype.str, x.shape, x.tobytes())
    if isinstance(x, (float, np.floating)):
        return ("f", float(x).hex())
    if isinstance(x, np.integer):
        return ("i", int(x))
    if isinstance(x, dict):
        return ("d", tuple((k, canon(v)) for k, v in sorted(x.items())))
    if isinstance(x, (list, tuple)):
        return (type(x).__name__, tuple(canon(v) for v in x))
    return x


def build_inputs(sf_dir: str, out_path: str) -> None:
    """Pickle every media payload (with its profile) into ``out_path``."""
    import pandas as pd
    import pyarrow.parquet as pq

    from mindocr_spark.data.derive_corpus import derive_corpus_pandas
    from mindocr_spark.data.gen_corpus import gen_corpus_pandas
    from perfbench.inputs import make_corpus

    media = [
        derive_corpus_pandas(pd.read_parquet(f"{sf_dir}/documents.parquet"))[1],
        gen_corpus_pandas(40, seed=11)[1],
    ]
    payloads = [(p, None) for m in media for p in m["image"]]
    for workload in ("ocr_heavy", "shared_media"):
        with tempfile.TemporaryDirectory() as tmp:
            make_corpus(workload, 1, tmp)
            rows = pq.read_table(f"{tmp}/media.parquet", columns=["image", "profile"])
            payloads += [(m["image"], m["profile"]) for m in rows.to_pylist()]
    with open(out_path, "wb") as f:
        pickle.dump(payloads, f)


def _point_sets():
    """Seeded ``min_area_rect`` inputs: random integer and float sets,
    rotated rects, collinear points, duplicates and <= 2 points."""
    import numpy as np

    for seed in range(N_POINT_SETS):
        rng = np.random.RandomState(seed)
        kind = seed % 6
        n = int(rng.randint(1, 60))
        if kind == 0:
            pts = rng.randint(0, 80, size=(n, 2)).astype(np.float64)
        elif kind == 1:
            pts = rng.rand(n, 2) * 50
        elif kind == 2:  # a rotated rect's corners and border points
            w, h = rng.uniform(1, 40, size=2)
            t = rng.uniform(0, np.pi)
            u = rng.rand(n, 1)
            side = np.array([[0, 0], [w, 0], [w, h], [0, h]])
            k = rng.randint(0, 4, size=n)
            local = np.concatenate([side, side[k] + u * (side[(k + 1) % 4] - side[k])])
            rot = np.array([[np.cos(t), -np.sin(t)], [np.sin(t), np.cos(t)]])
            pts = local @ rot.T + rng.uniform(0, 100, size=2)
        elif kind == 3:  # collinear, integer or float
            d = rng.randint(-3, 4, size=2)
            pts = rng.randint(0, 30, size=(n, 1)) * d + rng.randint(0, 50, size=2)
            pts = pts.astype(np.float64) * (1.0 if rng.rand() < 0.5 else 0.37)
        elif kind == 4:  # duplicates
            base = rng.randint(0, 20, size=(max(n // 4, 1), 2))
            pts = base[rng.randint(0, len(base), size=n)].astype(np.float64)
        else:  # at most 2 points
            pts = rng.randint(0, 50, size=(int(rng.randint(1, 3)), 2)).astype(np.float64)
        yield seed, pts


def _seeded_masks():
    import numpy as np

    for seed in range(N_MASKS):
        rng = np.random.RandomState(seed)
        h, w = rng.randint(1, 48, size=2)
        yield rng.rand(h, w) < rng.uniform(0.1, 0.8)


def _pse_maps():
    import numpy as np

    from mindocr_spark.functions.imaging import box_filter

    for seed in range(200):
        rng = np.random.RandomState(seed)
        h, w = rng.randint(8, 64, size=2)
        chans = [box_filter(rng.rand(h, w).astype(np.float32), 5)]
        for _ in range(rng.randint(1, 4)):
            chans.append(chans[-1] - rng.uniform(0.02, 0.08))
        pred = (np.stack(chans) - 0.5) * 60.0
        yield seed, pred


def _xyxy(rng, n: int):
    import numpy as np

    xy = rng.randint(0, 60, size=(n, 2)).astype(np.float64)
    wh = rng.randint(0, 25, size=(n, 2)).astype(np.float64)
    return np.concatenate([xy, xy + wh], axis=1)


def _quad(rng):
    import numpy as np

    x, y = rng.randint(0, 50, size=2)
    w, h = rng.randint(0, 20, size=2)
    q = np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.float64)
    return q + rng.randint(-2, 3, size=(4, 2)) * (rng.rand() < 0.5)


def _seeded_crops():
    """Random gray images and convex quads (sides >= 2 px, so neither tree
    meets a degenerate box) that may cross every image border."""
    import numpy as np

    for seed in range(N_CROPS):
        rng = np.random.RandomState(seed)
        h, w = rng.randint(4, 48, size=2)
        img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        x, y = rng.randint(-3, w - 1), rng.randint(-3, h - 1)
        qw, qh = rng.randint(4, 40, size=2)
        quad = np.array([[x, y], [x + qw, y], [x + qw, y + qh], [x, y + qh]])
        yield seed, img, quad + rng.randint(-1, 2, size=(4, 2))


def _prob_maps():
    """Seeded probability maps: smoothed random masks, so components of
    every shape clear or miss the box threshold."""
    import numpy as np

    from mindocr_spark.functions.imaging import box_filter

    for seed in range(N_MASKS // 4):
        rng = np.random.RandomState(seed)
        h, w = rng.randint(8, 64, size=2)
        mask = rng.rand(h, w) < rng.uniform(0.05, 0.6)
        yield seed, (h, w), box_filter(mask.astype(np.float32), int(rng.randint(1, 4)) * 2 - 1)


def dump(inputs_path: str, lanms_dir: str | None, out_path: str) -> None:
    """Compute every output of the tree on PYTHONPATH into ``out_path``."""
    import numpy as np

    from mindocr_spark.functions.geometry import min_area_rect
    from mindocr_spark.functions.imaging import label_runs, rotate180
    from mindocr_spark.functions.nms import locality_aware_nms
    from mindocr_spark.functions.pse import _components4, pse_expand
    from mindocr_spark.functions.table_master import _cal_iou
    from mindocr_spark.functions.table_match import match_boxes_to_cells
    from mindocr_spark.kernels.cls import cls_probs_from_analyses
    from mindocr_spark.kernels.det import db_postprocess, det_resize, det_score
    from mindocr_spark.kernels.det_alt import pse_postprocess
    from mindocr_spark.kernels.layout_post import nms_boxes
    from mindocr_spark.kernels.rec import _segment_glyphs, analyze_crop, rec_resize_norm
    from mindocr_spark.kernels.system import (
        classify_and_recognize,
        crop_box,
        decode_gray,
        detect_quads,
        media_payload_text,
        profile_heads,
    )
    from mindocr_spark.kernels.table import detect_grid, extract_table, extract_table_html
    from mindocr_spark.metrics import match_image_labels

    with open(inputs_path, "rb") as f:  # written by build_inputs
        payloads = pickle.load(f)
    out: dict = {}
    pages = []
    for i, (payload, profile) in enumerate(payloads):
        for prof in (None, "attn", "poly"):
            out[f"media_payload_text/{i}/{prof}"] = media_payload_text(
                payload, profile=prof
            )
        img = decode_gray(payload)  # None for PDFs and missing or junk media
        if img is None:
            continue
        pages.append(img < 128)
        for mode in ("quad", "poly"):
            out[f"detect_quads/{i}/{mode}"] = detect_quads(img, mode)
        out[f"detect_grid/{i}"] = detect_grid(img)
        out[f"extract_table/{i}"] = extract_table(img)
        out[f"extract_table_html/{i}"] = extract_table_html(img)
        resized, shape_list = det_resize(img)
        prob = det_score(resized)
        out[f"det_score/{i}"] = prob
        for box_type in ("quad", "poly"):
            out[f"db_postprocess/{i}/{box_type}"] = db_postprocess(
                prob, shape_list, box_type
            )
        for j, quad in enumerate(detect_quads(img, profile_heads(profile)[1])):
            crop = crop_box(img, quad)
            out[f"crop_box/{i}/{j}"] = crop
            for head in REC_HEADS:
                out[f"classify_and_recognize/{i}/{j}/{head}"] = (
                    classify_and_recognize(crop, decoder=head)
                )
            resized_crop = rec_resize_norm(crop)
            out[f"cls_probs_from_analyses/{i}/{j}"] = cls_probs_from_analyses(
                analyze_crop(resized_crop), analyze_crop(rotate180(resized_crop))
            )

    for seed, pts in _point_sets():
        out[f"min_area_rect/{seed}"] = min_area_rect(pts)
    for seed, img, quad in _seeded_crops():
        out[f"crop_box_seeded/{seed}"] = crop_box(img, quad)
    for seed, (h, w), prob in _prob_maps():
        for box_type in ("quad", "poly"):
            out[f"db_postprocess_seeded/{seed}/{box_type}"] = db_postprocess(
                prob, (h, w, 1.0, 1.0), box_type
            )

    masks = list(_seeded_masks()) + pages
    for i, mask in enumerate(masks):
        out[f"label_runs/{i}"] = label_runs(mask)
        out[f"components4/{i}"] = _components4(mask)
        out[f"segment_glyphs/{i}"] = _segment_glyphs(mask)
        if i < N_MASKS:  # the seeded masks as ink of a gray image
            gray = np.where(mask, 0, 255).astype(np.uint8)
            out[f"detect_grid_seeded/{i}"] = detect_grid(gray)
            out[f"det_score_seeded/{i}"] = det_score(gray)

    for seed, pred in _pse_maps():
        kernels = (pred > 0.5).astype(np.uint8)
        kernels = kernels * kernels[:1]
        for min_area in (0, 4, 16):
            out[f"pse_expand/{seed}/{min_area}"] = pse_expand(kernels, min_area)
        out[f"pse_postprocess/{seed}"] = pse_postprocess(pred)

    for seed in range(N_BOX_SETS):
        rng = np.random.RandomState(seed)
        n, m = rng.randint(0, 12, size=2)
        text, cells = _xyxy(rng, n), _xyxy(rng, m)
        out[f"match_boxes_to_cells/{seed}"] = match_boxes_to_cells(text, cells)
        scores = rng.randint(0, 5, size=n) / 4.0  # ties exercise the stable order
        for thr in (0.3, 0.5, 0.65):
            out[f"nms_boxes/{seed}/{thr}"] = nms_boxes(text, scores, thr)
        boxes = [np.append(_quad(rng).ravel(), rng.rand()) for _ in range(n)]
        boxes.sort(key=lambda b: (b[1], b[0]))
        out[f"locality_aware_nms/{seed}"] = locality_aware_nms(boxes, 0.2)
        preds = [_quad(rng) for _ in range(n)]
        gts = [_quad(rng) for _ in range(m)]
        ignore = [bool(v) for v in rng.rand(m) < 0.2]
        out[f"match_image_labels/{seed}"] = match_image_labels(preds, gts, ignore)
        out[f"cal_iou/{seed}"] = [_cal_iou(t, c) for t in text for c in cells]
        jittered = text + rng.rand(n, 4) * 3  # non-integer corners
        out[f"cal_iou_float/{seed}"] = [_cal_iou(t, c) for t in jittered for c in cells]

    if lanms_dir:
        for fname in sorted(os.listdir(lanms_dir)):
            with open(os.path.join(lanms_dir, fname)) as f:
                data = json.loads(f.readline())
            out[f"lanms_fixture/{fname}"] = locality_aware_nms(
                np.array(data["origin_boxes"])
            )

    with open(out_path, "wb") as f:
        pickle.dump({k: canon(v) for k, v in out.items()}, f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("other_tree")
    ap.add_argument("sf_dir")
    ap.add_argument("--lanms-dir")
    ap.add_argument("--inputs", help=argparse.SUPPRESS)
    ap.add_argument("--dump", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.inputs:
        build_inputs(args.sf_dir, args.inputs)
        return 0
    if args.dump:  # the second positional argument is then the inputs pickle
        dump(args.sf_dir, args.lanms_dir, args.dump)
        return 0
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trees = {"this": here, "other": os.path.abspath(args.other_tree)}
    dumps = {}
    script = os.path.abspath(__file__)
    with tempfile.TemporaryDirectory() as tmp:
        inputs = os.path.join(tmp, "inputs.pkl")
        subprocess.run(
            [sys.executable, script, here, os.path.abspath(args.sf_dir),
             "--inputs", inputs],
            env=dict(os.environ, PYTHONPATH=here), cwd=tmp, check=True,
        )
        for name, tree in trees.items():
            path = os.path.join(tmp, f"{name}.pkl")
            cmd = [sys.executable, script, tree, inputs, "--dump", path]
            if args.lanms_dir:
                cmd += ["--lanms-dir", args.lanms_dir]
            env = dict(os.environ, PYTHONPATH=tree)
            subprocess.run(cmd, env=env, cwd=tmp, check=True)
            with open(path, "rb") as f:  # written by the child just above
                dumps[name] = pickle.load(f)
    this, other = dumps["this"], dumps["other"]
    keys = sorted(set(this) | set(other))
    differ = [k for k in keys if this.get(k, "<missing>") != other.get(k, "<missing>")]
    by_kernel = Counter(k.split("/")[0] for k in keys)
    differ_by_kernel = Counter(k.split("/")[0] for k in differ)
    for kernel, n in sorted(by_kernel.items()):
        print(f"{kernel:28s} {n:6d} outputs, {differ_by_kernel[kernel]:6d} differ")
    for k in differ[:20]:
        print("DIFFERS", k)
    print(f"TOTAL {len(keys)} outputs, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
