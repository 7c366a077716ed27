"""Both-trees kernel parity: dump every kernel output of two source trees
on the same inputs and count the outputs that differ.

Usage::

    python tools/kernel_parity.py <other-tree> <sf-dir> [--lanms-dir DIR]

``<other-tree>`` is a checkout of another commit (``git archive`` of the
parent, say); ``<sf-dir>`` holds the scale-factor ``documents.parquet`` the
derived corpus comes from. Each tree runs in its own child interpreter with
only that tree on ``PYTHONPATH`` and pickles its outputs into a temporary
directory; the parent process compares them exactly (arrays by dtype, shape
and bytes, floats by ``float.hex``). Exit status 1 when any output differs.

Inputs: the media payloads derived from ``<sf-dir>``, those of
``gen_corpus_pandas(40, seed=11)``, the ink masks of every decoded page,
and seeded masks, PSE maps and box sets. Outputs: ``media_payload_text``
under profiles None/attn/poly, ``detect_quads`` in both modes,
``extract_table``, ``detect_grid``, ``_segment_glyphs``, both labelers,
``pse_expand`` / ``pse_postprocess``, ``match_boxes_to_cells``,
``nms_boxes``, ``locality_aware_nms`` (on seeded 9-value boxes, plus the
reference's LANMS JSON fixtures when ``--lanms-dir`` names them) and
``match_image_labels``.
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


def _payloads(sf_dir: str) -> list[bytes | None]:
    import pandas as pd

    from mindocr_spark.data.derive_corpus import derive_corpus_pandas
    from mindocr_spark.data.gen_corpus import gen_corpus_pandas

    derived = derive_corpus_pandas(pd.read_parquet(f"{sf_dir}/documents.parquet"))[1]
    generated = gen_corpus_pandas(40, seed=11)[1]
    return list(derived["image"]) + list(generated["image"])


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


def dump(sf_dir: str, lanms_dir: str | None, out_path: str) -> None:
    """Compute every output of the tree on PYTHONPATH into ``out_path``."""
    import numpy as np

    from mindocr_spark.functions.imaging import connected_components
    from mindocr_spark.functions.nms import locality_aware_nms
    from mindocr_spark.functions.pse import _components4, pse_expand
    from mindocr_spark.functions.table_match import match_boxes_to_cells
    from mindocr_spark.kernels.det_alt import pse_postprocess
    from mindocr_spark.kernels.layout_post import nms_boxes
    from mindocr_spark.kernels.rec import _segment_glyphs
    from mindocr_spark.kernels.system import (
        decode_gray,
        detect_quads,
        media_payload_text,
    )
    from mindocr_spark.kernels.table import detect_grid, extract_table
    from mindocr_spark.metrics import match_image_labels

    out: dict = {}
    pages = []
    for i, payload in enumerate(_payloads(sf_dir)):
        for profile in (None, "attn", "poly"):
            out[f"media_payload_text/{i}/{profile}"] = media_payload_text(
                payload, profile=profile
            )
        img = decode_gray(payload)  # None for PDFs and missing or junk media
        if img is None:
            continue
        pages.append(img < 128)
        for mode in ("quad", "poly"):
            out[f"detect_quads/{i}/{mode}"] = detect_quads(img, mode)
        out[f"detect_grid/{i}"] = detect_grid(img)
        out[f"extract_table/{i}"] = extract_table(img)

    masks = list(_seeded_masks()) + pages
    for i, mask in enumerate(masks):
        out[f"connected_components/{i}"] = connected_components(mask)
        out[f"components4/{i}"] = _components4(mask)
        out[f"segment_glyphs/{i}"] = _segment_glyphs(mask)
        if i < N_MASKS:  # the seeded masks as ink of a gray image
            out[f"detect_grid_seeded/{i}"] = detect_grid(
                np.where(mask, 0, 255).astype(np.uint8)
            )

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
    ap.add_argument("--dump", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.dump:
        dump(args.sf_dir, args.lanms_dir, args.dump)
        return 0
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trees = {"this": here, "other": os.path.abspath(args.other_tree)}
    dumps = {}
    with tempfile.TemporaryDirectory() as tmp:
        for name, tree in trees.items():
            path = os.path.join(tmp, f"{name}.pkl")
            cmd = [sys.executable, os.path.abspath(__file__), tree, args.sf_dir,
                   "--dump", path]
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
    for kernel, n in sorted(by_kernel.items()):
        print(f"{kernel:28s} {n:6d} outputs")
    for k in differ[:20]:
        print("DIFFERS", k)
    print(f"TOTAL {len(keys)} outputs, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
