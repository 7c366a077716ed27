"""Progressive Scale Expansion (PSENet) label growth in numpy + deque.

Semantics follow the reference's Cython kernel
(``mindocr/postprocess/pse/pse.pyx``): seed labels are the 4-connected
components of the SMALLEST kernel (last channel, labeled by the shared
row-run union-find ``imaging.label_runs``); labels below ``min_area``
are dropped; a BFS queue then grows labels outward one kernel at a time
(second-smallest ... largest/text mask), 4-neighborhood,
first-come-first-served — ties go to whichever label reaches a pixel first
in queue order, exactly like the reference.
"""

from __future__ import annotations

from collections import deque

import numpy as np

from .imaging import label_runs, run_pixels


def _components4(mask: np.ndarray) -> np.ndarray:
    """4-connected label map (:func:`label_runs` without diagonals), labels
    1.. numbered in raster order of each component's first pixel."""
    run_y, run_x0, run_x1, root = label_runs(mask, diagonal=False)
    label = np.zeros(mask.shape, dtype=np.int32)
    # a root is its component's first run, so ranking roots numbers the
    # components in raster order
    rank = np.unique(root, return_inverse=True)[1] + 1
    ys, xs = run_pixels(run_y, run_x0, run_x1)
    label[ys, xs] = np.repeat(rank, run_x1 - run_x0)
    return label


def pse_expand(kernels: np.ndarray, min_area: int = 0) -> np.ndarray:
    """kernels: uint8/bool (C, H, W), channel 0 = largest (text mask),
    channel C-1 = smallest. Returns int32 label map (H, W)."""
    c, h, w = kernels.shape
    label = _components4(kernels[-1] > 0)
    if min_area > 0:
        label[np.bincount(label.ravel())[label] < min_area] = 0
    pred = label.copy()
    ys, xs = np.nonzero(label > 0)
    que: deque[tuple[int, int]] = deque(zip(ys.tolist(), xs.tolist()))
    nxt: deque[tuple[int, int]] = deque()
    for k in range(c - 2, -1, -1):
        kern = kernels[k] > 0
        while que:
            y, x = que.popleft()
            lbl = pred[y, x]
            is_edge = True
            for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                ny, nx_ = y + dy, x + dx
                if ny < 0 or ny >= h or nx_ < 0 or nx_ >= w:
                    continue
                if not kern[ny, nx_] or pred[ny, nx_] > 0:
                    continue
                pred[ny, nx_] = lbl
                que.append((ny, nx_))
                is_edge = False
            if is_edge:
                nxt.append((y, x))
        que, nxt = nxt, que
    return pred
