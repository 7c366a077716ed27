"""Perceptual image hashing (difference hash) — pure numpy.

dHash (Krawetz): area-mean pool the grayscale image to an 8x9 grid, take
the sign of each horizontal gradient -> 64 bits.  Robust to re-encoding,
resizing and small noise; two encodings of the same page land within a
few bits.  All arithmetic is integer/float64-exact and deterministic:
integer cell boundaries (``(i * dim) // cells``), exact float64 sums for
cell means, strict ``>`` for the gradient sign — no resampling filters,
no library dependence (cv2/PIL absent by design, CLAUDE.md).

The 64-bit signature is returned as a SIGNED int64 (Spark LongType bit
pattern) so the banded near-dup join reuses the simhash64 machinery.
"""

from __future__ import annotations

import numpy as np

DHASH_ROWS = 8
DHASH_COLS = 9  # 8 horizontal gradients per row -> 64 bits


def _pool_mean(gray: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Area-mean pooling with integer cell boundaries (exact, no resample)."""
    h, w = gray.shape
    rb = [(i * h) // rows for i in range(rows + 1)]
    cb = [(j * w) // cols for j in range(cols + 1)]
    out = np.empty((rows, cols), dtype=np.float64)
    g = gray.astype(np.float64)
    for i in range(rows):
        r0, r1 = rb[i], max(rb[i + 1], rb[i] + 1)
        for j in range(cols):
            c0, c1 = cb[j], max(cb[j + 1], cb[j] + 1)
            out[i, j] = g[r0:r1, c0:c1].mean()
    return out


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash of an image array ((H,W) uint8 gray or
    (H,W,3) RGB — channels averaged). Signed int64 bit pattern."""
    if img.ndim == 3:
        gray = img.astype(np.float64).mean(axis=2)
    else:
        gray = img.astype(np.float64)
    cells = _pool_mean(gray, DHASH_ROWS, DHASH_COLS)
    bits = cells[:, 1:] > cells[:, :-1]  # (8, 8) horizontal gradient signs
    v = 0
    for b in bits.reshape(-1):
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v
