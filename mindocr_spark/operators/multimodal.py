"""Multimodal column operators: opaque ``binary`` payloads + typed metadata.

Image decode is REAL (our PNG codec). Audio/video decode is STUBBED — the
container has no codec libraries — but the Spark-side plumbing (schemas,
Arrow batching, partitioning, UDF signatures, batch shapes) is real and
tested, with a clearly-marked deterministic fake behind
``MULTIMODAL_FAKE_DECODE`` (default) or ``NotImplementedError`` when
``strict=True``. Swapping in a real codec is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import spread
from ..functions.imaging import resize_bilinear
from ..functions.phash import dhash64
from ..functions.png_codec import decode_png, encode_png

IMAGE_META_SCHEMA = (
    "media_ref string, width int, height int, channels int, n_bytes long, ok boolean"
)
IMAGE_RESIZE_SCHEMA = "media_ref string, image binary, width int, height int"
AUDIO_FEATURES_SCHEMA = (
    "media_ref string, duration_s double, n_windows int, features array<float>"
)
VIDEO_FRAMES_SCHEMA = "media_ref string, frame_idx int, frame binary"


def image_meta_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image) -> typed metadata; junk bytes yield ok=false."""
    for pdf in batches:
        rows = []
        for ref, blob in zip(pdf["media_ref"], pdf["image"]):
            try:
                img = decode_png(bytes(blob))
                h, w = img.shape[:2]
                c = 1 if img.ndim == 2 else img.shape[2]
                rows.append((ref, w, h, c, len(blob), True))
            except Exception:  # noqa: BLE001
                rows.append((ref, None, None, None, len(blob or b""), False))
        yield pd.DataFrame(
            rows, columns=["media_ref", "width", "height", "channels", "n_bytes", "ok"]
        )


def image_resize_iter(
    target_h: int = 64, target_w: int = 64
) -> "callable":
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["image"]):
                try:
                    img = decode_png(bytes(blob))
                except Exception:  # noqa: BLE001
                    continue
                if img.ndim == 3:
                    img = img.mean(axis=2).astype(np.uint8)
                out = np.clip(
                    resize_bilinear(img, target_h, target_w), 0, 255
                ).astype(np.uint8)
                rows.append((ref, encode_png(out), target_w, target_h))
            yield pd.DataFrame(
                rows, columns=["media_ref", "image", "width", "height"]
            )

    return run


def _fake_pcm(blob: bytes, n: int) -> np.ndarray:
    """DETERMINISTIC FAKE decoder: derives a pseudo-signal from a hash of
    the payload. Stands in for an audio codec (unavailable here); replace
    with a real decoder to productionize."""
    seed = int.from_bytes(hashlib.sha256(blob).digest()[:8], "big")
    rng = np.random.RandomState(seed % (2**31 - 1))
    return rng.randn(n).astype(np.float32)


def audio_features_iter(strict: bool = False) -> "callable":
    """(media_ref, audio binary) -> windowed RMS features.

    The FFT/windowing pipeline (frame -> window -> energy) is real numpy;
    only the codec is faked/stubbed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["audio"]):
                if strict:
                    raise NotImplementedError(
                        "audio decode requires a codec library not present "
                        "in this environment (STUB; see module docstring)"
                    )
                blob = bytes(blob)
                sr = 16000
                n = max(len(blob), sr)  # pretend 1 byte ~ 1 sample, >=1s
                pcm = _fake_pcm(blob, min(n, sr * 4))
                win = sr // 10
                n_windows = len(pcm) // win
                frames = pcm[: n_windows * win].reshape(n_windows, win)
                rms = np.sqrt((frames**2).mean(axis=1))
                rows.append(
                    (ref, float(len(pcm) / sr), int(n_windows),
                     [float(x) for x in rms])
                )
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "duration_s", "n_windows", "features"],
            )

    return run


def video_frame_sample_iter(every_n: int = 10, strict: bool = False) -> "callable":
    """(media_ref, video binary) -> sampled 'frames' (PNG bytes).

    Frame-sampling plumbing is real (one output row per sampled frame, frame
    index carried); the frame decoder is a DETERMINISTIC FAKE (hash-seeded
    gradient images) — replace with a real demuxer to productionize."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["video"]):
                if strict:
                    raise NotImplementedError(
                        "video decode requires a codec library not present "
                        "in this environment (STUB; see module docstring)"
                    )
                blob = bytes(blob)
                n_frames = max(1, len(blob) // 1000)
                seed = int.from_bytes(hashlib.sha256(blob).digest()[:4], "big")
                for idx in range(0, n_frames, every_n):
                    v = (seed + idx) % 251
                    frame = np.full((16, 16), v, dtype=np.uint8)
                    rows.append((ref, idx, encode_png(frame)))
            yield pd.DataFrame(rows, columns=["media_ref", "frame_idx", "frame"])

    return run


def image_meta(df: DataFrame) -> DataFrame:
    """(media_ref, image) DataFrame -> typed metadata DataFrame."""
    return df.select("media_ref", "image").mapInPandas(
        image_meta_iter, IMAGE_META_SCHEMA
    )


def image_resize(df: DataFrame, target_h: int = 64, target_w: int = 64) -> DataFrame:
    return df.select("media_ref", "image").mapInPandas(
        image_resize_iter(target_h, target_w), IMAGE_RESIZE_SCHEMA
    )


def audio_features(df: DataFrame, strict: bool = False) -> DataFrame:
    return df.select("media_ref", "audio").mapInPandas(
        audio_features_iter(strict), AUDIO_FEATURES_SCHEMA
    )


def video_frame_sample(df: DataFrame, every_n: int = 10, strict: bool = False) -> DataFrame:
    return df.select("media_ref", "video").mapInPandas(
        video_frame_sample_iter(every_n, strict), VIDEO_FRAMES_SCHEMA
    )


# --- Perceptual image near-dup ------------------------------------------------

PHASH_HAMMING_MAX = 3
IMAGE_DHASH_SCHEMA = "media_ref string, dhash long, ok boolean"


def image_dhash_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_ref, image) -> (media_ref, dhash, ok): the shared dHash kernel
    (``functions/phash.py``) per payload; one that fails to decode or hash
    yields ``ok = false`` and ``dhash = 0``."""
    for pdf in batches:
        refs, sigs, oks = [], [], []
        for ref, blob in zip(pdf["media_ref"], pdf["image"]):
            try:
                sig, ok = dhash64(decode_png(bytes(blob))), True
            except Exception:  # noqa: BLE001 - undecodable payload
                sig, ok = 0, False
            refs.append(ref)
            sigs.append(sig)
            oks.append(ok)
        yield pd.DataFrame({"media_ref": refs, "dhash": sigs, "ok": oks})


def image_dhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash per decodable media payload of the derived corpus —
    the multimodal-column twin of ``simhash_signatures``: the signature
    the image-dedup path banks per ingested image.  PDFs/corrupt payloads
    are skipped with the decode node's tolerance (``ok = false`` rows are
    simply absent, like the reference's decode-failure skip).

    Plan: one explicit repartition of the media table (CPU-bound Python
    stage — the CLAUDE.md invariant), one Arrow-batched mapInPandas over
    the shared pure-numpy kernel (``functions/phash.py``), no shuffle
    after. Rows-only surface: a PNG decode has no SQL mirror; the kernel
    is exact-pinned in pytest (identity / noise / distinct fixtures)."""
    from ..data.derive_corpus import derive_corpus

    _, media = derive_corpus(spark, sf_dir)
    return (
        spread(media, "media_ref")
        .select("media_ref", "image")
        .mapInPandas(image_dhash_iter, IMAGE_DHASH_SCHEMA)
        .filter("ok")
        .drop("ok")
    )


def image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs: dHash signatures -> Manku C(7,4)
    combination tables (>= 2^36 keys per table) -> combo equi-join ->
    exact ``bit_count(xor) <= 3`` filter — the ``simhash64_near_dup``
    recipe applied to the media column.  Rendered pages repeat across
    documents, so identical dHashes form large clusters: the case
    ``dedup.exact_hamming_pairs`` keeps from multiplying through the 35
    tables.  At 10^12 images the combo table is the stored state and
    arriving images probe it
    (:func:`mindocr_spark.streaming.incremental.stream_image_dedup_flags`)."""
    from .dedup import MANKU64_BLOCKS, exact_hamming_pairs

    return exact_hamming_pairs(
        image_dhash_signatures(spark, sf_dir),
        MANKU64_BLOCKS,
        PHASH_HAMMING_MAX,
        id_col="media_ref",
        sig_col="dhash",
        a_name="ref_a",
        b_name="ref_b",
    )
