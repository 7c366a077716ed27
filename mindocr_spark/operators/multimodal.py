"""Multimodal column operators over opaque ``binary`` image payloads:
typed metadata from the PNG codec and dHash perceptual near-dup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import row_stage, spread
from ..functions.phash import dhash64
from ..functions.png_codec import decode_png

IMAGE_META_SCHEMA = (
    "media_ref string, width int, height int, channels int, n_bytes long, ok boolean"
)


@row_stage(IMAGE_META_SCHEMA)
def image_meta_iter(media_ref, image):
    """(media_ref, image) -> typed metadata; junk bytes yield ok=false."""
    try:
        img = decode_png(bytes(image))
    except Exception:  # noqa: BLE001
        yield media_ref, None, None, None, len(image or b""), False
        return
    c = 1 if img.ndim == 2 else img.shape[2]
    yield media_ref, img.shape[1], img.shape[0], c, len(image), True


def image_meta(df: DataFrame) -> DataFrame:
    """(media_ref, image) DataFrame -> typed metadata DataFrame."""
    return df.select("media_ref", "image").mapInPandas(
        image_meta_iter, IMAGE_META_SCHEMA
    )


# --- Perceptual image near-dup ------------------------------------------------

PHASH_HAMMING_MAX = 3
IMAGE_DHASH_SCHEMA = "media_ref string, dhash long, ok boolean"


@row_stage(IMAGE_DHASH_SCHEMA)
def image_dhash_iter(media_ref, image):
    """(media_ref, image) -> (media_ref, dhash, ok): the shared dHash kernel
    (``functions/phash.py``) per payload; one that fails to decode or hash
    yields ``ok = false`` and ``dhash = 0``."""
    try:
        sig, ok = dhash64(decode_png(bytes(image))), True
    except Exception:  # noqa: BLE001 - undecodable payload
        sig, ok = 0, False
    yield media_ref, sig, ok


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
    tables."""
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
