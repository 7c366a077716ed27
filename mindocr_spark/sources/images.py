"""Label-less image-directory source (PredictDataset analogue).

The reference recursively globs ``.jpg/.png/.jpeg`` sorted by path
(``tools/infer/text/utils/utils.py:13-33``; ``predict_dataset.py:14-38``).
Spark-native equivalent: the ``binaryFile`` data source with a path glob —
distributed read, predicate pushdown on path/size, no driver-side listing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import spread


def read_image_dir(spark: SparkSession, img_dir: str) -> DataFrame:
    """-> (media_ref string, image binary) per png/jpg/jpeg file under
    ``img_dir``, media_ref = file path, ordered like the reference's sorted
    glob."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{png,jpg,jpeg}")
        .option("recursiveFileLookup", "true")
        .load(img_dir)
    )
    return df.select(
        F.col("path").alias("media_ref"), F.col("content").alias("image")
    ).orderBy("media_ref")


def predict_image_dir(spark: SparkSession, img_dir: str) -> DataFrame:
    """Directory-of-images -> per-image OCR records (the predict_det/
    predict_system CLI analogue): (media_ref, transcription, score, points)."""
    from ..operators.media_path import OCR_RECORDS_SCHEMA, ocr_records_iter

    media = read_image_dir(spark, img_dir)
    return spread(media, "media_ref").mapInPandas(
        ocr_records_iter, OCR_RECORDS_SCHEMA
    )
