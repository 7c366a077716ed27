"""Readers/writers for the reference's golden TSV formats.

- det/system: ``<img>\\t<json [{"transcription","points"}]>`` — label files
  (``mindocr/data/det_dataset.py:19-24``) and system output
  (``tools/infer/text/predict_system.py:358-379``).
- rec: ``<img>\\t<text>`` (``mindocr/data/rec_dataset.py:1-43``).

Ignore-region convention: transcription ``###`` or ``*`` marks an ignored
box (``det_transforms.py:79-81``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

ANN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("transcription", StringType()),
            StructField("points", ArrayType(ArrayType(IntegerType()))),
        ]
    )
)


def read_det_gt(spark: SparkSession, path: str) -> DataFrame:
    """TSV label file -> (img, anns array<struct<transcription, points>>,
    with per-ann ignore flag materialized)."""
    raw = spark.read.csv(path, sep="\t", schema="img string, anns_json string")
    df = raw.select("img", F.from_json("anns_json", ANN_SCHEMA).alias("anns"))
    return df.withColumn(
        "anns",
        F.expr(
            "transform(anns, a -> struct(a.transcription as transcription, "
            "a.points as points, a.transcription in ('###', '*') as ignore))"
        ),
    )


def read_rec_gt(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.csv(path, sep="\t", schema="img string, label string")


def format_system_results(df: DataFrame) -> DataFrame:
    """(img, anns) -> one TSV line per image in save_res format:
    basename + tab + json list (predict_system.py:358-379)."""
    return df.select(
        F.concat_ws(
            "\t",
            F.element_at(F.split("img", "/"), -1),
            F.to_json("anns"),
        ).alias("value")
    )


def write_system_results(df: DataFrame, path: str) -> None:
    format_system_results(df).coalesce(1).write.mode("overwrite").text(path)
