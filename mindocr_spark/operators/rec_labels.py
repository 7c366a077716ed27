"""Recognition label-encoding as a corpus query.

``RecCTCLabelEncode`` / ``RecAttnLabelEncode``
(``mindocr/data/transforms/rec_transforms.py:28-135, 233-318`` over
``str2idx`` :420-453) are the text -> padded-index-sequence prep a
training-data pipeline runs per crop label at corpus scale.  This
operator drives them PURE-CATALYST over the documents table — label =
the first four words of each document, which exercises every str2idx
path: valid labels, over-budget labels -> None (four 7-char words + 3
spaces exceed the 23-char budget), and the out-of-dictionary space
character being skipped — with the python kernels
(``functions/chardict.str2idx/ctc_label_encode/attn_label_encode``)
as the row-level ground truth and a DuckDB SQL mirror as the engine
oracle.  Sequences serialize as '-'-joined index strings so the result
is hashable by the driver comparator.

Scale shape: one projection over the corpus scan — no shuffle at all;
the per-row arrays are <= 25 elements (interpreted-HOF cost is nil at
this width)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BLANK_IDX, CHARSET
from ..functions.chardict import MAX_TEXT_LEN

_RAW = "array_join(slice(split(text, ' '), 1, 4), ' ')"


def rec_label_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    m = MAX_TEXT_LEN
    b = BLANK_IDX
    idx = (
        f"filter(transform(sequence(1, greatest(length(raw), 1)), "
        f"i -> instr('{CHARSET}', substring(raw, i, 1)) - 1), x -> x >= 0)"
    )
    return (
        docs.withColumn("raw", F.expr(_RAW))
        .withColumn(
            "ids",
            F.expr(
                f"CASE WHEN length(raw) BETWEEN 1 AND {m} THEN {idx} "
                f"ELSE array() END"
            ),
        )
        .select(
            "doc_id",
            F.col("raw").alias("label"),
            F.size("ids").alias("enc_len"),
            F.expr(
                f"array_join(concat(ids, array_repeat({b}, {m} - size(ids))),"
                f" '-')"
            ).alias("ctc_seq"),
            F.expr(
                f"array_join(concat(array(0), transform(ids, x -> x + 2), "
                f"array(1), array_repeat(0, {m} - size(ids))), '-')"
            ).alias("attn_seq"),
        )
    )


REC_LABEL_ENCODINGS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         array_to_string(string_split(text, ' ')[1:4], ' ') AS raw
  FROM documents
),
enc AS (
  SELECT doc_id, raw,
         CASE WHEN len(raw) BETWEEN 1 AND {MAX_TEXT_LEN} THEN
           list_filter(
             [strpos('{CHARSET}', raw[i]) - 1
              for i in range(1, len(raw) + 1)],
             x -> x >= 0)
         ELSE [] END AS ids
  FROM d
)
SELECT doc_id, raw AS label,
       len(ids)::INT AS enc_len,
       array_to_string(
         list_concat(ids,
                     [{BLANK_IDX} for _ in
                      range(1, {MAX_TEXT_LEN} - len(ids) + 1)]),
         '-') AS ctc_seq,
       array_to_string(
         list_concat(list_concat(list_concat([0],
                     list_transform(ids, x -> x + 2)), [1]),
                     [0 for _ in range(1, {MAX_TEXT_LEN} - len(ids) + 1)]),
         '-') AS attn_seq
FROM enc
"""
