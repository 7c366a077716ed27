"""Pipeline constants.

Values mirror the reference defaults:

- ``BINARY_THRESH`` / ``BOX_THRESH`` / ``MAX_CANDIDATES`` / ``EXPAND_RATIO``:
  DBPostprocess defaults (reference ``tools/infer/text/postprocess.py:17-34``,
  ``mindocr/postprocess/det_db_postprocess.py:16-60``).
- ``DROP_SCORE``: system-pipeline confidence filter (reference
  ``tools/infer/text/config.py:123``, applied ``predict_system.py:327-336``).
- ``CHARSET``: default 36-char lowercase-alnum dict; ``REC_VOCABS``: each
  rec head's class layout, its special tokens around ``CHARSET`` (reference
  ``mindocr/postprocess/rec_postprocess.py``: CTC blank appended last
  :57-99, attn :255-366, master :363-460, sar :494-547).
- ``REC_TARGET_HEIGHT``: recognition input height (reference
  ``mindocr/data/transforms/rec_transforms.py:548-636`` uses 32 for CRNN).
- ``DET_LIMIT_SIDE`` / divisor 32: DetResize defaults (reference
  ``mindocr/data/transforms/det_transforms.py:375-550``).
"""

from __future__ import annotations

import inspect
from functools import wraps
from itertools import repeat

# --- detection ---------------------------------------------------------
BINARY_THRESH = 0.3
BOX_THRESH = 0.6
MAX_CANDIDATES = 1000
EXPAND_RATIO = 1.5
MIN_SIDE_BEFORE_UNCLIP = 3
MIN_SIDE_AFTER_UNCLIP = 5
DET_LIMIT_SIDE = 960
DET_DIVISOR = 32

# --- recognition -------------------------------------------------------
CHARSET = "0123456789abcdefghijklmnopqrstuvwxyz"
REC_VOCABS = {
    "ctc": (*CHARSET, "<blank>"),
    "attn": ("<GO>", "<STOP>", *CHARSET),
    "master": ("<GO>", "<STOP>", "<PAD>", *CHARSET),
    "sar": (*CHARSET, "<UKN>", "<BOS/EOS>", "<PAD>"),
}
NUM_CLASSES = len(REC_VOCABS["ctc"])
BLANK_IDX = REC_VOCABS["ctc"].index("<blank>")
REC_TARGET_HEIGHT = 32
REC_MAX_WH_RATIO = 32.0  # width cap = target_h * max_wh_ratio

# --- classification ----------------------------------------------------
CLS_LABELS = ("0", "180")
CLS_THRESH = 0.9  # rotate only when confident (reference predict_system.py:300-304)

# --- merge -------------------------------------------------------------
DROP_SCORE = 0.5
SORTED_BOXES_YTOL = 10  # same-line tolerance (reference utils.py:95-103)

# --- media decode ------------------------------------------------------
# PNG pixel budget (width x height), checked on the IHDR before any IDAT is
# inflated, so a small decompression bomb cannot exhaust a Python worker.
# The largest page the corpus generators emit is a 160 x 480 ruled table
# (76,800 px); 2^24 px (4096 x 4096) also covers a 300-dpi A4 scan
# (2480 x 3508).
MAX_PNG_PIXELS = 1 << 24
# Inflated-size budget of one PDF FlateDecode stream; a larger stream is
# skipped, as a corrupt one is. The corpus generators' PDFs are all
# FlateDecode and at most ~700 bytes each (derived corpus at sf0.1: 629
# bytes, its content streams inflate to at most 60 bytes; 4000 gen_corpus
# docs: 703 bytes, 181 inflated). 1 MiB also holds the content stream of
# a text-heavy real page (tens of KB); inflating up to the budget briefly
# holds about twice it.
MAX_PDF_STREAM_BYTES = 1 << 20

# --- spark tuning ------------------------------------------------------
# Arrow batch sizing: measured 64 -> 512 gives ~16% on the OCR stage (fewer
# per-batch pandas assemblies); 256 balances that against per-task memory
# when media rows are large (256 x 100KB images = ~26MB per in-flight batch)
ARROW_MAX_RECORDS = 256
SHUFFLE_PARTITIONS = 32


def spread(df, *keys):
    """Hash-repartition ``df`` on ``keys`` over 2x the task slots. Every
    CPU-bound Python stage (mapInPandas, pandas UDF) and every compact table
    exploded into a heavy projection goes through here: AQE sizes
    partitions by bytes and would coalesce a small table of large or
    expensive rows onto one core."""
    return df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism, *keys)


def _schema_columns(schema: str) -> list[str]:
    """The top-level field names of a DDL schema string (commas inside
    ``<...>`` belong to nested types)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            names.append(schema[start:i].split()[0])
            start = i + 1
    return names


def row_stage(schema: str):
    """Decorator: a per-row function -> the ``mapInPandas`` function over
    Arrow batches, ``df.mapInPandas(fn, schema)``. This is the one batch
    loop of every per-row Python stage.

    The row function's parameters name its input columns; one with a
    default is optional, and a batch without that column reads the default
    (older corpora lack ``profile``). A missing required column raises
    ``KeyError`` on the first batch; other input columns are ignored. The
    row function yields zero or more output tuples per row, in ``schema``
    order; each batch yields one frame, zero-row included. The batch
    function keeps the row function's name, so plan nodes read it."""
    columns = _schema_columns(schema)

    def decorate(row_fn):
        inputs = [
            (p.name, p.default) for p in inspect.signature(row_fn).parameters.values()
        ]

        @wraps(row_fn)
        def batches_fn(batches):
            import pandas as pd

            for pdf in batches:
                cols = []
                for name, default in inputs:
                    if name in pdf.columns:
                        cols.append(pdf[name].tolist())
                    elif default is not inspect.Parameter.empty:
                        cols.append(repeat(default, len(pdf)))
                    else:
                        raise KeyError(f"{row_fn.__name__}: no input column {name!r}")
                yield pd.DataFrame(
                    [out for row in zip(*cols) for out in row_fn(*row)],
                    columns=columns,
                )

        return batches_fn

    return decorate


def persist_intermediate(df):
    """Storage policy for an in-query intermediate that several branches of
    one plan read, where a cache pays for itself.

    Most shared intermediates need none: where the shared subtree ends in a
    shuffle, Spark's exchange reuse (``ReusedExchange``) already builds it
    once per query, and a cache only adds the block writes and reads. What
    exchange reuse cannot share is work ABOVE the last exchange, such as the
    shingle explode + distinct that runs inside ``_shingles``' doc_id
    partitioning. A site calls this only where a paired A/B
    (``tools/persist_ab.py``, ``BENCH_persist_ab.json``) showed removing it
    costs one of its operators CPU.

    MEMORY_AND_DISK: spill to local disk rather than recompute, so blocks
    degrade gracefully when the table exceeds executor memory; past total
    cluster disk the escalation is an explicit checkpoint to the job's
    scratch table, not a bigger cache. A plan test asserts the
    InMemoryRelation is present at the sites that keep it
    (tests/test_plan_quality.py)."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)
