"""Text-span path: batched HTML boilerplate strip as a pandas UDF.

Vectorized over an Arrow batch of raw HTML strings (no per-row Python at
the Spark level — the batch loop lives inside the UDF, per
``BASELINE.json:input_hint``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions.html_text import extract_main_text


def _strip(raw: pd.Series) -> pd.Series:
    return raw.map(lambda s: extract_main_text(s) if s is not None else "")


def extract_main_text_udf(col: Column) -> Column:
    """The strip applied to ``col``. The pandas UDF is built per call: a
    module-level one caches its JVM function on first use, together with
    that SparkContext's Python accumulator, and every task of a later
    session would then report to the stopped context's closed socket."""
    # explicit DataType (not a DDL string): DDL parsing would require an
    # active SparkSession when the UDF is built
    return pandas_udf(_strip, StringType())(col)
