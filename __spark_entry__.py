"""Driver contract for the spark-graft builder (PySpark target).

queries() covers SURVEY.md §2's operator inventory — every select-
pipeline function, set algebra, where, time ranges, head/tail, merge —
running through the REAL engine (SiriEngine.select_df), plus the
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) and TPC-H-style analytics queries.
oracle_sql() gives the DuckDB-equivalent of every entry.

Each entry is declared once, with its family, Spark body and oracle,
in a family module of the ``registry`` package; this module only
assembles them in the driver's name sequence (``registry.ORDER``).

Float columns are rounded identically on both sides (sum→4dp,
ratios/moments→6dp) so value-hashes are insensitive to summation
order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import registry
from registry._common import _eng


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-series hourly mean/max fan-out with prefixes over
    sf0.001 — multi-pipeline select through the full engine."""
    eng = _eng(spark, "/root/testdata/sf0.001")
    df = eng.select_df(
        'select mean(1h) prefix "m-", max(1h) prefix "x-" from /.*/')
    return df.select("series", "ts",
                     (F.round(F.col("val_dbl"), 6)
                      + F.lit(0.0)).alias("val"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: e.body for n, e in registry.entries().items()
            if e.body is not None}


def oracle_sql() -> dict[str, str]:
    return {n: e.oracle for n, e in registry.entries().items()
            if e.body is not None}
