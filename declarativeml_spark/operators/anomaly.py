"""Trailing-window rate-anomaly detection over an event log.

Shared by the ``DETECT ANOMALIES`` DSL statement (engine.py) and the
oracle-checked ``events_rate_anomalies`` query (queries/pipeline5.py)
so both paths compute the identical arithmetic: exact integer
sum/sum-of-squares over the trailing window, IEEE division for
mean/variance/z.

Scale: the window function runs over the AGGREGATED bucket series
(key-values x buckets rows), never over raw events — raw volume only
affects the one map-side-combinable groupBy that builds the series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def rate_anomalies(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    window_size: int = 24,
    min_full: int = 12,
    z_cut: float = 2.0,
) -> DataFrame:
    """(key, hour, n, z, is_anomaly): z-score of each hourly event
    count against the mean/stddev of the preceding ``window_size``
    hourly buckets of the same key; flagged when the trailing window
    holds >= ``min_full`` observations and |z| > ``z_cut``. The key
    column keeps its input name (``BY country`` yields a ``country``
    column, not a misnamed ``event_type``)."""
    from declarativeml_spark.queries.registry import sround

    h = df.groupBy(
        F.col(key_col).alias(key_col),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    tw = (
        Window.partitionBy(key_col)
        .orderBy("hour")
        .rowsBetween(-window_size, -1)
    )
    w = h.select(
        key_col,
        "hour",
        "n",
        F.sum("n").over(tw).cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).over(tw).cast("bigint").alias("sq"),
        F.count("n").over(tw).cast("bigint").alias("m"),
    ).filter(F.col("m") >= 2)
    mean = F.col("s").cast("double") / F.col("m")
    var = (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("m")
    ) / (F.col("m") - 1)
    zv = F.when(var > 0, (F.col("n").cast("double") - mean) / F.sqrt(var))
    z = w.withColumn("zv", zv)
    return z.select(
        key_col,
        "hour",
        "n",
        sround(F.col("zv"), 4).alias("z"),
        F.coalesce(
            (F.col("m") >= min_full) & (F.abs(F.col("zv")) > F.lit(z_cut)),
            F.lit(False),
        ).alias("is_anomaly"),
    )
