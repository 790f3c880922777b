"""Streaming session aggregation: ``session_window_stats``, the
operator behind the SESSIONIZE statement and the oracle-checked
``events_user_sessions`` query, runs unchanged on a batch or a
streaming frame.

The reference's streaming surface is spec-only (events + agents,
reference: EXTENSIONS.md:186-224, DISTRIBUTED.md:87-195); this is the
beyond-parity session aggregation (SURVEY.md §7.5) lifted onto
Structured Streaming, so events ingested continuously get the same
sessions as the batch statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ensure_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); event-time columns routed
    through the catalog normalization arrive as TIMESTAMP_NTZ
    (sources/catalog.py — on this runtime TIMESTAMP(NANOS) parquet
    reads as a nanos bigint under the required legacy conf and is
    converted to NTZ there; there is no native NTZ read).

    The NTZ wall-clock is interpreted AS UTC (not as session-local
    time): a bare ``cast(ntz AS timestamp)`` would shift every
    instant by the session offset, so session boundaries rendered
    under a fractional-offset session timezone (Asia/Kolkata) would
    diverge from the NTZ wall clock. Pinning through UTC makes every
    instant's UTC rendering equal the original wall clock, so
    ``_wall_label`` renderings are session-timezone-independent
    (identity under a UTC session — the same foreign-session hazard
    catalog.py:118 guards)."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(
            ts_col,
            F.convert_timezone(
                F.lit("UTC"), F.current_timezone(), F.col(ts_col)
            ).cast("timestamp"),
        )
    return stream


def _wall_label(col, fmt: str):
    """Render an event-time instant's ORIGINAL wall clock (the NTZ
    value ``_ensure_event_time`` pinned through UTC), independent of
    the session timezone: cast renders in session tz, convert shifts
    that rendering back to UTC."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.date_format(
        F.convert_timezone(
            F.current_timezone(), F.lit("UTC"), c.cast("timestamp_ntz")
        ),
        fmt,
    )


def session_window_stats(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Per-key session aggregation with Spark's native
    ``session_window`` (dynamic-gap windows that close ``gap`` after
    the last event).

    Works identically on a batch frame (``streaming=False``) so tests
    assert stream == batch on the same rows.

    Scale: state per OPEN session only — the watermark closes and
    evicts sessions past the late horizon; the shuffle carries
    (key, ts, value) and session merging happens inside the state
    store, which is exactly how this survives a 100 TB/day event
    firehose where a global sessionize-by-sort cannot.
    """
    df = _ensure_event_time(df, ts_col)
    if streaming:
        df = df.withWatermark(ts_col, watermark)
    from declarativeml_spark.queries.registry import dsum

    agg = df.groupBy(
        F.session_window(F.col(ts_col), gap), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        dsum(value_col, "value_sum"),
    )
    return agg.select(
        F.col(key_col),
        _wall_label("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        _wall_label("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "value_sum",
    )


