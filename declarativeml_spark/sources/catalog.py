"""Parquet catalog over the driver's synthetic tables.

The reference delegates all storage to PostgreSQL relations
(reference: dsl/parser.py:201-220 treats FROM as a table identifier or
SQL fragment). Here the source of truth is a directory of parquet
files; ``register_views`` makes them resolvable by name so both the
DataFrame API and ``spark.sql`` passthrough queries work.

Parquet scans get predicate pushdown + column pruning from Catalyst
for free — at 100 TB this is the difference between scanning a column
slice vs. the whole table, so nothing here materializes or caches
eagerly.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Raw parquet schemas read in one application: ``{"app": application
#: id, "schemas": {path: (fingerprint, StructType)}}``. A different
#: application id empties it, so entries never outlive their
#: SparkContext.
_SCHEMA_MEMO: dict = {"app": None, "schemas": {}}


def _fingerprint(path: str):
    """What the bytes under ``path`` look like to ``os.stat``: a
    file's ``(size, mtime_ns)``, or a directory tree's sorted
    ``(relative name, size, mtime_ns)`` listing. ``None`` when the
    path cannot be seen locally (missing, a non-local URI, or a file
    that vanished mid-listing)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        listing = []
        for d, _, files in os.walk(path):
            for n in files:
                f = os.path.join(d, n)
                fst = os.stat(f)
                rel = os.path.relpath(f, path)
                listing.append((rel, fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(listing))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    on a warm read: the schema the first read inferred is supplied to
    the reader for as long as the application and the bytes on disk
    are the same. A supplied schema equal to the inferred one gives
    the same plan, so results do not change."""
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    app = spark.conf.get("spark.app.id")  # no sparkContext under Connect
    if _SCHEMA_MEMO["app"] != app:
        _SCHEMA_MEMO["app"], _SCHEMA_MEMO["schemas"] = app, {}
    schemas = _SCHEMA_MEMO["schemas"]
    hit = schemas.get(path)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[path] = (fp, df.schema)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Lazily load one table from a scale-factor directory.

    ``spread=True`` re-spreads a single-split scan across the cluster
    (textops.spread) for callers whose FIRST stage is CPU-heavy
    per-row work (tokenize, shingle, vector folds) — a small parquet
    file arrives as one input split with one row group, so that stage
    would otherwise run on a single core. No-op once the scan splits
    at real scale; only for plans whose downstream is key-based
    (groupBy/join on columns, placement-independent) or a pure
    per-row map (mapInPandas codec chains) — the relaxed contract
    textops.spread documents; never for plans that depend on
    partition placement or row order.

    The raw parquet schema is memoized per application (see
    ``read_parquet``): the first read of a file infers it with a
    one-task Spark job, and every later read of the same bytes passes
    it to ``spark.read.schema(...)`` and runs no job at all. A
    rewritten file (new size, mtime or, for a directory, listing), a
    new SparkContext, or a path ``os.stat`` cannot see (missing, or a
    non-local URI) all read with inference exactly as before, so a
    missing table still raises the reader's PATH_NOT_FOUND.

    ``events.ts`` is parquet TIMESTAMP(NANOS). On the current runtime
    (verified on Spark 4.1.2) that type is UNREADABLE without
    ``spark.sql.legacy.parquet.nanosAsLong`` — the scan throws
    PARQUET_TYPE_ILLEGAL — and WITH the conf it arrives as a nanos
    BIGINT; there is no native NTZ read. The conf set below is
    therefore load-bearing for every session not built by
    session.py, not merely defensive. Note the set is session-wide
    and deliberately NOT restored: Spark captures SQLConf at query
    EXECUTION, so restoring it after the read would break this very
    DataFrame's later jobs — the trade is that other
    TIMESTAMP(NANOS) sources read in the same session also arrive as
    bigint (loudly typed, never silently shifted). Either way ``ts``
    normalizes to TIMESTAMP_NTZ — the tz-independent type whose
    wall-clock values match DuckDB's reading of the same file — so
    every downstream query sees one canonical ``ts`` regardless of
    who built the session, what its timezone is, or whether the
    schema came from the memo.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Callers (the correctness driver included) may hand us a session
        # built without the nanos conf; REQUIRED on this runtime (see
        # docstring) or the scan throws PARQUET_TYPE_ILLEGAL.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception as exc:  # pragma: no cover - conf locked down
            import warnings

            warnings.warn(
                "could not set spark.sql.legacy.parquet.nanosAsLong on this"
                f" session ({exc}); reading events.parquet may fail with a"
                " TIMESTAMP(NANOS) error",
                RuntimeWarning,
                stacklevel=2,
            )
    df = read_parquet(spark, path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos long -> NTZ via pure wall-clock arithmetic (no
            # session-timezone dependence, unlike timestamp_micros).
            # Integer DIV, not FLOOR(ts / 1000): bigint/1000 is IEEE
            # double division, which rounds ns beyond 2^53 to 256-ns
            # multiples BEFORE the floor — ~12% of 2026-era values
            # land one microsecond high, silently diverging from
            # DuckDB's exact parquet ns->us conversion. DIV truncates
            # toward zero == floor for the post-1970 epochs events
            # carry.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND,"
                    " ts DIV 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif ts_type == "timestamp":
            # a legacy INT96/LTZ reading; reinterpret as the UTC
            # wall-clock of the instant. The bare cast renders in the
            # SESSION timezone — under a non-UTC foreign session that
            # silently shifted ts hours away from DuckDB's UTC reading
            # of the same file (verified repro: 4h off under
            # America/New_York); routing through convert_timezone
            # pins the wall-clock to UTC in any session
            df = df.withColumn(
                "ts",
                F.expr(
                    "convert_timezone(current_timezone(), 'UTC',"
                    " cast(ts as timestamp_ntz))"
                ),
            )
    if spread:
        from declarativeml_spark.operators.textops import spread as _spread

        df = _spread(df)
    return df


#: Epoch microseconds from a TIMESTAMP_NTZ column, as pure wall-clock
#: arithmetic — bit-identical to DuckDB's ``epoch_us`` on the same
#: parquet values in ANY session timezone (``unix_micros`` rejects NTZ
#: and would be tz-shifted anyway).
def epoch_us(col: str) -> F.Column:
    # the inner cast is a no-op for NTZ input but stops silent
    # session-tz coercion when a caller hands an LTZ column (the
    # NTZ-literal comparison would otherwise coerce via the session
    # timezone and shift the result)
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" cast({col} as timestamp_ntz))"
    )


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each parquet table as a temp view named after itself.

    Missing tables are skipped with a WARNING naming them — the old
    ``os.path.exists`` gate was local-filesystem-only (an s3://hdfs://
    ``sf_dir`` registered ZERO views while returning success) and a
    typo'd directory failed only later as TABLE_OR_VIEW_NOT_FOUND
    with no hint. Existence is now probed by the reader itself, so
    any Hadoop-supported filesystem works."""
    from pyspark.errors.exceptions.captured import AnalysisException

    missing = []
    for name in tables:
        try:
            df = load_table(spark, sf_dir, name)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA" in str(exc):
                missing.append(name)
                continue
            raise
        df.createOrReplaceTempView(name)
    if missing:
        import warnings

        warnings.warn(
            f"register_views: no parquet found under {sf_dir!r} for"
            f" {missing} — these views were NOT registered",
            RuntimeWarning,
            stacklevel=2,
        )
