"""sources/catalog.py contracts: nanos normalization, tz
independence, view registration (round-10 review sweep), and the
per-application parquet schema memo."""

import warnings

import pytest
from pyspark.sql import functions as F

from declarativeml_spark.sources.catalog import (
    epoch_us,
    load_table,
    register_views,
)


def test_events_ts_is_ntz_and_epoch_us_matches_duckdb(spark, smoke_dir):
    import duckdb

    df = load_table(spark, smoke_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = sorted(
        r.e for r in df.select(epoch_us("ts").alias("e")).limit(50).collect()
    )
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT epoch_us(ts) FROM read_parquet('{smoke_dir}/events.parquet')"
            " LIMIT 50"
        ).fetchall()
    )
    # same file, same normalization — driver-oracle equality in微
    assert got[:10] == want[:10]


def test_ltz_reinterpretation_is_session_tz_independent(spark):
    """The legacy LTZ->NTZ branch must pin wall-clock to UTC in ANY
    session timezone (a bare cast rendered in the session tz and
    silently shifted ts by the UTC offset)."""
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        out = spark.sql(
            "SELECT convert_timezone(current_timezone(), 'UTC',"
            " cast(timestamp'2025-07-31 22:13:20.123456 UTC'"
            " as timestamp_ntz)) AS w"
        ).first().w
        assert str(out) == "2025-07-31 22:13:20.123456"
    finally:
        spark.conf.set(tz_key, prev)


def test_epoch_us_tolerates_ltz_input(spark):
    """epoch_us must not silently session-tz-coerce an LTZ column
    (the inner NTZ cast is a no-op for NTZ input)."""
    df = spark.sql(
        "SELECT timestamp'2020-01-01 00:00:00 UTC' AS t_ltz,"
        " timestamp_ntz'2020-01-01 00:00:00' AS t_ntz"
    )
    row = df.select(
        epoch_us("t_ltz").alias("a"), epoch_us("t_ntz").alias("b")
    ).first()
    assert row.a == row.b == 1577836800000000


def test_register_views_warns_on_missing_tables(spark, tmp_path, smoke_dir):
    """A directory missing tables must WARN naming them, not silently
    succeed having registered nothing (the os.path.exists gate was
    also local-filesystem-only)."""
    d = str(tmp_path / "partial_sf")
    load_table(spark, smoke_dir, "region").write.parquet(
        f"{d}/region.parquet"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        register_views(spark, d, tables=("region", "nation"))
    msgs = [str(x.message) for x in w if "register_views" in str(x.message)]
    assert msgs and "nation" in msgs[0]
    assert spark.table("region").count() > 0
    # again, with region's schema memoized: the missing table still
    # reaches the reader's PATH_NOT_FOUND and still warns
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        register_views(spark, d, tables=("region", "nation"))
    msgs = [str(x.message) for x in w if "register_views" in str(x.message)]
    assert msgs and "nation" in msgs[0] and "region" not in msgs[0]
    # restore the real views for other modules sharing the session
    register_views(spark, smoke_dir)


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _sorted_rows(df):
    return sorted(df.collect(), key=repr)


def test_warm_load_table_runs_no_job_and_matches_inferred_read(spark, smoke_dir):
    load_table(spark, smoke_dir, "orders")  # first touch may infer
    j0 = _jobs(spark)
    warm = load_table(spark, smoke_dir, "orders")
    assert _jobs(spark) - j0 == 0
    inferred = spark.read.parquet(f"{smoke_dir}/orders.parquet")
    assert warm.schema == inferred.schema
    assert _sorted_rows(warm) == _sorted_rows(inferred)


def test_rewritten_parquet_is_seen_on_next_load(spark, tmp_path):
    """A table rewritten mid-session with other columns is read with
    its new schema: the memo key carries the bytes' size and mtime
    (a file) or listing (a directory)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    f = f"{d}/t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), f)
    assert load_table(spark, d, "t").columns == ["a"]
    assert load_table(spark, d, "t").columns == ["a"]  # a memo hit
    pq.write_table(pa.table({"b": [4, 5], "c": ["x", "y"]}), f)
    assert load_table(spark, d, "t").collect() == [(4, "x"), (5, "y")]

    spark.range(3).toDF("a").write.parquet(f"{d}/u.parquet")
    assert load_table(spark, d, "u").columns == ["a"]
    spark.range(2).selectExpr("id AS b", "'z' AS c").write.mode(
        "overwrite"
    ).parquet(f"{d}/u.parquet")
    got = load_table(spark, d, "u")
    assert got.columns == ["b", "c"]
    assert sorted(got.collect()) == [(0, "z"), (1, "z")]


def test_memo_hit_on_events_keeps_ts_ntz(spark, smoke_dir):
    first = load_table(spark, smoke_dir, "events")
    j0 = _jobs(spark)
    hit = load_table(spark, smoke_dir, "events")
    assert _jobs(spark) - j0 == 0
    assert dict(hit.dtypes)["ts"] == "timestamp_ntz"

    def us(df):
        return sorted(r.e for r in df.select(epoch_us("ts").alias("e")).collect())

    assert us(hit) == us(first)


def test_partitioned_fixture_rebuild_runs_no_job_and_still_prunes(
    spark, smoke_dir
):
    """A second build of connector_partitioned_sink_pruning re-reads
    its cached partitioned fixture with the memoized schema: no
    schema-inference job, and the scan still prunes on the partition
    column."""
    import re

    from declarativeml_spark.queries import QUERIES

    build = QUERIES["connector_partitioned_sink_pruning"]
    build(spark, smoke_dir)  # writes the fixture, infers its schema once
    j0 = _jobs(spark)
    df = build(spark, smoke_dir)
    assert _jobs(spark) - j0 == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*o_year", plan), plan
