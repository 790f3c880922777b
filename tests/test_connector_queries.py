"""Plan-shape assertions for the round-8 connector queries: the
correctness side is driver-hash-checked; these pin the PHYSICAL
properties the queries exist to demonstrate."""

from __future__ import annotations

import contextlib
import io

from declarativeml_spark.queries import QUERIES


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_reread_prunes(spark, sf_dir):
    plan = _formatted(
        QUERIES["connector_partitioned_sink_pruning"](spark, sf_dir)
    )
    assert "PartitionFilters: [isnotnull(o_year" in plan
    assert "o_year" in plan.split("PartitionFilters", 1)[1][:120]


def test_bucketed_join_reads_co_partitioned(spark, sf_dir):
    """With broadcast disabled, the bucketed fact-fact join must be a
    SortMergeJoin with NO Exchange below it — the bucket layout
    satisfies the clustering requirement on both sides."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted(QUERIES["connector_bucketed_join"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    # the formatted tree prints parents first: the join's INPUT
    # subtree (scans, filters, sorts) is every tree line AFTER the
    # SortMergeJoin line — no Exchange may appear there (the exchange
    # above the join, for the final aggregation, is expected)
    tree = plan.split("\n\n", 1)[0].splitlines()
    join_at = next(
        i for i, ln in enumerate(tree) if "SortMergeJoin" in ln
    )
    below = "\n".join(tree[join_at + 1 :])
    assert "Exchange" not in below, below
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_csv_fixture_reuses_marker(spark, sf_dir, tmp_path, monkeypatch):
    """fixture_dir materializes once: a second call with the same key
    must not re-invoke the writer."""
    import tempfile

    from declarativeml_spark.queries.fixtures import fixture_dir

    # the fixture cache lives in the system tempdir and outlives the
    # run; a later run handed the same tmp_path path (pytest reuses
    # its numbered dirs) would find this run's markers
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    calls = []

    def write(d):
        calls.append(d)

    d1 = fixture_dir("unit", f"{tmp_path}|k1", write)
    d2 = fixture_dir("unit", f"{tmp_path}|k1", write)
    d3 = fixture_dir("unit", f"{tmp_path}|k2", write)
    assert d1 == d2 and len(calls) == 2 and d3 != d1
