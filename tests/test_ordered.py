"""Unit tests for the two-phase distributed cumulative-sum operator
(operators/ordered.py) — verified against the naive single-partition
global window it replaces, plus frame-sampling plumbing edge cases."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from declarativeml_spark.operators.ordered import global_cumsum


@pytest.mark.parametrize("num_partitions", [2, 5, 32])
def test_global_cumsum_matches_naive_window(spark, num_partitions):
    rows = [(i, (i * 7919) % 101, f"k{i:03d}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, k string")
    order = [F.col("v").desc(), F.col("k").asc()]

    got = global_cumsum(
        df, order, "v", out_col="cum", rank_col="rnk",
        num_partitions=num_partitions,
    )

    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w)).withColumn(
        "rnk", F.row_number().over(Window.orderBy(*order))
    )

    got_rows = {r["id"]: (r["cum"], r["rnk"]) for r in got.collect()}
    want_rows = {r["id"]: (r["cum"], r["rnk"]) for r in want.collect()}
    assert got_rows == want_rows


def test_global_cumsum_single_row(spark):
    df = spark.createDataFrame([(1, 10)], "id long, v long")
    out = global_cumsum(df, [F.col("v").asc()], "v", rank_col="rnk").collect()
    assert out[0]["cum"] == 10 and out[0]["rnk"] == 1


def test_sample_frames_every_n_and_partial_tail(spark):
    from declarativeml_spark.operators.multimodal import sample_frames

    # 40 bytes → 2 full 16-byte frames (frame 2 is a 8-byte partial,
    # dropped); every_n=2 keeps frame 0 only from the full frames 0,1
    payload = bytes(range(40))
    df = spark.createDataFrame([(1, payload)], "media_id long, payload binary")
    rows = sample_frames(df, every_n=2, codec="fake").collect()
    assert [(r["media_id"], r["frame_no"]) for r in rows] == [(1, 0)]
    assert rows[0]["frame"] == payload[:16]


def test_sample_frames_rejects_real_codec(spark):
    df = spark.createDataFrame([(1, b"x" * 32)], "media_id long, payload binary")
    with pytest.raises(NotImplementedError):
        sample = __import__(
            "declarativeml_spark.operators.multimodal", fromlist=["sample_frames"]
        )
        sample.sample_frames(df, codec="h264")


@pytest.mark.parametrize(
    "n,k", [(6, 4), (500, 4), (3, 4), (100, 7), (10, 1), (0, 4)]
)
def test_global_ntile_matches_naive_window(spark, n, k):
    """Exact NTILE parity including the remainder cases where the
    uniform 1+floor(k*(rank-1)/n) formula diverges (n=6, k=4), n<k,
    k=1 and empty input."""
    from declarativeml_spark.operators.ordered import global_ntile

    rows = [(i, (i * 7919) % 101) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.col("v").asc(), F.col("id").asc()]

    got = global_ntile(df, order, k, "b", num_partitions=5)
    want = df.withColumn("b", F.ntile(k).over(Window.orderBy(*order)))

    got_rows = {r["id"]: r["b"] for r in got.collect()}
    want_rows = {r["id"]: r["b"] for r in want.collect()}
    assert got_rows == want_rows


def test_global_rank_stable_across_runs(spark):
    """The frozen range partitioning must make repeated evaluations
    of the SAME operator output identical — the regression net for
    the cross-job boundary race (module docstring)."""
    from declarativeml_spark.operators.ordered import global_ntile

    # an unmaterialized shuffle feeds the operator: the hazard shape
    base = (
        spark.range(2000)
        .withColumn("g", F.col("id") % 97)
        .groupBy("g")
        .agg(F.sum("id").alias("v"))
    )
    out = global_ntile(
        base, [F.col("v").desc(), F.col("g").asc()], 4, "b", num_partitions=7
    )
    first = sorted((r["g"], r["b"]) for r in out.collect())
    for _ in range(3):
        assert sorted((r["g"], r["b"]) for r in out.collect()) == first


@pytest.mark.parametrize("n,k", [(6, 4), (500, 4), (3, 4), (100, 7), (10, 1)])
def test_ntile_assign_multi_matches_naive_windows(spark, n, k):
    """All-orderings-in-two-jobs NTILE parity: three metrics with
    mixed directions and heavy ties against three real windows."""
    from declarativeml_spark.operators.ordered import ntile_assign_multi

    rows = [
        (i, (i * 7919) % 11, (i * 31) % 7, float((i * 13) % 97) / 7.0)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c double")
    got = ntile_assign_multi(
        df,
        [("a", "asc", "qa"), ("b", "desc", "qb"), ("c", "desc", "qc")],
        tie="id",
        k=k,
        num_partitions=5,
    )
    want = df
    for m, d, out in [("a", "asc", "qa"), ("b", "desc", "qb"), ("c", "desc", "qc")]:
        mc = F.col(m).asc() if d == "asc" else F.col(m).desc()
        want = want.withColumn(
            out, F.ntile(k).over(Window.orderBy(mc, F.col("id").asc()))
        )
    g = {r["id"]: (r["qa"], r["qb"], r["qc"]) for r in got.collect()}
    w = {r["id"]: (r["qa"], r["qb"], r["qc"]) for r in want.collect()}
    assert g == w


def test_ntile_assign_multi_empty_input(spark):
    from declarativeml_spark.operators.ordered import ntile_assign_multi

    df = spark.createDataFrame([], "id long, a long")
    out = ntile_assign_multi(df, [("a", "asc", "qa")], tie="id", k=4)
    assert out.count() == 0 and "qa" in out.columns


def test_ntile_assign_property_random_shapes(spark):
    """Randomized NTILE parity sweep: a grid of (n, k, direction)
    shapes including heavy ties, all checked against the real window
    in one session."""
    import random

    rnd = random.Random(20260814)
    from declarativeml_spark.operators.ordered import ntile_assign_multi

    for trial in range(6):
        n = rnd.choice([1, 2, 7, 63, 256])
        k = rnd.choice([2, 3, 4, 10])
        mod = rnd.choice([2, 5, 1000])
        d = rnd.choice(["asc", "desc"])
        rows = [(i, (i * 2654435761) % mod) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long")
        got = ntile_assign_multi(df, [("v", d, "b")], "id", k,
                                 num_partitions=3)
        order = [
            F.col("v").asc() if d == "asc" else F.col("v").desc(),
            F.col("id").asc(),
        ]
        want = df.withColumn("b", F.ntile(k).over(Window.orderBy(*order)))
        g = {r["id"]: r["b"] for r in got.collect()}
        w = {r["id"]: r["b"] for r in want.collect()}
        assert g == w, (n, k, mod, d)


@pytest.mark.parametrize("k", [0, -3])
def test_ntile_rejects_nonpositive_k(spark, k):
    """k < 1 must be a typed ValueError from every NTILE entry point,
    not a ZeroDivisionError (global_ntile) or a cond-is-None filter
    crash (boundary keys)."""
    from declarativeml_spark.operators.ordered import (
        global_ntile,
        ntile_assign_multi,
    )

    df = spark.createDataFrame([(1, 1)], "id long, v long")
    with pytest.raises(ValueError, match=">= 1"):
        global_ntile(df, [F.col("v").asc(), F.col("id").asc()], k, "b")
    with pytest.raises(ValueError, match=">= 1"):
        ntile_assign_multi(df, [("v", "asc", "b")], "id", k)


def test_global_cumsum_null_values_carry_offset(spark):
    """NULL values contribute 0; an all-null partition prefix carries
    the running offset instead of nulling the sum out."""
    from pyspark.sql import functions as F

    from declarativeml_spark.operators.ordered import global_cumsum

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, None), (4, 5)], "id long, v int"
    )
    out = global_cumsum(
        df, [F.col("id").asc()], "v", out_col="cum", num_partitions=2
    ).orderBy("id")
    assert [r.cum for r in out.collect()] == [10, 10, 10, 15]


def test_global_cumsum_double_values(spark):
    from pyspark.sql import functions as F

    from declarativeml_spark.operators.ordered import global_cumsum

    df = spark.createDataFrame(
        [(1, 1.5), (2, 2.5), (3, 4.0)], "id long, v double"
    )
    out = global_cumsum(
        df, [F.col("id").asc()], "v", out_col="cum", num_partitions=2
    ).orderBy("id")
    assert [r.cum for r in out.collect()] == [1.5, 4.0, 8.0]


def test_ntile_direction_validation(spark):
    from declarativeml_spark.operators.ordered import ntile_assign_multi

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    with pytest.raises(ValueError, match="asc.*desc|desc.*asc"):
        ntile_assign_multi(df, [("v", "DESC", "b")], "id", 2)
    with pytest.raises(ValueError, match="asc.*desc|desc.*asc"):
        ntile_assign_multi(df, [("v", "Descending", "b")], "id", 2)
    with pytest.raises(ValueError, match="non-empty"):
        ntile_assign_multi(df, [], "id", 2)


def test_global_rank_multi_matches_window_reference(spark):
    """Both orderings' exact ranks from the one-exchange tagged-union
    shape must equal the single-partition ROW_NUMBER reference,
    including a desc metric (sign-flip realization) and a metric with
    ties broken by the tie column."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from declarativeml_spark.operators.ordered import global_rank_multi

    rng = random.Random(42)
    rows = [
        (i, rng.uniform(-5, 5), float(rng.randint(0, 3)))
        for i in range(1, 201)
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {
        r["id"]: (r["rx"], r["ry"])
        for r in global_rank_multi(
            df,
            [("x", "asc", "rx"), ("y", "desc", "ry")],
            "id",
            num_partitions=7,
        ).collect()
    }
    ref = df.withColumn(
        "rx", F.row_number().over(Window.orderBy(F.col("x").asc(), F.col("id").asc()))
    ).withColumn(
        "ry", F.row_number().over(Window.orderBy(F.col("y").desc(), F.col("id").asc()))
    )
    expect = {r["id"]: (r["rx"], r["ry"]) for r in ref.collect()}
    assert out == expect


def test_global_rank_multi_validation(spark):
    import pytest as _pytest

    from declarativeml_spark.operators.ordered import global_rank_multi

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    with _pytest.raises(ValueError, match="non-empty"):
        global_rank_multi(df, [], "id", 2)
    with _pytest.raises(ValueError, match="asc.*desc|desc.*asc"):
        global_rank_multi(df, [("v", "DESC", "r")], "id", 2)
