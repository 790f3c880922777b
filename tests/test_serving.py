"""Streaming model serving: DEPLOY's endpoint analogue
(reference: DSL.md:57-66 spec-only) — train a model, score a
file-backed stream with it, and check the streamed predictions match
batch scoring exactly.
"""

import pytest
from pyspark.sql import functions as F

from declarativeml_spark.engine import Engine
from declarativeml_spark.ml.models import registry_load, registry_meta
from declarativeml_spark.sources.catalog import load_table, register_views
from declarativeml_spark.streaming import serving
from declarativeml_spark.streaming.serving import serve_model_stream


@pytest.fixture(scope="module")
def served(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               CAST(o_totalprice > 150000 AS INT) AS expensive
        FROM orders
        """
    ).createOrReplaceTempView("orders_serve_src")
    model_dir = str(tmp_path_factory.mktemp("serve_models"))
    engine = Engine(spark, model_dir=model_dir)
    engine.execute(
        "TRAIN MODEL serve_clf USING logistic_regression(max_iter=10) "
        "FROM orders_serve_src PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    return engine, model_dir


def test_stream_scoring_matches_batch(spark, smoke_dir, served, tmp_path):
    engine, model_dir = served
    # stage a file-backed stream of unseen rows
    src = load_table(spark, smoke_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stream_dir = str(tmp_path / "stream_in")
    src.write.parquet(stream_dir)
    stream_df = spark.readStream.schema(src.schema).parquet(stream_dir)

    q = serve_model_stream(
        spark,
        "serve_clf",
        stream_df,
        features=["o_totalprice"],
        base=model_dir,
        query_name="served_preds",
        once=True,
    )
    q.awaitTermination(120)

    streamed = (
        spark.table("served_preds")
        .select("o_orderkey", F.col("prediction").alias("p_stream"))
    )
    batch = engine.execute(
        "PREDICT USING MODEL serve_clf FROM orders_serve_src"
    ).select("o_orderkey", F.col("prediction").alias("p_batch"))
    joined = streamed.join(batch, "o_orderkey")
    assert joined.count() == src.count()
    assert joined.filter(F.col("p_stream") != F.col("p_batch")).count() == 0


def test_serve_requires_streaming_df(spark, smoke_dir, served):
    _, model_dir = served
    batch_df = load_table(spark, smoke_dir, "orders")
    with pytest.raises(ValueError, match="streaming"):
        serve_model_stream(spark, "serve_clf", batch_df, base=model_dir)


def test_serve_derived_features_from_registry_meta(
    spark, smoke_dir, served, tmp_path, monkeypatch
):
    """With ``features`` omitted, serving must rebuild the model's
    feature expressions from registry metadata — a model trained on a
    DERIVED expression assembles from a materialized __feat column
    that raw streams don't carry."""
    engine, model_dir = served
    engine.execute(
        "TRAIN MODEL serve_derived USING logistic_regression(max_iter=10) "
        "FROM orders_serve_src PREDICT expensive "
        "WITH FEATURES(o_totalprice / 1000)"
    )
    src = load_table(spark, smoke_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stream_dir = str(tmp_path / "stream_derived")
    src.write.parquet(stream_dir)
    stream_df = spark.readStream.schema(src.schema).parquet(stream_dir)

    # the model loads pinned to the version of the record whose
    # features it serves — an unpinned load could pick up a version a
    # TRAIN registered after the record was read
    loaded_versions = []

    def recording_load(*args, version=None, **kwargs):
        loaded_versions.append(version)
        return registry_load(*args, version=version, **kwargs)

    monkeypatch.setattr(serving, "registry_load", recording_load)
    q = serve_model_stream(
        spark,
        "serve_derived",
        stream_df,
        base=model_dir,
        query_name="served_derived",
        once=True,
    )
    q.awaitTermination(120)
    assert spark.table("served_derived").count() == src.count()
    record = registry_meta("serve_derived", base=model_dir)
    assert loaded_versions == [record["version"]]


def test_registry_load_refuses_fully_rolled_back(spark, served):
    """Rolling back every version must make an unpinned load a typed
    error, not silently serve the rolled-back model."""
    from declarativeml_spark.ml.models import (
        mark_version_status,
        registry_load,
    )

    engine, model_dir = served
    engine.execute(
        "TRAIN MODEL rollback_all USING logistic_regression(max_iter=5) "
        "FROM orders_serve_src PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    mark_version_status("rollback_all", 1, "rolled_back", base=model_dir)
    with pytest.raises(ValueError, match="rolled back"):
        registry_load(spark, "rollback_all", base=model_dir)
    # pinning still works as the explicit override
    assert registry_load(spark, "rollback_all", version=1, base=model_dir)


def test_measure_serving_latency_harness(spark, served):
    """The DSL.md:62-63 measurement harness (BASELINE.md round-10
    block): drives the endpoint from the rate source and reports
    per-record p50/p99 + sustained rows/s. Short run — asserts the
    harness's accounting, not the SLA (the measured numbers and the
    pass/fail verdict live in BASELINE.md)."""
    from declarativeml_spark.streaming.serving import (
        measure_serving_latency,
    )

    engine, model_dir = served
    res = measure_serving_latency(
        spark,
        "serve_clf",
        rows_per_second=500,
        duration_s=7.0,
        trigger_seconds=0.05,
        warmup_s=3.0,
        base=model_dir,
        feature_exprs={"o_totalprice": "CAST(value % 300000 AS DOUBLE)"},
    )
    assert res["n_rows"] > 0
    assert res["p50_ms"] is not None and res["p50_ms"] > 0
    assert res["p99_ms"] >= res["p50_ms"]
    assert res["max_ms"] >= res["p99_ms"]
    # steady state must keep up with the offered 500 rps (no backlog)
    assert res["rows_per_s"] is not None and res["rows_per_s"] > 400
    assert res["target_latency_ms"] == 50.0
    assert isinstance(res["meets_latency_50ms"], bool)
    assert res["meets_throughput_1000rps"] in (True, False)


def test_measure_serving_latency_foreign_session_timezone(spark, served):
    """Generation epochs are computed server-side with unix_micros —
    the previous toPandas path localized the rate source's LTZ
    timestamps to session-timezone-naive datetimes, shifting every
    latency by the UTC offset in a non-UTC session (hours, not ms)."""
    from declarativeml_spark.streaming.serving import (
        measure_serving_latency,
    )

    engine, model_dir = served
    tz_key = "spark.sql.session.timeZone"
    before = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")  # UTC-4/-5
    try:
        res = measure_serving_latency(
            spark,
            "serve_clf",
            rows_per_second=200,
            duration_s=9.0,
            trigger_seconds=0.05,
            warmup_s=3.5,
            base=model_dir,
            feature_exprs={"o_totalprice": "CAST(value % 300000 AS DOUBLE)"},
        )
    finally:
        spark.conf.set(tz_key, before)
    assert res["n_rows"] > 0
    # a timezone shift would put p50 at ~±4-5 HOURS (1.4e7 ms, or
    # negative); the genuine micro-batch floor is well under a minute
    assert 0 < res["p50_ms"] < 60_000
    assert 0 < res["p99_ms"] < 60_000


# ---------------------------------------------------------------------------
# Exported driver-local scorer (round-10 verdict ask #5): the
# single-row-latency deployment shape — no per-request Spark job.


def test_exported_scorer_matches_transform_exactly(spark, served):
    """Exported LR predictions and margins (rawPrediction) are
    BIT-IDENTICAL to PipelineModel.transform over a real data slice —
    the export replicates MLlib's sequential dot exactly, and
    probabilities match MLlib's exact binomial pair (p0 = direct
    sigmoid of -margin, p1 = 1 - p0) to within 1 ulp — the JVM exp
    intrinsic's permitted error (measured 599/600 cells bit-exact)."""
    import math

    from pyspark.ml.functions import vector_to_array

    from declarativeml_spark.ml.export import export_scorer
    from declarativeml_spark.ml.models import registry_load

    engine, model_dir = served
    scorer = export_scorer(spark, "serve_clf", base=model_dir)
    model = registry_load(spark, "serve_clf", base=model_dir)
    src = spark.table("orders_serve_src").limit(300)
    want = (
        model.transform(src)
        .select(
            "o_totalprice",
            "prediction",
            vector_to_array("rawPrediction").alias("raw"),
            vector_to_array("probability").alias("prob"),
        )
        .collect()
    )
    assert len(want) == 300
    for r in want:
        got = scorer.score_row({"o_totalprice": r.o_totalprice})
        assert got["prediction"] == r.prediction  # exact
        assert got["rawPrediction"][0] == r.raw[0]  # exact margin
        assert got["rawPrediction"][1] == r.raw[1]
        for k in (0, 1):
            g, w = got["probability"][k], r.prob[k]
            assert g == w or abs(g - w) <= math.ulp(max(abs(g), abs(w))), (
                r.o_totalprice, k, g, w
            )


def test_exported_scorer_ridge_exact(spark, served, tmp_path):
    """The ridge closed-form family exports bit-identically too (its
    transform is a left-leaning lit-bound expression tree; the export
    replays the same tree)."""
    from declarativeml_spark.engine import Engine
    from declarativeml_spark.ml.export import export_scorer
    from declarativeml_spark.ml.models import registry_load

    import os

    engine, model_dir = served
    eng = Engine(spark, model_dir=str(tmp_path))
    spark.table("orders_serve_src").limit(400).createOrReplaceTempView(
        "orders_ridge_export_src"
    )
    eng.execute(
        "TRAIN MODEL export_ridge USING ridge_closed_form(lam=5.0)"
        " FROM orders_ridge_export_src PREDICT o_totalprice"
        " WITH FEATURES(o_orderkey)"
    )
    scorer = export_scorer(spark, "export_ridge", base=str(tmp_path))
    model = registry_load(spark, "export_ridge", base=str(tmp_path))
    want = (
        model.transform(spark.table("orders_ridge_export_src").limit(100))
        .select("o_orderkey", "prediction")
        .collect()
    )
    for r in want:
        got = scorer.score_row({"o_orderkey": r.o_orderkey})
        assert got["prediction"] == r.prediction  # exact


def test_exported_scorer_refuses_unsupported_stage(spark, served):
    from declarativeml_spark.ml.export import LocalScorer, export_scorer

    class FakeStage:
        pass

    engine, model_dir = served
    scorer = export_scorer(spark, "serve_clf", base=model_dir)
    # a hand-broken step kind fails loudly, never silently skips
    broken = LocalScorer([("mystery", None)], "x")
    import pytest as _pytest

    with _pytest.raises((ValueError, AssertionError)):
        broken.score_row({})


def test_exported_scorer_meets_latency_target(spark, served):
    """The reference's 50 ms p99 target (DSL.md:62) PASSES through the
    exported shape at the 1000 rps offered rate — the row BASELINE.md
    records next to the micro-batch endpoint's honest FAIL."""
    from declarativeml_spark.ml.export import (
        export_scorer,
        measure_local_scorer_latency,
    )

    engine, model_dir = served
    scorer = export_scorer(spark, "serve_clf", base=model_dir)
    res = measure_local_scorer_latency(
        scorer,
        lambda i: {"o_totalprice": float((i * 9973) % 300000)},
        rows_per_second=1000,
        duration_s=4.0,
        warmup_s=0.5,
    )
    assert res["n_rows"] > 3000
    assert res["meets_latency_50ms"] is True, res
    assert res["meets_throughput_1000rps"] is True, res
    assert res["p99_ms"] < 50.0


def test_local_scorer_null_feature_actionable(spark, served):
    """A present-but-None feature value names the column instead of
    dying as an opaque float(None) TypeError."""
    from declarativeml_spark.ml.export import export_scorer

    _, model_dir = served
    scorer = export_scorer(spark, "serve_clf", base=model_dir)
    with pytest.raises(ValueError, match="o_totalprice"):
        scorer.score_row({"o_totalprice": None})
    with pytest.raises(KeyError, match="o_totalprice"):
        scorer.score_row({})


def test_local_scorer_throughput_measures_actual_completion():
    """A scorer slower than the offered rate must report its ACTUAL
    throughput — dividing the scheduled count by the nominal span
    reported ~= the offered rate regardless of scorer speed, making
    meets_throughput_1000rps vacuously True."""
    import time as _t

    from declarativeml_spark.ml.export import measure_local_scorer_latency

    class Slow:
        model_name = "slow"

        def score_row(self, row):
            _t.sleep(0.005)  # 5 ms/row: ~200 rows/s actual
            return {"prediction": 1.0}

    res = measure_local_scorer_latency(
        Slow(),
        lambda i: {},
        rows_per_second=1000,
        duration_s=0.6,
        warmup_s=0.1,
    )
    assert res["rows_per_s"] is not None and res["rows_per_s"] < 500
    assert res["meets_throughput_1000rps"] is False
    # queueing delay shows in the latency too (scheduled-time basis)
    assert res["p99_ms"] > 5.0


def test_export_refuses_pipeline_without_assembler(
    spark, served, tmp_path
):
    """A registered pipeline with no leading VectorAssembler must be
    refused at EXPORT time, not die on the first request's bare
    assert."""
    from pyspark.ml import Pipeline
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import LinearRegression

    from declarativeml_spark.ml.export import export_scorer
    from declarativeml_spark.ml.models import registry_save
    from declarativeml_spark.ml.training import TrainedModel

    df = spark.sql(
        "SELECT CAST(o_totalprice AS DOUBLE) AS label,"
        " array(CAST(o_orderkey AS DOUBLE)) AS arr FROM orders LIMIT 50"
    ).withColumn("features", array_to_vector("arr"))
    model = Pipeline(stages=[LinearRegression(maxIter=3)]).fit(df)
    trained = TrainedModel(
        name="no_assembler_lr",
        algorithm="linear_regression",
        version=1,
        pipeline_model=model,
        metrics={},
        features=["arr"],
        target="label",
    )
    base = str(tmp_path / "noasm_models")
    registry_save(spark, trained, base=base)
    with pytest.raises(ValueError, match="VectorAssembler"):
        export_scorer(spark, "no_assembler_lr", base=base)


def test_measure_serving_latency_surfaces_query_failure(spark, served):
    """A sink/runtime failure must raise, not busy-sleep the full
    duration and return zero-row stats (BASELINE.md would record a
    silent-zero artifact)."""
    from declarativeml_spark.streaming.serving import (
        measure_serving_latency,
    )

    _, model_dir = served
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|0"):
        measure_serving_latency(
            spark,
            "serve_clf",
            rows_per_second=100,
            duration_s=6.0,
            trigger_seconds=0.05,
            warmup_s=0.5,
            base=model_dir,
            feature_exprs={
                "o_totalprice": "CAST(value % CAST(0 AS BIGINT) AS DOUBLE)"
            },
        )
