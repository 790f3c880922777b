"""Engine safety guards: prediction-sink never-clobber, Lehmer
BIGINT sampling, agent-tick isolation, archive status skipping."""

import pytest
from pyspark.sql import functions as F

from declarativeml_spark.engine import Engine
from declarativeml_spark.sources.catalog import register_views


@pytest.fixture(scope="module")
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    spark.sql(
        "SELECT o_orderkey, o_totalprice,"
        " CAST(o_totalprice > 150000 AS INT) AS expensive FROM orders"
    ).createOrReplaceTempView("orders_guard_lab")
    eng = Engine(spark, model_dir=str(tmp_path_factory.mktemp("models")))
    eng.execute(
        "TRAIN MODEL guard_clf USING logistic_regression(max_iter=5) "
        "FROM orders_guard_lab PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    return eng


def test_store_results_refuses_foreign_table(engine, spark):
    """PREDICT … STORE RESULTS IN must never overwrite a pre-existing
    table it did not create."""
    spark.sql("DROP TABLE IF EXISTS guard_user_tbl")
    spark.range(5).write.saveAsTable("guard_user_tbl")
    try:
        with pytest.raises(ValueError, match="refusing to overwrite"):
            engine.execute(
                "PREDICT USING MODEL guard_clf FROM orders_guard_lab"
                " STORE RESULTS IN guard_user_tbl"
            )
        # untouched
        assert spark.table("guard_user_tbl").count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS guard_user_tbl")


def test_store_results_refuses_index_registry(engine):
    with pytest.raises(ValueError, match="index"):
        engine.execute(
            "PREDICT USING MODEL guard_clf FROM orders_guard_lab"
            " STORE RESULTS IN declml_index_registry"
        )


def test_store_results_overwrites_own_sink(engine, spark):
    """A sink this path created (marked) is re-overwritable — the
    normal re-score workflow."""
    spark.sql("DROP TABLE IF EXISTS guard_pred_sink")
    engine.execute(
        "PREDICT USING MODEL guard_clf FROM orders_guard_lab"
        " STORE RESULTS IN guard_pred_sink"
    )
    n1 = spark.table("guard_pred_sink").count()
    engine.execute(
        "PREDICT USING MODEL guard_clf FROM orders_guard_lab"
        " STORE RESULTS IN guard_pred_sink"
    )
    assert spark.table("guard_pred_sink").count() == n1 > 0
    spark.sql("DROP TABLE IF EXISTS guard_pred_sink")


def test_sample_rate_int_id_matches_bigint(engine, spark):
    """SAMPLE … RATE on an INT-typed id column must select the same
    rows as on the BIGINT copy (the unshared Lehmer text overflowed
    32-bit arithmetic)."""
    # ids big enough that id * 48271 overflows int32 (> 44488)
    spark.sql(
        "SELECT CAST(doc_id * 97 + 50000 AS INT) AS doc_id, text"
        " FROM documents"
    ).createOrReplaceTempView("docs_int_id")
    spark.sql(
        "SELECT CAST(doc_id * 97 + 50000 AS BIGINT) AS doc_id, text"
        " FROM documents"
    ).createOrReplaceTempView("docs_big_id")
    got_i = {
        r.doc_id
        for r in engine.execute("SAMPLE docs_int_id RATE 0.4").collect()
    }
    got_b = {
        r.doc_id
        for r in engine.execute("SAMPLE docs_big_id RATE 0.4").collect()
    }
    assert got_i == got_b and got_i


def test_agent_tick_isolates_broken_monitor(engine, spark):
    """One agent whose monitor source vanished must not abort the
    other agents' tick."""
    spark.range(10).selectExpr(
        "id AS o_orderkey", "CAST(id * 1000 AS DOUBLE) AS o_totalprice",
        "CAST(id % 2 AS INT) AS expensive"
    ).createOrReplaceTempView("guard_vanishing_src")
    engine.execute(
        "TRAIN MODEL guard_van USING logistic_regression(max_iter=3) "
        "FROM guard_vanishing_src PREDICT expensive"
        " WITH FEATURES(o_totalprice)"
    )
    engine.execute(
        "CREATE AGENT guard_bad FOR MODEL guard_van"
        " CHECK METRICS EVERY 1 hour"
        " WHEN accuracy DROPS BELOW 0.000001"
        " THEN TRIGGER noop_wf"
    )
    engine.execute(
        "CREATE AGENT guard_good MONITOR MODEL guard_clf"
        " ON orders_guard_lab CHECK (accuracy > 0.0) EVERY 1 hours"
    )
    # break the first agent: its stored TRAIN source disappears
    spark.catalog.dropTempView("guard_vanishing_src")
    try:
        results = engine.run_agents_once()
        assert results["guard_bad"]["healthy"] is False
        assert "error" in results["guard_bad"]
        # the second agent still ticked
        assert "guard_good" in results and "error" not in results["guard_good"]
    finally:
        engine.agents.pop("guard_bad", None)
        engine.agents.pop("guard_good", None)


def test_archive_skips_rolled_back_version(engine, spark):
    """ARCHIVE previous_version must not stamp 'archived' over a
    rolled_back version (that would make it servable again)."""
    from declarativeml_spark.ml.models import (
        _model_versions,
        mark_version_status,
    )

    for _ in range(3):  # v1, v2, v3
        engine.execute(
            "TRAIN MODEL guard_arch USING logistic_regression(max_iter=3) "
            "FROM orders_guard_lab PREDICT expensive"
            " WITH FEATURES(o_totalprice)"
        )
    mark_version_status("guard_arch", 2, "rolled_back", engine.model_dir)
    out = engine.execute("ARCHIVE previous_version OF guard_arch")
    # v2 is rolled back → the previous LIVE version is v1
    assert out["archived"] == 1
    statuses = _model_versions("guard_arch", engine.model_dir)[1]
    assert statuses[2] == "rolled_back"  # untouched
    assert statuses[1] == "archived"
