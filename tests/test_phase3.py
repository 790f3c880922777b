"""Phase-3 statements: feature transformers, ensembles, deploy, A/B,
monitor, retrain-with-rollback."""

import pytest

from declarativeml_spark.dsl import parse
from declarativeml_spark.dsl.ir import (
    DeployABTest,
    DeployModel,
    Ensemble,
    FeatureTransformer,
    MonitorModel,
    RetrainModel,
)
from declarativeml_spark.engine import Engine
from declarativeml_spark.sources.catalog import register_views


# ---------------------------------------------------------------- parsing
def test_parse_feature_transformer():
    t = parse(
        "CREATE FEATURE TRANSFORMER cust_feats AS "
        "SELECT c_custkey, avg(o_totalprice) AS avg_order FROM orders, customer "
        "GROUP BY c_custkey"
    )
    assert isinstance(t, FeatureTransformer)
    assert t.name == "cust_feats"
    assert t.select_sql.startswith("SELECT")


def test_parse_ensemble():
    e = parse(
        "CREATE ENSEMBLE combo FROM COMBINE MODELS (m1 WEIGHT 0.6, m2 WEIGHT 0.4) "
        "USING weighted_average VALIDATE ON holdout"
    )
    assert isinstance(e, Ensemble)
    assert e.models == [("m1", 0.6), ("m2", 0.4)]
    assert e.validate_on == "holdout"


def test_parse_deploy_and_ab():
    d = parse('DEPLOY MODEL churn VERSION 2 WITH CONFIG {max_latency: "50ms", replicas: 3}')
    assert isinstance(d, DeployModel)
    assert d.version == 2 and d.config["max_latency"] == "50ms"

    ab = parse(
        "DEPLOY MODELS (a, b) TO scoring WITH TRAFFIC SPLIT (50%, 50%) "
        "TRACK METRICS (accuracy, latency) AUTO PROMOTE best_performer AFTER 1000 samples"
    )
    assert isinstance(ab, DeployABTest)
    assert ab.split == [50.0, 50.0]
    assert ab.promote == "best_performer" and ab.promote_after == 1000


def test_parse_ab_split_validation():
    with pytest.raises(ValueError, match="sum to 100"):
        parse("DEPLOY MODELS (a, b) WITH TRAFFIC SPLIT (50%, 40%)")
    with pytest.raises(ValueError, match="one percentage per model"):
        parse("DEPLOY MODELS (a, b) WITH TRAFFIC SPLIT (100%)")


def test_parse_monitor_and_retrain():
    m = parse(
        "MONITOR MODEL churn ON orders CHECK (accuracy > 0.8 AND f1 > 0.7) EVERY 1 hour"
    )
    assert isinstance(m, MonitorModel)
    assert m.checks == ["accuracy > 0.8 AND f1 > 0.7"]
    assert m.every == 1 and m.every_unit == "hour"

    r = parse("RETRAIN MODEL churn USING LATEST 30 days OF data TIME COLUMN o_orderdate")
    assert isinstance(r, RetrainModel)
    assert r.latest_n == 30 and r.time_column == "o_orderdate"


# ---------------------------------------------------------------- execution
@pytest.fixture(scope="module")
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    spark.sql(
        "SELECT *, CAST(o_totalprice > 150000 AS INT) AS expensive FROM orders"
    ).createOrReplaceTempView("orders_labeled")
    eng = Engine(spark, model_dir=str(tmp_path_factory.mktemp("p3_models")))
    eng.execute(
        "TRAIN MODEL base_a USING logistic_regression(max_iter=10) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    eng.execute(
        "TRAIN MODEL base_b USING decision_tree(max_depth=3) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    return eng


def test_feature_transformer_usable_as_source(engine, spark):
    engine.execute(
        "CREATE FEATURE TRANSFORMER order_feats AS "
        "SELECT o_custkey, avg(o_totalprice) AS avg_price, "
        "CAST(max(o_totalprice) > 200000 AS INT) AS big_spender "
        "FROM orders GROUP BY o_custkey"
    )
    assert spark.table("order_feats").count() > 0
    trained = engine.execute(
        "TRAIN MODEL ft_clf USING logistic_regression(max_iter=5) "
        "FROM order_feats PREDICT big_spender WITH FEATURES(avg_price)"
    )
    assert trained.metrics["accuracy"] > 0.5


def test_ensemble_create_and_score(engine, spark):
    engine.execute(
        "CREATE ENSEMBLE combo FROM COMBINE MODELS (base_a WEIGHT 0.7, base_b WEIGHT 0.3)"
    )
    scored = engine.execute("PREDICT USING MODEL combo FROM orders_labeled")
    assert "prediction" in scored.columns
    row = scored.select("prediction").first()
    assert 0.0 <= row.prediction <= 1.0


def test_ensemble_unknown_member_rejected(engine):
    with pytest.raises(ValueError):
        engine.execute("CREATE ENSEMBLE bad FROM COMBINE MODELS (nope WEIGHT 1.0)")


def test_deploy_updates_status(engine):
    rec = engine.execute('DEPLOY MODEL base_a WITH CONFIG {max_latency: "50ms"}')
    assert rec["status"] == "deployed"
    meta = engine._model_meta("base_a")
    assert meta["status"] == "deployed"


def test_deploy_ab_test_writes_its_record(engine):
    """DEPLOY MODELS … TRAFFIC SPLIT records the A/B deployment under
    its endpoint name; no statement routes rows on it."""
    from declarativeml_spark.ml.models import _model_versions

    rec = engine.execute(
        "DEPLOY MODELS (base_a, base_b) TO ab_ep WITH TRAFFIC SPLIT (50%, 50%)"
    )
    assert rec["name"] == "ab_ep" and rec["algorithm"] == "ab_test"
    assert rec["ab_models"] == ["base_a", "base_b"]
    assert rec["traffic_split"] == [50.0, 50.0]
    full, status = _model_versions("ab_ep", engine.model_dir)
    assert full[1]["ab_models"] == ["base_a", "base_b"]
    assert status == {1: "deployed"}
    with pytest.raises(ValueError, match="No registered model"):
        engine.execute("DEPLOY MODELS (base_a, ghost) WITH TRAFFIC SPLIT (50%, 50%)")


def test_monitor_checks(engine):
    res = engine.execute(
        "MONITOR MODEL base_a ON orders_labeled CHECK (accuracy > 0.8)"
    )
    assert res["healthy"] is True
    res_bad = engine.execute(
        "MONITOR MODEL base_a ON orders_labeled CHECK (accuracy > 0.999999)"
    )
    assert res_bad["healthy"] is False


def test_retrain_and_rollback(engine, spark):
    new = engine.execute("RETRAIN MODEL base_a")
    assert new.version == 2

    # time-windowed retrain
    windowed = engine.execute(
        "RETRAIN MODEL base_a USING LATEST 365 days OF data TIME COLUMN o_orderdate"
    )
    assert windowed.version == 3

    # retrain without stored statement fails loudly
    with pytest.raises(ValueError, match="No registered model"):
        engine.execute("RETRAIN MODEL never_trained")


def test_deploy_records_resolved_version(engine):
    """DEPLOY MODEL with no pinned version must record the RESOLVED
    latest version — a null version was read back as v1, marking the
    wrong version deployed."""
    engine.execute(
        "TRAIN MODEL versioned_m USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    engine.execute(
        "TRAIN MODEL versioned_m USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )  # v2
    rec = engine.execute("DEPLOY MODEL versioned_m")
    assert rec["version"] == 2
    from declarativeml_spark.ml.models import _model_versions

    statuses = _model_versions("versioned_m", engine.model_dir)[1]
    assert statuses[2] == "deployed"
    assert statuses.get(1, "registered") != "deployed"


def test_ensemble_mismatched_features_rejected(engine):
    """Members trained on different FEATURES must be refused at CREATE
    time (scoring derives the feature plan from the first member)."""
    engine.execute(
        "TRAIN MODEL feat_other USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive"
        " WITH FEATURES(o_totalprice / 1000, log(o_totalprice + 1))"
    )
    with pytest.raises(ValueError, match="share one FEATURES"):
        engine.execute(
            "CREATE ENSEMBLE mix_bad FROM COMBINE MODELS"
            " (base_a WEIGHT 0.5, feat_other WEIGHT 0.5)"
        )


def test_ensemble_zero_weight_sum_rejected(engine):
    with pytest.raises(ValueError, match="positive"):
        engine.execute(
            "CREATE ENSEMBLE zero_w FROM COMBINE MODELS"
            " (base_a WEIGHT 1.0, base_b WEIGHT -1.0)"
        )


def test_ensemble_validate_on_scores_holdout(engine, spark):
    """CREATE ENSEMBLE … VALIDATE ON must actually evaluate on the
    named source (the parsed clause was previously dropped)."""
    rec = engine.execute(
        "CREATE ENSEMBLE combo_v FROM COMBINE MODELS"
        " (base_a WEIGHT 0.6, base_b WEIGHT 0.4)"
        " VALIDATE ON orders_labeled"
    )
    vm = rec["validation_metrics"]
    assert "accuracy" in vm and 0.0 <= vm["accuracy"] <= 1.0


def test_ensemble_validate_on_string_target(engine, spark):
    """VALIDATE ON with a STRING-target classification ensemble: the
    members' in-pipeline StringIndexer builds the label during
    transform, and score_ensemble must preserve the first member's
    built label instead of dropping it with the other transform
    columns (which made _compute_metrics select a nonexistent
    'label' after the ensemble record was already registered)."""
    engine.execute(
        "TRAIN MODEL str_a USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT o_orderstatus "
        "WITH FEATURES(o_totalprice)"
    )
    engine.execute(
        "TRAIN MODEL str_b USING decision_tree(max_depth=3) "
        "FROM orders_labeled PREDICT o_orderstatus "
        "WITH FEATURES(o_totalprice)"
    )
    rec = engine.execute(
        "CREATE ENSEMBLE combo_str FROM COMBINE MODELS"
        " (str_a WEIGHT 0.5, str_b WEIGHT 0.5)"
        " VALIDATE ON orders_labeled"
    )
    vm = rec["validation_metrics"]
    assert "accuracy" in vm and 0.0 <= vm["accuracy"] <= 1.0


def test_ensemble_validate_on_clustering_rejected(engine):
    """Clustering ensembles cannot be holdout-validated (averaged
    cluster indices have no silhouette); VALIDATE ON must fail
    loudly instead of silently returning no metrics."""
    engine.execute(
        "TRAIN MODEL km_a USING kmeans(k=2) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    engine.execute(
        "TRAIN MODEL km_b USING kmeans(k=3) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    with pytest.raises(ValueError, match="clustering ensembles"):
        engine.execute(
            "CREATE ENSEMBLE combo_km FROM COMBINE MODELS"
            " (km_a WEIGHT 0.5, km_b WEIGHT 0.5)"
            " VALIDATE ON orders_labeled"
        )


def test_ensemble_classification_averages_probabilities(engine, spark):
    """Classification ensembles average class PROBABILITY vectors and
    predict the argmax — averaging class indices minted labels no
    member predicted (two members voting 0 and 2 must never 'predict'
     1; binary disagreement must never emit 0.5) (review r11)."""
    scored = engine.execute("PREDICT USING MODEL combo FROM orders_labeled")
    vals = {r.prediction for r in scored.select("prediction").distinct().collect()}
    assert vals <= {0.0, 1.0}, vals  # valid class labels only
    # and the decisions are well-calibrated against the easy label
    from pyspark.sql import functions as F

    acc = (
        scored.select(
            (F.col("prediction") == F.col("expensive")).cast("int").alias("ok")
        )
        .agg(F.avg("ok"))
        .first()[0]
    )
    assert acc > 0.9


def test_ensemble_refuses_mixed_member_kinds(engine, spark):
    """A classifier and a regressor cannot share a weighted average —
    refused loudly at scoring time (review r11)."""
    import pytest as _pytest

    engine.execute(
        "TRAIN MODEL reg_member USING linear_regression(max_iter=5) "
        "FROM orders_labeled PREDICT o_totalprice WITH FEATURES(o_orderkey)"
    )
    from declarativeml_spark.ml.ensemble import score_ensemble

    with _pytest.raises(ValueError, match="kind|classes"):
        score_ensemble(
            spark,
            [("base_a", 0.5), ("reg_member", 0.5)],
            spark.table("orders_labeled"),
            base=engine.model_dir,
        ).collect()


def test_psi_bins_survive_nan_labels(engine, spark):
    """A regression monitoring batch with >=10% NaN labels produces a
    NaN decile edge; the bin SQL previously rendered it as the
    unresolvable token `nan` and crashed the run (review r11)."""
    from declarativeml_spark.ml.ensemble import _prediction_drift_psi
    from declarativeml_spark.ml.registry import get_algorithm
    from pyspark.sql import functions as F

    spec = get_algorithm("linear_regression")
    scored = spark.range(100).select(
        F.col("id").cast("double").alias("prediction"),
        F.when(F.col("id") % 5 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("y"),
    )
    psi = _prediction_drift_psi(spec, "y", scored)
    assert psi == psi and psi >= 0.0  # finite, not a crash
