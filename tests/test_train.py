"""End-to-end TRAIN MODEL / PREDICT / EVALUATE through the Engine.

Labels are derived from the synthetic tables (e.g. high-value order =
o_totalprice above segment median) so training is meaningful without
external fixtures — the reference has no end-to-end ML tests at all
(SURVEY.md §5), so these are net-new coverage.
"""

import pytest

from declarativeml_spark.engine import Engine
from declarativeml_spark.ml.models import _model_versions
from declarativeml_spark.sources.catalog import register_views


@pytest.fixture(scope="module")
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    # derived label view: is the order expensive?
    spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(o_totalprice > 150000 AS INT) AS expensive,
               o_orderstatus
        FROM orders
        """
    ).createOrReplaceTempView("orders_labeled")
    model_dir = str(tmp_path_factory.mktemp("models"))
    return Engine(spark, model_dir=model_dir)


def test_train_logistic_regression(engine):
    trained = engine.execute(
        "TRAIN MODEL expensive_clf USING logistic_regression(max_iter=10) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "SPLIT DATA training=0.8, test=0.2 OPTIMIZE FOR accuracy"
    )
    assert trained.version == 1
    assert trained.metrics["accuracy"] > 0.95  # trivially separable
    assert trained.path is not None


def test_train_with_expressions_and_cv(engine):
    trained = engine.execute(
        "TRAIN MODEL expensive_cv USING decision_tree(max_depth=4) "
        "FROM orders_labeled PREDICT expensive "
        "WITH FEATURES(o_totalprice / 1000, log(o_totalprice + 1)) "
        "VALIDATE USING cv(folds=3) OPTIMIZE FOR f1"
    )
    assert "cv_f1" in trained.metrics
    assert trained.metrics["f1"] > 0.9


def test_train_regression_from_fragment(engine):
    trained = engine.execute(
        "TRAIN MODEL price_reg USING linear_regression(max_iter=20) "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "PREDICT o_totalprice WITH FEATURES(c_acctbal) "
        "SPLIT DATA training=0.7, test=0.3"
    )
    assert "rmse" in trained.metrics and trained.metrics["rmse"] > 0


def test_train_string_label_and_balance(engine):
    trained = engine.execute(
        "TRAIN MODEL status_clf USING random_forest(num_trees=5, max_depth=4) "
        "FROM orders_labeled PREDICT o_orderstatus "
        "WITH FEATURES(o_totalprice) BALANCE CLASSES BY undersampling"
    )
    assert trained.metrics["accuracy"] > 0


def test_stop_when_metric(engine):
    trained = engine.execute(
        "TRAIN MODEL stop_clf USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN accuracy > 0.5 AND epochs > 5"
    )
    assert trained.stop_satisfied is True


def test_predict_and_evaluate_statements(engine, spark):
    engine.execute(
        "TRAIN MODEL pe_clf USING logistic_regression(max_iter=10) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    scored = engine.execute("PREDICT USING MODEL pe_clf FROM orders_labeled")
    assert "prediction" in scored.columns
    assert scored.count() == spark.table("orders_labeled").count()

    metrics = engine.execute(
        "EVALUATE MODEL pe_clf ON orders_labeled METRICS (accuracy, f1)"
    )
    assert set(metrics) == {"accuracy", "f1"}
    assert metrics["accuracy"] > 0.95


def test_model_registry_versioning(engine, spark):
    for _ in range(2):
        engine.execute(
            "TRAIN MODEL ver_clf USING logistic_regression(max_iter=5) "
            "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
        )
    versions, _ = _model_versions("ver_clf", engine.model_dir)
    assert sorted(versions) == [1, 2]


def test_unknown_algorithm_rejected(engine):
    with pytest.raises(ValueError, match="Unknown algorithm"):
        engine.execute(
            "TRAIN MODEL bad USING not_an_algorithm FROM orders_labeled "
            "PREDICT expensive WITH FEATURES(o_totalprice)"
        )


def test_transform_features(engine):
    trained = engine.execute(
        "TRAIN MODEL tf_clf USING logistic_regression(max_iter=10) "
        "FROM orders_labeled PREDICT expensive "
        "WITH FEATURES(TRANSFORM(standard_scaler(o_totalprice)), "
        "TRANSFORM(one_hot_encoder(o_orderstatus)))"
    )
    assert trained.metrics["accuracy"] > 0.9


def test_stop_when_halts_before_max_iter(engine):
    """Epoch-wise STOP WHEN (reference DSL.md:123-144): an easily-met
    metric predicate must halt training at an early step of the
    maxIter schedule — strictly before the declared budget — and
    record the stopping epoch in the result and registry metadata."""
    trained = engine.execute(
        "TRAIN MODEL early_clf USING logistic_regression(max_iter=64) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN accuracy > 0.5"
    )
    assert trained.stop_satisfied is True
    assert trained.stopping_epoch is not None
    assert trained.stopping_epoch < 64
    assert trained.metrics["stopping_epoch"] == float(trained.stopping_epoch)
    # the fitted model carries the early budget, not the full one
    lr_model = trained.pipeline_model.stages[-1]
    assert lr_model.getOrDefault("maxIter") == trained.stopping_epoch
    import json as _json
    import os as _os

    base = trained.path.rsplit("/", 2)[0]
    with open(_os.path.join(base, "registry.jsonl")) as f:
        recs = [_json.loads(line) for line in f if line.strip()]
    rec = [r for r in recs if r.get("name") == "early_clf"][-1]
    assert rec["stopping_epoch"] == trained.stopping_epoch


def test_stop_when_unmet_runs_full_budget(engine):
    """An unsatisfiable predicate must fall through to the full
    maxIter fit with stop_satisfied False and no stopping epoch."""
    trained = engine.execute(
        "TRAIN MODEL nostop_clf USING logistic_regression(max_iter=4) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN accuracy > 1.5"
    )
    assert trained.stop_satisfied is False
    assert trained.stopping_epoch is None
    lr_model = trained.pipeline_model.stages[-1]
    assert lr_model.getOrDefault("maxIter") == 4


def test_stop_when_ord_epoch_clause_not_vacuous(engine):
    """An OR'd epoch-budget clause must compare against the CURRENT
    epoch, not evaluate vacuously true (which stopped every such
    train at epoch 1): with an unsatisfiable metric leg, 'OR epochs
    >= 4' must hold training until epoch 4."""
    trained = engine.execute(
        "TRAIN MODEL orstop_clf USING logistic_regression(max_iter=16) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN accuracy > 1.5 OR epochs >= 4"
    )
    assert trained.stop_satisfied is True
    assert trained.stopping_epoch == 4


def test_save_checkpoints_interval_persists_snapshots(engine):
    """SAVE CHECKPOINTS EVERY n: checkpoints record interval
    CROSSINGS of the epoch schedule (not every schedule step), and
    each recorded epoch has a persisted model snapshot on disk."""
    import os as _os

    trained = engine.execute(
        "TRAIN MODEL ckpt_clf USING logistic_regression(max_iter=16) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "SAVE CHECKPOINTS EVERY 5 EPOCHS"
    )
    # geometric schedule 1,2,4,8,16 crosses the 5-boundary at 8 and
    # the 10- and 15-boundaries at 16
    assert trained.checkpoints == [8, 16]
    base = trained.path.rsplit("/", 2)[0]
    for e in trained.checkpoints:
        assert _os.path.isdir(
            _os.path.join(base, "ckpt_clf", f"checkpoint_e{e}")
        )


def test_stop_when_epochs_on_tree_algorithm_no_crash(engine):
    """STOP WHEN epochs > n on an algorithm WITHOUT an iteration
    budget must not inject max_iter (RandomForestClassifier(max_iter=...)
    raised TypeError before the guard)."""
    trained = engine.execute(
        "TRAIN MODEL rf_epochs USING random_forest(num_trees=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN epochs > 50"
    )
    assert trained.metrics["accuracy"] > 0.9


def test_stop_when_epochs_equals_is_a_budget(engine):
    """STOP WHEN epochs = n is an iteration budget, not a metric
    clause — it must neither trigger the refit loop nor report
    vacuous satisfaction."""
    trained = engine.execute(
        "TRAIN MODEL lr_eq USING logistic_regression "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN epochs = 7"
    )
    # the budget was realized via maxIter → satisfied on completion
    assert trained.stop_satisfied is True
    lr_stage = trained.pipeline_model.stages[-1]
    assert lr_stage.getOrDefault("maxIter") == 7


def test_checkpoint_time_unit_rejected(engine):
    """Only epoch-denominated checkpoint intervals exist; a time unit
    must fail loudly instead of silently meaning epochs."""
    with pytest.raises(Exception, match="epoch-denominated"):
        engine.execute(
            "TRAIN MODEL ckpt_min USING logistic_regression(max_iter=8) "
            "FROM orders_labeled PREDICT expensive "
            "WITH FEATURES(o_totalprice) "
            "SAVE CHECKPOINTS EVERY 30 minutes"
        )


def test_class_weights_unsupported_estimator_rejected(engine):
    """BALANCE CLASSES BY class_weights on an estimator without
    weightCol support must error, not silently train unweighted."""
    with pytest.raises(Exception, match="weight column"):
        engine.execute(
            "TRAIN MODEL nn_w USING neural_network(layers=[1,2]) "
            "FROM orders_labeled PREDICT expensive "
            "WITH FEATURES(o_totalprice) "
            "BALANCE CLASSES BY class_weights"
        )


def test_epochwise_budget_respects_iteration_alias(engine):
    """A metric STOP clause plus iterations=n must cap the refit
    schedule at n, not stretch to the 100 default."""
    trained = engine.execute(
        "TRAIN MODEL lr_alias USING logistic_regression(iterations=8) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice) "
        "STOP WHEN accuracy > 1.5"  # unsatisfiable: runs the full schedule
    )
    assert trained.stop_satisfied is False
    lr_stage = trained.pipeline_model.stages[-1]
    assert lr_stage.getOrDefault("maxIter") == 8


# --- round-10 builder.py review-sweep regressions ---------------------------


def test_scaled_feature_tolerates_null_rows(engine, spark):
    """standard_scaler's inner assembler must use handleInvalid='keep'
    like the outer one — a single NULL row previously crashed ONLY
    the scaled-feature path."""
    spark.sql(
        "SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL"
        " ELSE o_totalprice END AS amt,"
        " CAST(o_totalprice > 150000 AS INT) AS expensive"
        " FROM orders"
    ).createOrReplaceTempView("orders_nullamt")
    trained = engine.execute(
        "TRAIN MODEL null_scaled USING logistic_regression(max_iter=5) "
        "FROM orders_nullamt PREDICT expensive "
        "WITH FEATURES(TRANSFORM(standard_scaler(amt)))"
    )
    assert trained.metrics["accuracy"] > 0


def test_transform_dispatch_case_insensitive(engine):
    trained = engine.execute(
        "TRAIN MODEL case_tf USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive "
        "WITH FEATURES(TRANSFORM(STANDARD_SCALER(o_totalprice)))"
    )
    assert trained.metrics["accuracy"] > 0.9


def test_derived_arbitrary_function_is_computed_column(engine):
    """DERIVED wraps arbitrary SQL — DERIVED(log(amt)) is a computed
    column, not a failed transformer lookup; a TRANSFORM typo still
    fails loudly."""
    trained = engine.execute(
        "TRAIN MODEL derived_fn USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive "
        "WITH FEATURES(DERIVED(log(o_totalprice + 1)))"
    )
    assert trained.metrics["accuracy"] > 0.9
    with pytest.raises(ValueError, match="Unknown TRANSFORM function"):
        engine.execute(
            "TRAIN MODEL typo_tf USING logistic_regression(max_iter=5) "
            "FROM orders_labeled PREDICT expensive "
            "WITH FEATURES(TRANSFORM(standard_scalar(o_totalprice)))"
        )


def test_lag_periods_validation():
    from declarativeml_spark.plans.builder import _lag_periods
    from declarativeml_spark.dsl.features import parse_feature_expr

    def node(src):
        # kwarg value node straight from the real parser
        call = parse_feature_expr(f"time_series.lag(x, periods={src})")
        return dict(call.kwargs)["periods"]

    assert _lag_periods(None) == [1]
    assert _lag_periods(node("7")) == [7]
    assert _lag_periods(node("[1, 7, 28]")) == [1, 7, 28]
    with pytest.raises(ValueError, match="no lag at all"):
        _lag_periods(node("[]"))
    with pytest.raises(ValueError, match="integer-valued"):
        _lag_periods(node("[2.7]"))
    with pytest.raises(ValueError, match=">= 1"):
        _lag_periods(node("[0]"))


def test_lag_partition_by_bounds_window(engine, spark):
    """partition_by keeps the ordered-lag window per key instead of
    one global single-task window (the documented scale constraint)."""
    trained = engine.execute(
        "TRAIN MODEL lag_part USING linear_regression(max_iter=5) "
        "FROM orders_labeled PREDICT o_totalprice "
        "WITH FEATURES(TRANSFORM(time_series.lag(o_totalprice,"
        " order_by=o_orderkey, partition_by=o_custkey)))"
    )
    assert "rmse" in trained.metrics


def test_lag_feature_refused_on_stream(spark, smoke_dir, tmp_path):
    """Rebuilding a lag feature on a streaming source must be a typed
    error with guidance, not Spark's NON_TIME_WINDOW crash at query
    start."""
    from declarativeml_spark.plans.builder import build_features
    from declarativeml_spark.sources.catalog import load_table

    src = load_table(spark, smoke_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    d = str(tmp_path / "lag_stream")
    src.write.parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    with pytest.raises(ValueError, match="STREAMING"):
        build_features(
            stream,
            [
                "TRANSFORM(time_series.lag(o_totalprice,"
                " order_by=o_orderkey))"
            ],
        )


def test_bare_string_numeric_column_casts(engine, spark):
    """A string-typed numeric column must work as a BARE feature (it
    already worked as an expression) — the builder casts
    non-assemblable dtypes instead of handing them to the
    VectorAssembler raw."""
    spark.sql(
        "SELECT o_orderkey, CAST(o_totalprice AS STRING) AS amt_str,"
        " CAST(o_totalprice > 150000 AS INT) AS expensive FROM orders"
    ).createOrReplaceTempView("orders_strtyped")
    trained = engine.execute(
        "TRAIN MODEL str_feat USING logistic_regression(max_iter=5) "
        "FROM orders_strtyped PREDICT expensive WITH FEATURES(amt_str)"
    )
    assert trained.metrics["accuracy"] > 0.9


# --- round-10 models.py registry hardening ------------------------------------


def test_registry_survives_corrupt_line(spark, tmp_path, engine):
    """One truncated registry line (crash mid-append) must not brick
    reads for every model — corrupt lines skip with a warning."""
    import json
    import warnings

    from declarativeml_spark.ml.models import (
        append_registry_record,
        registry_meta,
    )

    base = str(tmp_path / "reg_corrupt")
    append_registry_record(
        base, {"name": "good", "version": 1, "algorithm": "x", "status": "registered"}
    )
    with open(f"{base}/registry.jsonl", "a") as f:
        f.write('{"name": "trunc", "ver')  # no newline: torn write
    append_registry_record(base, {"name": "good", "version": 1, "status": "deployed"})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        meta = registry_meta("good", base=base)
    assert meta["status"] == "deployed"
    assert _model_versions("good", base)[1] == {1: "deployed"}
    assert any("corrupt line" in str(x.message) for x in w)


def test_registry_load_typed_errors(spark, tmp_path, engine):
    from declarativeml_spark.ml.models import (
        append_registry_record,
        registry_load,
    )

    base = str(tmp_path / "reg_typed")
    append_registry_record(
        base,
        {"name": "combo", "version": 1, "algorithm": "ensemble",
         "status": "registered"},
    )
    with pytest.raises(ValueError, match="ENSEMBLE"):
        registry_load(spark, "combo", base=base)
    with pytest.raises(ValueError, match="No registered model"):
        registry_load(spark, "ghost", base=base)


def test_registry_load_pinned_missing_version(spark, engine):
    from declarativeml_spark.ml.models import registry_load

    engine.execute(
        "TRAIN MODEL pin_v USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    with pytest.raises(ValueError, match="no stored artifacts"):
        registry_load(spark, "pin_v", version=99, base=engine.model_dir)


def test_mark_version_status_creates_base_dir(tmp_path):
    from declarativeml_spark.ml.models import mark_version_status

    base = str(tmp_path / "fresh" / "nested")
    mark_version_status("m", 1, "rolled_back", base=base)
    assert _model_versions("m", base)[1] == {1: "rolled_back"}


def test_model_dir_env_read_at_call_time(tmp_path, monkeypatch):
    from declarativeml_spark.ml.models import (
        _registry_path,
        append_registry_record,
    )

    monkeypatch.setenv("DML_MODEL_DIR", str(tmp_path / "env_base"))
    assert _registry_path(None).startswith(str(tmp_path / "env_base"))
    append_registry_record(None, {"name": "m", "version": 1})
    import os

    assert os.path.exists(str(tmp_path / "env_base" / "registry.jsonl"))


def test_tree_param_aliases_map_to_real_estimator_params(spark):
    """Every registry alias must target a parameter the estimator
    actually has — GBTs count boosting rounds in maxIter (not
    numTrees), plain decision trees have no ensemble knobs, and
    LinearSVC has no elastic-net mixing (review r11: the old shared
    alias table crashed fit on documented DSL names)."""
    from declarativeml_spark.ml.registry import REGISTRY

    for name, spec in REGISTRY.items():
        try:
            est = spec.factory()
        except Exception:
            continue  # factories needing a session/args
        if not hasattr(est, "params"):
            continue
        valid = {p.name for p in est.params}
        for alias, target in spec.param_map.items():
            assert target in valid, (name, alias, target)
    # the sklearn-style names land on the GBT's real boosting knobs
    gbt = REGISTRY["gradient_boosting"].build(
        {"n_estimators": 20, "learning_rate": 0.05}
    )
    assert gbt.getMaxIter() == 20
    assert gbt.getStepSize() == 0.05
    rf = REGISTRY["random_forest"].build({"n_estimators": 30})
    assert rf.getNumTrees() == 30


def test_registry_load_serves_in_session_handle(spark, engine):
    """PREDICT-after-TRAIN must not re-read the artifact it just
    wrote: registry_save caches the in-memory PipelineModel handle by
    version dir and registry_load returns it (same object identity).
    Disk resolution still governs: a version the cache never saw
    loads from its artifacts and predicts identically."""
    from declarativeml_spark.ml import models as M

    trained = engine.execute(
        "TRAIN MODEL cache_probe USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    got = M.registry_load(spark, "cache_probe", base=engine.model_dir)
    assert got is trained.pipeline_model  # served from the handle cache

    # evict, then load cold from disk: same predictions as the handle
    M._PIPELINE_CACHE.clear()
    cold = M.registry_load(spark, "cache_probe", base=engine.model_dir)
    assert cold is not trained.pipeline_model
    src = spark.table("orders_labeled")
    a = engine.execute(
        "PREDICT USING MODEL cache_probe FROM orders_labeled"
    ).select("o_orderkey", "prediction").collect()
    b = cold.transform(
        __import__(
            "declarativeml_spark.plans.builder", fromlist=["build_features"]
        ).build_features(src, trained.features).df
    ).select("o_orderkey", "prediction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- one live-version rule: registry_meta and registry_load agree ------------

_REGISTRY_SHAPES = {
    # shape: (versions with a full record, status records, pinned
    # version, expected (version, status) or the typed error)
    "registered": ([1, 2], {}, None, (2, "registered")),
    "deployed": ([1, 2], {1: "deployed"}, None, (2, "registered")),
    "newest_rolled_back": ([1, 2], {2: "rolled_back"}, None, (1, "registered")),
    "all_rolled_back": (
        [1, 2], {1: "rolled_back", 2: "rolled_back"}, None, "rolled back"
    ),
    "ensemble": ("ensemble", {}, None, "ENSEMBLE"),
    "pinned_rolled_back": ([1, 2], {2: "rolled_back"}, 2, (2, "rolled_back")),
    "pinned_missing": ([1], {}, 5, "no stored artifacts"),
    "orphan": ([], {}, None, "No registered model"),
}


@pytest.fixture(scope="module")
def shape_artifact(engine):
    return engine.execute(
        "TRAIN MODEL shape_src USING logistic_regression(max_iter=3) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    ).path


@pytest.mark.parametrize("shape", sorted(_REGISTRY_SHAPES))
def test_registry_meta_and_load_pick_one_version(spark, shape_artifact, tmp_path, shape):
    """Every registry shape resolves to the same version through
    registry_meta and registry_load, or to the existing typed error. An
    orphan ``v<N>`` directory (a save killed before its registry
    append) is never served, by registry_load or by PREDICT."""
    import shutil

    from declarativeml_spark.ml.models import (
        append_registry_record,
        mark_version_status,
        registry_load,
        registry_meta,
    )

    versions, statuses, pinned, expected = _REGISTRY_SHAPES[shape]
    base = str(tmp_path / "reg")
    name = "m"
    if versions == "ensemble":
        append_registry_record(
            base,
            {"name": name, "version": 1, "algorithm": "ensemble",
             "ensemble_members": [{"model": "x", "weight": 1.0}]},
        )
    for v in versions if versions != "ensemble" else ():
        shutil.copytree(shape_artifact, f"{base}/{name}/v{v}")
        append_registry_record(
            base,
            {"name": name, "version": v, "algorithm": "logistic_regression",
             "features": ["o_totalprice"], "target": "expensive",
             "status": "registered"},
        )
    for v, status in statuses.items():
        mark_version_status(name, v, status, base=base)
    if shape == "orphan":
        shutil.copytree(shape_artifact, f"{base}/{name}/v1")

    meta = registry_meta(name, version=pinned, base=base)
    if isinstance(expected, str):
        with pytest.raises(ValueError, match=expected):
            registry_load(spark, name, version=pinned, base=base)
        assert meta.get("version") == (1 if shape == "ensemble" else None)
        if shape == "orphan":
            with pytest.raises(ValueError, match="No registered model named"):
                Engine(spark, model_dir=base).execute(
                    f"PREDICT USING MODEL {name} FROM orders_labeled"
                ).collect()
        return
    assert (meta["version"], meta["status"]) == expected
    # same artifact directory → the same cached handle
    assert registry_load(spark, name, version=pinned, base=base) is registry_load(
        spark, name, version=meta["version"], base=base
    )


def test_workflow_previous_metric_skips_rolled_back_version(spark, engine):
    """``previous_<metric>`` in a workflow block reads the newest OLDER
    live version — the baseline RETRAIN's own guard compares against —
    not ``version - 1`` when that version was rolled back."""
    from declarativeml_spark.dsl.parser import parse_workflow_block_text
    from declarativeml_spark.ml.models import mark_version_status

    def label(expr: str) -> None:
        spark.sql(
            f"SELECT o_orderkey, o_totalprice, CAST({expr} AS INT) AS expensive"
            " FROM orders"
        ).createOrReplaceTempView("prev_metric_src")

    train = (
        "TRAIN MODEL prev_metric USING logistic_regression(max_iter=5) "
        "FROM prev_metric_src PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    label("o_totalprice > 150000")
    v1 = engine.execute(train)
    assert v1.metrics["accuracy"] >= 0.9
    label("o_orderkey % 2")  # unrelated to the feature
    v2 = engine.execute(train)
    assert v2.metrics["accuracy"] < 0.9
    mark_version_status("prev_metric", 2, "rolled_back", engine.model_dir)
    label("o_totalprice > 150000")
    log = engine._run_workflow(
        parse_workflow_block_text(
            "BEGIN RETRAIN MODEL prev_metric;"
            " IF previous_accuracy < 0.9 THEN ALERT ml_team('stale baseline');"
            " END IF; END"
        )
    )
    assert log["conditions"] == [
        {"condition": "previous_accuracy < 0.9", "fired": False}
    ]


def test_evaluate_empty_regression_set_is_a_typed_error(spark, engine):
    """An empty evaluation set names itself instead of reporting every
    requested metric as unavailable; a constant label follows MLlib's
    r2 = 1 − SSerr/SStot (−∞ when the model errs)."""
    engine.execute(
        "TRAIN MODEL empty_eval_reg USING linear_regression(max_iter=5) "
        "FROM orders_labeled PREDICT o_totalprice WITH FEATURES(o_custkey)"
    )
    spark.sql(
        "SELECT * FROM orders_labeled WHERE o_totalprice < 0"
    ).createOrReplaceTempView("orders_none")
    with pytest.raises(ValueError, match="empty evaluation set"):
        engine.execute("EVALUATE MODEL empty_eval_reg ON orders_none METRICS (rmse)")
    spark.sql(
        "SELECT o_orderkey, o_custkey, 1000.0 AS o_totalprice FROM orders_labeled"
    ).createOrReplaceTempView("orders_flat")
    out = engine.execute("EVALUATE MODEL empty_eval_reg ON orders_flat METRICS (r2)")
    assert out["r2"] == float("-inf")


def test_monitor_empty_regression_set_is_a_typed_error(spark, engine):
    """MONITOR on an empty batch raises instead of reporting an
    unhealthy model with no metrics (which alerted WHEN rules)."""
    from declarativeml_spark.dsl import parse

    engine.execute(
        "TRAIN MODEL empty_mon_reg USING linear_regression(max_iter=5) "
        "FROM orders_labeled PREDICT o_totalprice WITH FEATURES(o_custkey)"
    )
    spark.sql(
        "SELECT * FROM orders_labeled WHERE o_totalprice < 0"
    ).createOrReplaceTempView("orders_none_mon")
    alerts = []
    engine.bus.when("model.alert", "TRUE", lambda df: alerts.append(1))
    with pytest.raises(ValueError, match="empty evaluation set"):
        engine._monitor(
            parse("MONITOR MODEL empty_mon_reg ON orders_none_mon CHECK (r2 > -1)"),
            bus=engine.bus,
        )
    engine.bus.dispatch_batch()
    assert alerts == []
