"""Round-6 verbatim reference parity: every runnable example in the
reference's DSL.md parses byte-for-byte, and the new statement
surfaces (workflow blocks, WHEN MODEL chains, CREATE TYPE, SELECT
built-ins, verbose MONITOR/EXPLAIN, CTE-prefixed statements) execute.
"""

import re

import pytest

from declarativeml_spark.dsl import ir
from declarativeml_spark.dsl.parser import parse, parse_script, split_statements
from declarativeml_spark.engine import Engine
from declarativeml_spark.sources.catalog import register_views


@pytest.fixture(scope="module")
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
               CAST(o_totalprice > 150000 AS INT) AS expensive
        FROM orders
        """
    ).createOrReplaceTempView("orders_rp")
    eng = Engine(spark, model_dir=str(tmp_path_factory.mktemp("rp_models")))
    eng.execute(
        "TRAIN MODEL rp_clf USING logistic_regression(max_iter=5) "
        "FROM orders_rp PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    return eng


def test_every_runnable_reference_example_parses():
    """Sweep every ```sql block in the reference's DSL.md: the only
    statements allowed to fail are the BNF notation fragment, the bare
    WITH FEATURES illustration, the dollar-quoted PG internal, the two
    INTENDED-error examples, and the FALLBACK example that omits the
    PREDICT clause the reference's own grammar requires."""
    src = open("/root/reference/DSL.md").read()
    allowed_failures = {
        "TRAIN MODEL model_name",       # [training_options] BNF brackets
        "WITH FEATURES (",              # grammar illustration fragment
        "SELECT ml_train_model(",       # PG-internal, $$-quoted
        "TRAIN MODEL invalid_example",  # doc: intended compile error
        "TRAIN MODEL another_invalid",  # doc: intended compile error
        "TRAIN MODEL robust_example",   # omits PREDICT (invalid in the
                                        # reference's own grammar too)
    }
    failures = []
    for block in re.findall(r"```sql\n(.*?)```", src, re.S):
        for stmt in split_statements(block):
            body = "\n".join(
                l for l in stmt.splitlines()
                if not l.strip().startswith("--")
            ).strip()
            if not body:
                continue
            try:
                parse(body)
            except Exception:
                failures.append(body.splitlines()[0].strip())
    unexpected = [f for f in failures if f not in allowed_failures]
    assert not unexpected, unexpected
    # the intended-error examples MUST keep failing
    assert "TRAIN MODEL invalid_example" in failures
    assert "TRAIN MODEL another_invalid" in failures


def test_workflow_block_parses_verbatim():
    # reference docs/DSL.md:131-144, byte for byte
    stmts = parse_script("""WHEN EVENT 'data.drift_detected'
  WHERE payload->>'model_name' = 'recommendation_engine'
  AND payload->>'drift_severity' > 0.3
  THEN BEGIN
    RETRAIN MODEL recommendation_engine
      USING LATEST 90 days OF data;

    IF retraining_accuracy < previous_accuracy * 0.95 THEN
      ROLLBACK TO previous_version
      AND ALERT ml_team('Retraining failed - manual review needed');
    END IF;
  END;""")
    assert len(stmts) == 1  # the block's inner ';' must not split
    w = stmts[0]
    assert isinstance(w, ir.WhenRule)
    assert "get_json_object(payload, '$.model_name')" in w.payload_predicate
    assert "get_json_object(payload, '$.drift_severity')" in w.payload_predicate
    assert w.action.startswith("BEGIN")


def test_workflow_block_end_to_end(engine):
    """The block executes with a result context: RETRAIN fills
    retraining_/previous_ metrics; a false IF leaves versions alone; a
    true IF rolls back and alerts."""
    from declarativeml_spark.ml.models import _model_versions

    notes = []
    engine.bus.when("notification", "TRUE", lambda df: notes.append(1))
    # IF guard that can't fire (accuracy won't drop below half)
    engine.execute("""WHEN EVENT 'rp.drift_a' THEN BEGIN
        RETRAIN MODEL rp_clf USING LATEST 9000 days OF data
          TIME COLUMN o_orderdate;
        IF retraining_accuracy < previous_accuracy * 0.5 THEN
          ROLLBACK TO previous_version
          AND ALERT ml_team('half');
        END IF;
      END""")
    engine.bus.publish("rp.drift_a", {})
    engine.bus.dispatch_batch()
    v = engine._model_meta("rp_clf")["version"]
    assert v == 2  # retrained
    assert _model_versions("rp_clf", engine.model_dir)[1].get(2) != "rolled_back"
    assert notes == []
    # IF guard that always fires (accuracy < 2x previous)
    engine.execute("""WHEN EVENT 'rp.drift_b' THEN BEGIN
        RETRAIN MODEL rp_clf USING LATEST 9000 days OF data
          TIME COLUMN o_orderdate;
        IF retraining_accuracy < previous_accuracy * 2.0 THEN
          ROLLBACK TO previous_version
          AND ALERT ml_team('double');
        END IF;
      END""")
    engine.bus.publish("rp.drift_b", {})
    engine.bus.dispatch_batch()
    statuses = _model_versions("rp_clf", engine.model_dir)[1]
    assert statuses.get(3) == "rolled_back"
    assert notes  # the alert arrived as a notification event
    # the rolled-back version no longer serves
    assert engine._model_meta("rp_clf")["version"] == 2


def test_when_model_chain_end_to_end(engine):
    """WHEN MODEL … AND MODEL … THEN DEPLOY TO … AND ARCHIVE … AND
    NOTIFY … (DSL.md:125-130 shape): the AND-chained actions all run
    when a matching model.metrics event arrives."""
    from declarativeml_spark.ml.models import _model_versions

    engine.execute(
        "WHEN MODEL rp_clf ACCURACY > 0.5"
        " AND MODEL rp_clf PRECISION > 0.1"
        " THEN DEPLOY TO rp_endpoint"
        " AND ARCHIVE previous_version"
        " AND NOTIFY rp_team('promoted')"
    )
    notes = []
    engine.bus.when(
        "notification",
        "get_json_object(payload, '$.recipient') = 'rp_team'",
        lambda df: notes.append(1),
    )
    engine.bus.publish(
        "model.metrics",
        {"model": "rp_clf", "accuracy": 0.9, "precision": 0.8},
    )
    engine.bus.dispatch_batch()
    assert notes
    cur = engine._model_meta("rp_clf")["version"]
    assert _model_versions("rp_clf", engine.model_dir)[1].get(cur - 1) == "archived"
    # sub-threshold metrics must NOT fire
    notes.clear()
    engine.bus.publish(
        "model.metrics", {"model": "rp_clf", "accuracy": 0.4, "precision": 0.8}
    )
    engine.bus.dispatch_batch()
    assert notes == []


def test_create_type_and_registry(engine, spark):
    out = engine.execute("""CREATE TYPE feature_vector AS (
      feature_names TEXT[],
      values FLOAT[],
      sparse_indices INTEGER[],  -- for sparse features
      metadata JSONB
    )""").collect()
    assert [(r.field, r.spark_type) for r in out] == [
        ("feature_names", "array<string>"),
        ("values", "array<double>"),
        ("sparse_indices", "array<int>"),
        ("metadata", "string"),
    ]
    st = engine.types["feature_vector"]
    assert st["values"].dataType.simpleString() == "array<double>"
    with pytest.raises(ValueError, match="Unsupported type"):
        engine.execute("CREATE TYPE bad AS (x BLOB)")
    with pytest.raises(ValueError, match="twice"):
        parse("CREATE TYPE t AS (x INT, x INT)")


def test_select_builtin_functions(engine, spark):
    m = engine.execute(
        "SELECT evaluate_model(model_name := 'rp_clf',"
        " test_data := 'orders_rp',"
        " metrics := ARRAY['accuracy', 'f1'])"
    )
    assert set(m) == {"accuracy", "f1"} and m["accuracy"] > 0.5
    fi = engine.execute(
        "SELECT feature_importance(model_name := 'rp_clf',"
        " method := 'shap', sample_size := 1000)"
    ).collect()
    assert [r.feature for r in fi] == ["o_totalprice"]
    engine.execute(
        "TRAIN MODEL rp_clf2 USING decision_tree(max_depth=3) "
        "FROM orders_rp PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    cmp = engine.execute(
        "SELECT compare_models(models := ARRAY['rp_clf', 'rp_clf2'],"
        " test_data := 'orders_rp', primary_metric := 'accuracy')"
    ).collect()
    assert [r.rank for r in cmp] == [1, 2]
    assert {r.model for r in cmp} == {"rp_clf", "rp_clf2"}
    with pytest.raises(ValueError, match="does not accept"):
        engine.execute(
            "SELECT evaluate_model(model_name := 'rp_clf',"
            " test_data := 'orders_rp', bogus := 1)"
        )
    with pytest.raises(ValueError, match="Unknown built-in function"):
        parse("SELECT nonsense_fn(x := 1)")


def test_explain_reference_form(engine, spark):
    key = spark.table("orders_rp").select("o_orderkey").first()[0]
    out = engine.execute(
        f"EXPLAIN PREDICTION rp_clf FOR TRANSACTION o_orderkey = {key}"
        " USING shap_values SHOW TOP 1 features"
    ).collect()
    assert len(out) == 1  # one selected row, one explained prediction
    with pytest.raises(ValueError, match="selector column"):
        engine.execute(
            "EXPLAIN PREDICTION rp_clf FOR TRANSACTION no_col = 1"
        )
    with pytest.raises(ValueError, match="Unknown explanation method"):
        parse(
            "EXPLAIN PREDICTION rp_clf FOR TRANSACTION x = 1 USING lime"
        )


def test_monitor_verbose_form(engine):
    res = engine.execute("""MONITOR MODEL rp_clf
      FOR drift_detection ON features (o_totalprice)
      AND performance_degradation ON accuracy, f1_score
      CHECK FREQUENCY daily
      ALERT WHEN drift_score > 5.0 OR accuracy < 0.1""")
    # generous bars: healthy; drift_score computed (pred-vs-label PSI)
    assert res["healthy"] is True
    assert 0.0 <= res["metrics"]["drift_score"] < 5.0
    assert res["checks"]["drift_score <= 5.0"] is True
    assert res["checks"]["accuracy >= 0.1"] is True


def test_deploy_reference_form(engine):
    rec = engine.execute("""DEPLOY MODEL rp_clf
      TO ENDPOINT real_time_scoring
      WITH CONFIGURATION {
        'max_latency': '50ms',
        'throughput': '1000 rps',
        'scaling': 'auto'
      }
      MONITOR drift_detection
      VERSION CONTROL enabled""")
    cfg = rec["deployment_config"]
    # every clause must land under ITS key, not merely appear somewhere
    assert cfg["endpoint"] == "real_time_scoring"
    assert cfg["max_latency"] == "50ms"
    assert cfg["throughput"] == "1000 rps"
    assert cfg["scaling"] == "auto"
    assert cfg["monitor"] == "drift_detection"
    assert cfg["version_control"] == "enabled"
    assert rec["status"] == "deployed"


def test_cte_prefixed_train_end_to_end(engine, spark):
    trained = engine.execute("""WITH big_orders AS (
      SELECT o_custkey,
             AVG(o_totalprice) AS avg_price,
             COUNT(*) AS n_orders,
             CAST(MAX(o_totalprice) > 200000 AS INT) AS whale
      FROM orders_rp
      GROUP BY o_custkey
    )
    TRAIN MODEL whale_clf USING logistic_regression(max_iter=5)
      FROM big_orders
      PREDICT whale WITH FEATURES(avg_price, n_orders)""")
    assert trained.metrics["accuracy"] > 0.5
    # Catalyst plans CTE + train frame as one query (no temp views)
    assert "big_orders" not in [t.name for t in spark.catalog.listTables()]


def test_split_statements_sql_keywords_do_not_confuse_blocks():
    """Spark's IF() function and CASE…END inside parens (or a
    top-level CASE filter) must not open/close BEGIN blocks; blocks
    keep their inner ';' (review r6 regression repros)."""
    # IF() call in a subquery source: two statements, split cleanly
    parts = split_statements(
        "TRAIN MODEL m USING linear_regression FROM"
        " (SELECT IF(a > 1, 1, 0) AS y, b FROM t) s"
        " PREDICT y WITH FEATURES(b);"
        " EVALUATE MODEL m ON t2"
    )
    assert len(parts) == 2 and parts[1] == "EVALUATE MODEL m ON t2"
    # CASE…END inside a block's parenthesized source must not close it
    parts = split_statements(
        "WHEN EVENT 'x' THEN BEGIN"
        " PROFILE (SELECT CASE WHEN a > 1 THEN 1 ELSE 0 END AS y"
        " FROM t) s;"
        " NOTIFY t2('done');"
        " END; MONITOR MODEL m ON t"
    )
    assert len(parts) == 2
    assert parts[0].startswith("WHEN EVENT") and "NOTIFY" in parts[0]
    assert parts[1].startswith("MONITOR")
    # a TOP-LEVEL CASE…END filter inside a block (END not
    # statement-final) doesn't close the block either
    parts = split_statements(
        "WHEN EVENT 'x' THEN BEGIN"
        " EVALUATE MODEL m ON t WHERE CASE WHEN a THEN 1 ELSE 0 END = 1;"
        " END"
    )
    assert len(parts) == 1


def test_when_model_actions_never_silently_dropped():
    """Known action keywords chain without AND (the README style) —
    and anything else trailing the chain errors instead of being
    silently discarded."""
    w = parse(
        "WHEN MODEL m ACCURACY > 0.9 THEN DEPLOY TO prod"
        " ARCHIVE previous_version"
    )
    assert "ARCHIVE previous_version OF m" in w.action  # chained, not lost
    with pytest.raises(Exception, match="Unexpected|Expected|Unknown"):
        parse(
            "WHEN MODEL m ACCURACY > 0.9 THEN DEPLOY TO prod"
            " utterly_not_an_action ???"
        )


def test_payload_accessor_anchored():
    """Only the bare ``payload`` column rewrites — a column merely
    ENDING in 'payload' must stay untouched."""
    w = parse(
        "WHEN EVENT 'x' WHERE event_payload = 'v'"
        " AND payload->>'k' = 'v' THEN NOTIFY t('m')"
    )
    assert "event_payload = 'v'" in w.payload_predicate
    assert "get_json_object(payload, '$.k')" in w.payload_predicate
    assert "event_get_json_object" not in w.payload_predicate


def test_select_scalar_metrics_coerced(engine):
    m = engine.execute(
        "SELECT evaluate_model(model_name := 'rp_clf',"
        " test_data := 'orders_rp', metrics := 'accuracy')"
    )
    assert set(m) == {"accuracy"}  # not a char-wise filter to {}


def test_agents_md_register_and_subscribe_verbatim(engine):
    """AGENTS.md:41-51 + 189-196 byte for byte: PUBLISH with quoted
    payload keys, SUBSCRIBE … EXECUTE PROCEDURE (registered handler),
    REGISTER AGENT with bracket lists, PUBLISH TO, 'high' priority."""
    calls = []
    engine.register_procedure(
        "handle_model_ready", lambda eng: calls.append(1)
    )
    engine.execute("""SUBSCRIBE TO 'model.convergence.*'
  EXECUTE PROCEDURE handle_model_ready()""")
    engine.execute("""PUBLISH EVENT 'model.convergence.detected'
  WITH PAYLOAD {
    'model_name': 'fraud_detector',
    'final_accuracy': 0.94,
    'training_epochs': 87,
    'convergence_reason': 'validation_plateau'
  }""")
    assert calls == [1]
    with pytest.raises(ValueError, match="Unknown procedure"):
        engine.execute("CALL never_registered()")
    rec = engine.execute("""REGISTER AGENT overfitting_monitor
  WITH CAPABILITIES ['training_monitoring', 'early_stopping']
  SUBSCRIBE TO ['training.epoch_complete', 'model.training_started']
  PUBLISH TO ['training.early_stop', 'training.checkpoint_created']
  PRIORITY 'high'
  RESOURCE_LIMITS {'max_memory': '1GB', 'max_cpu': '2 cores'}""")
    assert rec["capabilities"] == ["training_monitoring", "early_stopping"]
    assert rec["subscribe_to"] == [
        "training.epoch_complete", "model.training_started"
    ]
    assert rec["publish_to"] == [
        "training.early_stop", "training.checkpoint_created"
    ]
    assert rec["priority"] == "high"
    assert rec["resource_limits"]["max_memory"] == "1GB"


def test_readme_converged_rule_verbatim(engine):
    """README.md:54-57 byte for byte: CONVERGED condition, AND-less
    action chain, bare NOTIFY, SCHEDULE retraining."""
    from declarativeml_spark.dsl.parser import parse_script

    w = parse_script("""WHEN MODEL fraud_detector CONVERGED
  DEPLOY TO real_time_scoring
  NOTIFY ops_team
  SCHEDULE retraining IN 30 days;""")[0]
    assert w.event_pattern == "model.converged"
    assert "fraud_detector" in w.payload_predicate
    assert "DEPLOY MODEL fraud_detector TO ENDPOINT real_time_scoring" in w.action
    assert "NOTIFY ops_team('')" in w.action
    assert "SCHEDULE retraining IN 30 days FOR fraud_detector" in w.action
    # end to end on a real model
    engine.execute(
        "WHEN MODEL rp_clf CONVERGED DEPLOY TO conv_ep"
        " NOTIFY conv_team SCHEDULE retraining IN 30 days"
    )
    engine.bus.publish("model.converged", {"model": "rp_clf"})
    engine.bus.dispatch_batch()
    sched = engine.retrain_schedules["rp_clf"]
    assert (sched["model"], sched["in_n"], sched["unit"]) == (
        "rp_clf", 30, "days"
    )
    assert "scheduled_at" in sched  # persisted with its timestamp


def test_readme_trend_agent_verbatim(engine):
    """README.md:60-63 byte for byte: the trend agent parses; firing
    needs k consecutive moves of the metric in the stated direction
    (static metrics never fire; a seeded decreasing streak does)."""
    a = parse("""CREATE AGENT overfitting_monitor
  CHECK MODEL fraud_detector EVERY 10 epochs
  WHEN validation_loss INCREASES FOR 3 consecutive_checks
  THEN stop_training AND rollback_to_best_checkpoint""")
    assert isinstance(a, ir.TrendAgent)
    assert (a.metric, a.direction, a.k) == ("validation_loss", "increases", 3)
    assert a.actions == ("stop_training", "rollback_to_best_checkpoint")
    # live agent on a real metric: accuracy is deterministic per tick,
    # so an INCREASES watch never fires
    engine.execute(
        "CREATE AGENT acc_watch CHECK MODEL rp_clf EVERY 1 ticks"
        " WHEN accuracy INCREASES FOR 2 consecutive_checks"
        " THEN stop_training"
    )
    r1 = engine.run_agents_once()["acc_watch"]
    r2 = engine.run_agents_once()["acc_watch"]
    assert not r1["fired"] and not r2["fired"]
    # DECREASES agent with a seeded falling streak fires and routes
    # the action to a registered procedure
    fired = []
    engine.register_procedure("stop_training", lambda eng: fired.append(1))
    engine.execute(
        "CREATE AGENT acc_fall CHECK MODEL rp_clf EVERY 1 ticks"
        " WHEN accuracy DECREASES FOR 2 consecutive_checks"
        " THEN stop_training AND escalate"
    )
    engine._trend_history["acc_fall"] = [1.5, 1.4]  # > any real accuracy
    events = []
    engine.bus.when(
        "agent.action",
        "get_json_object(payload, '$.action') = 'escalate'",
        lambda df: events.append(1),
    )
    res = engine.run_agents_once()["acc_fall"]
    assert res["fired"] and fired == [1] and events == [1]
    # the streak re-arms after firing
    assert engine._trend_history["acc_fall"] == []
    del engine.agents["acc_watch"]
    del engine.agents["acc_fall"]
    # an unknown metric is a REGISTRATION error (listing what exists),
    # never a broken tick that would disable every other agent
    with pytest.raises(ValueError, match="available"):
        engine.execute(
            "CREATE AGENT bad_watch CHECK MODEL rp_clf EVERY 1 ticks"
            " WHEN validation_loss INCREASES FOR 2 consecutive_checks"
            " THEN stop_training"
        )
    assert "bad_watch" not in engine.agents


def test_agents_md_coordination_chain_verbatim(engine):
    """AGENTS.md:151-161 byte for byte: ON EVENT chains with dotted
    agent.method handlers, glob wildcards, and bare EXECUTE."""
    ran = []
    for proc in (
        "validation_agent.evaluate_model",
        "deployment_agent.stage_model",
        "monitoring_agent.setup_drift_detection",
        "notification_agent.alert_stakeholders",
    ):
        engine.register_procedure(proc, lambda eng, p=proc: ran.append(p))
    for stmt in [
        "ON EVENT 'training.complete'\n  EXECUTE validation_agent.evaluate_model()",
        "ON EVENT 'validation.passed'\n  EXECUTE deployment_agent.stage_model()",
        "ON EVENT 'model.staged'\n  EXECUTE monitoring_agent.setup_drift_detection()",
        "EXECUTE notification_agent.alert_stakeholders()",
    ]:
        engine.execute(stmt)
    assert ran == ["notification_agent.alert_stakeholders"]  # bare EXECUTE ran now
    engine.bus.publish("model.staged", {})
    engine.bus.dispatch_batch()
    assert "monitoring_agent.setup_drift_detection" in ran
    assert "validation_agent.evaluate_model" not in ran  # pattern-gated


def test_extensions_md_set_config_verbatim(engine, spark):
    """EXTENSIONS.md:371-374 byte for byte: SET lands in the Spark
    session conf under the dotted key."""
    engine.execute("SET declarative.max_tensor_size = '1GB'")
    engine.execute("SET declarative.cuda_enabled = true")
    assert spark.conf.get("declarative.max_tensor_size") == "1GB"
    assert spark.conf.get("declarative.cuda_enabled") == "true"


def test_other_reference_docs_runnable_examples_parse():
    """Sweep AGENTS.md / README.md / EXTENSIONS.md like DSL.md: the
    only allowed failures are PostgreSQL-internal constructs (plpgsql
    agent bodies, raw DML on coordination tables, CREATE EXTENSION
    installs, PG init functions) — everything a DSL user runs
    parses."""
    allowed = {
        "AGENTS.md": {
            "CREATE AGENT overfitting_monitor AS",     # plpgsql body
            "CREATE AGENT hyperparameter_optimizer AS",
            "CREATE AGENT agent_health_monitor AS",
            "UPDATE agent_coordination_state",         # raw DML
        },
        "README.md": set(),
        "EXTENSIONS.md": {
            "CREATE EXTENSION declarative_ml_core CASCADE",
            "CREATE EXTENSION declarative_algorithms CASCADE",
            "CREATE EXTENSION declarative_coordination CASCADE",
            "CREATE EXTENSION declarative_dsl CASCADE",
            "SELECT init_coordination_system()",       # PG init fns
            "SELECT register_postgres_instance(",
        },
    }
    for fname, ok_fail in allowed.items():
        src = open(f"/root/reference/{fname}").read()
        for block in re.findall(r"```sql\n(.*?)```", src, re.S):
            for stmt in split_statements(block):
                body = "\n".join(
                    l for l in stmt.splitlines()
                    if not l.strip().startswith("--")
                ).strip()
                if not body:
                    continue
                try:
                    parse(body)
                except Exception:
                    head = body.splitlines()[0].strip()
                    assert head in ok_fail, (fname, head)


def test_converged_event_published_by_training(engine):
    """TRAIN itself announces model.converged, so the README flow is
    real end-to-end — no manual publish needed."""
    fired = []
    engine.execute(
        "WHEN MODEL conv_clf CONVERGED NOTIFY conv_watchers"
    )
    engine.bus.when(
        "notification",
        "get_json_object(payload, '$.recipient') = 'conv_watchers'",
        lambda df: fired.append(1),
    )
    engine.execute(
        "TRAIN MODEL conv_clf USING logistic_regression(max_iter=5) "
        "FROM orders_rp PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    # the converged dispatch ran the rule; its notification is queued —
    # one more dispatch delivers it (one snapshot per pass, no
    # unbounded recursion)
    engine.bus.dispatch_batch()
    assert fired == [1]
    # mixing CONVERGED with metric clauses is a parse-time error, not
    # a rule that silently never fires
    with pytest.raises(ValueError, match="two rules"):
        parse(
            "WHEN MODEL m ACCURACY > 0.9 AND MODEL m CONVERGED"
            " THEN DEPLOY TO prod"
        )


def test_subscribe_procedure_dotted_and_wait_for_glob(engine, spark):
    """Dotted handlers work in SUBSCRIBE … EXECUTE PROCEDURE exactly
    like ON EVENT; wait_for speaks the same glob language as
    subscribe."""
    ran = []
    engine.register_procedure("ops.page_oncall", lambda eng: ran.append(1))
    engine.execute(
        "SUBSCRIBE TO 'incident.*' EXECUTE PROCEDURE ops.page_oncall()"
    )
    engine.bus.publish("incident.sev1", {})
    engine.bus.dispatch_batch()
    assert ran == [1]
    engine.bus.publish("deploy.finished", {})
    got = engine.bus.wait_for("deploy.*", timeout_s=2.0)
    assert got is not None and got.count() == 1
