"""WHEN…THEN rules, CREATE AGENT, and the CLI."""

import json
import subprocess
import sys

import pytest

from declarativeml_spark.dsl import parse
from declarativeml_spark.dsl.ir import Agent, WhenRule
from declarativeml_spark.engine import Engine
from declarativeml_spark.sources.catalog import register_views


def test_parse_when_event_form():
    r = parse(
        "WHEN EVENT 'data.drift' WHERE get_json_object(payload, '$.model') = 'churn' "
        "THEN RETRAIN MODEL churn"
    )
    assert isinstance(r, WhenRule)
    assert r.event_pattern == "data.drift"
    assert "churn" in r.payload_predicate
    assert r.action == "RETRAIN MODEL churn"


def test_parse_when_metric_sugar():
    r = parse("WHEN model_metrics.accuracy < 0.85 THEN RETRAIN MODEL churn")
    assert r.event_pattern == "model.metrics"
    assert "accuracy" in r.payload_predicate and "< 0.85" in r.payload_predicate


def test_when_action_validated_at_parse_time():
    with pytest.raises(ValueError):
        parse("WHEN EVENT 'x' THEN NOT A STATEMENT")


def test_parse_agent():
    a = parse(
        "CREATE AGENT guard MONITOR MODEL churn ON orders CHECK (accuracy > 0.8) "
        "EVERY 1 hour THEN RETRAIN MODEL churn"
    )
    assert isinstance(a, Agent)
    assert a.name == "guard"
    assert a.monitor.model == "churn"
    assert a.monitor.every == 1 and a.monitor.every_unit == "hour"
    assert a.action == "RETRAIN MODEL churn"


@pytest.fixture(scope="module")
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    spark.sql(
        "SELECT *, CAST(o_totalprice > 150000 AS INT) AS expensive FROM orders"
    ).createOrReplaceTempView("orders_labeled")
    eng = Engine(spark, model_dir=str(tmp_path_factory.mktemp("wf_models")))
    eng.execute(
        "TRAIN MODEL wf_clf USING logistic_regression(max_iter=5) "
        "FROM orders_labeled PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    return eng


def test_when_rule_fires_action(engine):
    engine.execute("WHEN EVENT 'model.drift' THEN RETRAIN MODEL wf_clf")
    v_before = engine._model_meta("wf_clf")["version"]
    engine.bus.publish("model.drift", {"model": "wf_clf"})
    engine.bus.dispatch_batch()
    assert engine._model_meta("wf_clf")["version"] == v_before + 1


def test_agent_runs_action_on_unhealthy(engine):
    engine.execute(
        "CREATE AGENT strict MONITOR MODEL wf_clf ON orders_labeled "
        "CHECK (accuracy > 0.999999) THEN RETRAIN MODEL wf_clf"
    )
    v_before = engine._model_meta("wf_clf")["version"]
    results = engine.run_agents_once()
    assert results["strict"]["healthy"] is False
    assert engine._model_meta("wf_clf")["version"] == v_before + 1


def test_cli_plan_mode():
    out = subprocess.run(
        [sys.executable, "-m", "declarativeml_spark.cli"],
        input="TRAIN MODEL m USING logistic_regression FROM t PREDICT y WITH FEATURES(x)",
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0
    plan = json.loads(out.stdout)
    assert plan["name"] == "m" and plan["algorithm"] == "logistic_regression"


def test_split_statements_quote_aware():
    from declarativeml_spark.dsl.parser import parse_script, split_statements

    script = (
        "PUBLISH EVENT a WITH PAYLOAD {note: 'semi;colon'};\n"
        "SEARCH SIMILAR embeddings TOP 3;"
    )
    parts = split_statements(script)
    assert len(parts) == 2
    assert "semi;colon" in parts[0]
    kinds = [type(s).__name__ for s in parse_script(script)]
    assert kinds == ["PublishEvent", "SimilaritySearch"]


def test_execute_script_runs_statements_in_order(engine):
    results = engine.execute_script(
        "PUBLISH EVENT script.start WITH PAYLOAD {step: 1};"
        "DEDUPLICATE documents USING exact"
    )
    assert len(results) == 2
    assert results[1].columns == ["fingerprint", "n_docs", "canonical_id"]


def test_cli_plan_mode_multi_statement():
    out = subprocess.run(
        [sys.executable, "-m", "declarativeml_spark.cli"],
        input=(
            "TRAIN MODEL m USING logistic_regression FROM t PREDICT y"
            " WITH FEATURES(x); PUBLISH EVENT done WITH PAYLOAD {ok: 1}"
        ),
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0
    plans = json.loads(out.stdout)
    assert isinstance(plans, list) and len(plans) == 2
    assert plans[0]["name"] == "m" and plans[1]["event_type"] == "done"


def test_cli_error_contract():
    out = subprocess.run(
        [sys.executable, "-m", "declarativeml_spark.cli"],
        input="TRAIN MODEL",
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 1
    assert "error:" in out.stderr


def test_publish_event_statement(engine):
    from declarativeml_spark.dsl import parse
    from declarativeml_spark.dsl.ir import PublishEvent

    p = parse('PUBLISH EVENT training.epoch_complete WITH PAYLOAD {accuracy: 0.91, model: "m1"}')
    assert isinstance(p, PublishEvent)
    assert p.event_type == "training.epoch_complete"
    assert p.payload == {"accuracy": 0.91, "model": "m1"}

    # publish through the engine fires registered rules immediately
    engine.execute("WHEN EVENT 'ops.%' THEN RETRAIN MODEL wf_clf")
    v_before = engine._model_meta("wf_clf")["version"]
    engine.execute("PUBLISH EVENT ops.manual_retrain WITH PAYLOAD {reason: \"test\"}")
    assert engine._model_meta("wf_clf")["version"] == v_before + 1


def test_subscribe_statement(engine):
    from declarativeml_spark.dsl import parse
    from declarativeml_spark.dsl.ir import WhenRule

    s = parse("SUBSCRIBE TO 'corpus.%' EXECUTE PROCEDURE RETRAIN MODEL wf_clf")
    assert isinstance(s, WhenRule)
    assert s.event_pattern == "corpus.%" and s.action == "RETRAIN MODEL wf_clf"

    engine.execute("SUBSCRIBE TO 'ingest.%' EXECUTE RETRAIN MODEL wf_clf")
    v_before = engine._model_meta("wf_clf")["version"]
    engine.execute("PUBLISH EVENT ingest.batch_done")
    assert engine._model_meta("wf_clf")["version"] == v_before + 1


def test_compile_plan_api():
    from declarativeml_spark import compile_plan

    plan = compile_plan(
        "TRAIN MODEL m USING logistic_regression(max_iter=10, reg=0.5) "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "PREDICT y WITH FEATURES(o_totalprice, scale(log(o_totalprice + 1))) "
        "SPLIT DATA training=0.8, test=0.2 OPTIMIZE FOR f1"
    )
    assert plan["estimator"] == "LogisticRegression"
    assert plan["estimator_params"] == {"maxIter": 10, "regParam": 0.5}
    assert plan["source_mode"] == "sql_fragment"
    assert plan["features_sql"] == [
        "`o_totalprice`",
        "scale(log(`o_totalprice` + 1))",
    ]
    assert plan["split"] == {"training": 0.8, "test": 0.2}

    kplan = compile_plan("COMPUTE k FROM table(a, b) INTO column(c) USING vector_add")
    assert kplan["kernel_registered"] is True

    # reference-name parity: compile_sql is the same compile step
    # (reference dsl/__init__.py:3-5 exports parse + compile_sql)
    from declarativeml_spark import compile_sql

    assert compile_sql is compile_plan


# reference docs/DSL.md:150-157, byte for byte (trailing ; included)
_REFERENCE_MONITOR_AGENT = """CREATE AGENT performance_monitor
  FOR MODEL fraud_detector
  CHECK METRICS EVERY 1 hour
  WHEN accuracy DROPS BELOW 0.85
    OR precision DROPS BELOW 0.80
    OR data_drift EXCEEDS 0.2
  THEN TRIGGER retraining_workflow
  AND NOTIFY on_call_engineer;"""


def test_reference_monitor_agent_parses_verbatim():
    from declarativeml_spark.dsl.parser import parse_script

    a = parse_script(_REFERENCE_MONITOR_AGENT)[0]
    assert isinstance(a, Agent)
    assert a.name == "performance_monitor"
    assert a.monitor.model == "fraud_detector"
    assert a.monitor.source is None  # the model's own stored source
    # WHEN triggers stored NEGATED as health checks
    assert a.monitor.checks == [
        "accuracy >= 0.85",
        "precision >= 0.8",
        "data_drift <= 0.2",
    ]
    assert a.monitor.every == 1 and a.monitor.every_unit == "hour"
    assert a.trigger == "retraining_workflow"
    assert a.notify == "on_call_engineer"


def test_reference_monitor_agent_end_to_end(engine):
    """The FOR MODEL agent monitors on the model's stored TRAIN
    source; failing WHEN clauses publish workflow.trigger +
    notification events; a healthy agent publishes nothing."""
    # impossible bar -> fires; data_drift computed (pred vs label PSI)
    engine.execute(
        "CREATE AGENT ref_mon FOR MODEL wf_clf"
        " CHECK METRICS EVERY 1 hour"
        " WHEN accuracy DROPS BELOW 0.999999 OR data_drift EXCEEDS 5.0"
        " THEN TRIGGER retrain_wf AND NOTIFY oncall"
    )
    events = []
    engine.bus.when("workflow.trigger", "TRUE", lambda df: events.append("trig"))
    engine.bus.when("notification", "TRUE", lambda df: events.append("note"))
    res = engine.run_agents_once()
    r = res["ref_mon"]
    assert r["healthy"] is False
    assert r["checks"]["accuracy >= 0.999999"] is False
    # drift proxy exists, is finite, and PASSES its (generous) check
    assert 0.0 <= r["metrics"]["data_drift"] < 5.0
    assert r["checks"]["data_drift <= 5.0"] is True
    assert "trig" in events and "note" in events
    del engine.agents["ref_mon"]
    # healthy agent: nothing fires
    engine.execute(
        "CREATE AGENT ref_mon_ok FOR MODEL wf_clf"
        " CHECK METRICS EVERY 1 hour WHEN accuracy DROPS BELOW 0.01"
    )
    events.clear()
    res = engine.run_agents_once()
    assert res["ref_mon_ok"]["healthy"] is True
    assert events == []
    del engine.agents["ref_mon_ok"]


def test_if_step_keyword_named_column_not_split():
    """A column that merely collides with a statement-start keyword
    (SCORE) inside a captured statement's own WHERE conjunction must
    stay inside that statement — the chain splitter previously broke
    the THEN chain mid-statement on ``AND SCORE > 2``."""
    from declarativeml_spark.dsl.parser import parse_workflow_block_text

    blk = parse_workflow_block_text(
        """BEGIN
        IF retraining_accuracy < previous_accuracy * 2.0 THEN
          PREDICT USING MODEL wfm FROM orders
            WHERE o_orderstatus = 'O' AND SCORE > 2
            STORE RESULTS IN wf_pred_out
          AND ALERT ml_team('fired');
        END IF;
      END"""
    )
    (step,) = blk.steps
    stmt_actions = [a for a in step.actions if a[0] == "stmt"]
    assert len(stmt_actions) == 1
    assert "AND SCORE > 2" in stmt_actions[0][1]
    assert ("alert", "ml_team", "fired") in step.actions


def test_workflow_rollback_binds_to_the_version_the_block_trained(engine, spark):
    """The reference block (DSL.md:131-144) after a regressing RETRAIN:
    RETRAIN's own 0.95 guard rolls the new version back, and the
    block's ROLLBACK TO previous_version then finds that version
    already rolled back — it must not roll back the still-serving v1
    too, which would leave no version able to serve."""
    from declarativeml_spark.ml.models import _model_versions

    spark.sql(
        "SELECT *, CAST(o_totalprice > 150000 AS INT) AS expensive FROM orders"
    ).createOrReplaceTempView("wf_rb_src")
    engine.execute(
        "TRAIN MODEL wf_rb USING logistic_regression(max_iter=5) "
        "FROM wf_rb_src PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    # labels unrelated to the feature: the retrain regresses
    spark.sql(
        "SELECT *, CAST(o_orderkey % 2 AS INT) AS expensive FROM orders"
    ).createOrReplaceTempView("wf_rb_src")
    engine.execute("""WHEN EVENT 'wf.rb_drift' THEN BEGIN
    RETRAIN MODEL wf_rb;

    IF retraining_accuracy < previous_accuracy * 0.95 THEN
      ROLLBACK TO previous_version
      AND ALERT ml_team('Retraining failed - manual review needed');
    END IF;
  END""")
    engine.bus.publish("wf.rb_drift", {})
    engine.bus.dispatch_batch()
    statuses = _model_versions("wf_rb", engine.model_dir)[1]
    assert statuses[2] == "rolled_back"
    assert statuses[1] != "rolled_back"
    assert engine._model_meta("wf_rb")["version"] == 1
