"""Ensembles, deployment records, monitoring.

Reference semantics implemented Spark-first:
* ``CREATE ENSEMBLE`` (DSL.md:320-327) — weighted average of member
  model predictions: score with each PipelineModel, combine with
  ``Σ wᵢ·predᵢ / Σ wᵢ`` (plain column arithmetic — one pass, no UDF).
* ``DEPLOY MODEL`` (DSL.md:57-66) — registry status flip + config.
* ``DEPLOY MODELS ... TRAFFIC SPLIT`` (DSL.md:330-334) — records the
  A/B deployment (models, split, promotion rule) in the registry; no
  statement routes rows on it.
* ``MONITOR MODEL`` (DSL.md:347-351) — score + metric checks + drift
  statistics; failed checks publish ``model.alert`` events.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.ml.models import (
    append_registry_record as _append_record,  # engine.py imports this name
    registry_load,
)


def create_ensemble(
    spark: SparkSession,
    name: str,
    models: List[Tuple[str, float]],
    method: str = "weighted_average",
    base: Optional[str] = None,
) -> dict:
    """Register an ensemble: validates members exist, weights are
    usable, and members share ONE feature spec (scoring derives the
    feature plan from the first member alone — a member trained on
    different FEATURES would crash or silently mis-score at PREDICT
    time, far from this statement)."""
    from declarativeml_spark.ml.models import registry_meta

    if method != "weighted_average":
        raise ValueError(f"Unknown ensemble method {method!r}; only weighted_average")
    if not models:
        raise ValueError("COMBINE MODELS needs at least one member")
    if sum(w for _, w in models) <= 0:
        raise ValueError(
            "ensemble weights must sum to a positive value (a zero or"
            " negative total makes every prediction NULL)"
        )
    feature_specs = {}
    for mname, _ in models:
        # existence check from the registry metadata alone — loading
        # every member's full PipelineModel (all stages, tree forests)
        # through Py4J just to validate a registration statement was
        # pure deserialization cost; scoring still goes through
        # registry_load's full artifact checks
        meta = registry_meta(mname, base=base)
        if not meta:
            raise ValueError(
                f"Unknown model {mname!r} — ensemble members must be"
                " registered models"
            )
        feature_specs[mname] = tuple(meta.get("features") or ())
    distinct = set(feature_specs.values())
    if len(distinct) > 1:
        raise ValueError(
            "ensemble members must share one FEATURES spec — scoring"
            " derives features from the first member only; got"
            f" {feature_specs!r}"
        )
    record = {
        "name": name,
        "version": 1,
        "algorithm": "ensemble",
        "ensemble_members": [{"model": m, "weight": w} for m, w in models],
        "method": method,
        "status": "registered",
    }
    _append_record(base, record)
    return record


def score_ensemble(
    spark: SparkSession,
    members: List[Tuple[str, float]],
    df: DataFrame,
    base: Optional[str] = None,
    prediction_col: str = "prediction",
) -> DataFrame:
    """Weighted-average scoring across member models.

    One transform per member; each adds its contribution column which
    is combined with column arithmetic. Transforms are narrow (no
    shuffle), so the whole ensemble is a single pass over the data
    regardless of member count.

    Semantics by member kind: REGRESSION members average their
    predictions directly. CLASSIFICATION members average their class
    PROBABILITY vectors and predict the argmax (lowest index on ties,
    MLlib's rule) — averaging class INDICES would mint labels no
    member predicted (two members voting classes 0 and 2 must not
    "predict" class 1). Members must agree on the class count;
    mixing classifier and regressor members is refused.
    """
    total_w = sum(w for _, w in members)
    if not members or total_w <= 0:
        raise ValueError(
            "ensemble weights must sum to a positive value (a zero"
            " total divides every prediction into NULL)"
        )
    out = df
    member_cols = []
    n_classes: Optional[int] = None  # None until first member decides
    # A string-target classification member builds its label via an
    # in-pipeline StringIndexer (training.py label_materialized=False);
    # the keep-list below deliberately drops transform-built columns,
    # which used to drop that label too and VALIDATE ON then selected
    # a nonexistent 'label'. Preserve the FIRST member's built label
    # (the metric contract is "keyed by the first member" —
    # engine._validate_ensemble) under an alias so later members'
    # indexers can still emit their own 'label' without a duplicate-
    # column clash, and restore the name at the end.
    label_aside = None
    for i, (mname, w) in enumerate(members):
        model = registry_load(spark, mname, base=base)
        mc = getattr(model.stages[-1], "numClasses", None)
        if i == 0:
            n_classes = mc
        elif mc != n_classes:
            raise ValueError(
                f"ensemble member {mname!r} disagrees on kind/classes"
                f" ({mc} vs {n_classes}) — classifier and regressor"
                " members (or different class counts) cannot share a"
                " weighted average"
            )
        col = f"__pred_{i}"
        scored = model.transform(out)
        keep = [c for c in scored.columns if c in out.columns]
        if i == 0 and "label" in scored.columns and "label" not in out.columns:
            keep.append("label")
            label_aside = "__member0_label"
        if n_classes is not None:
            if "probability" not in scored.columns:
                raise ValueError(
                    f"ensemble member {mname!r} is a classifier with no"
                    " probability column (e.g. linear_svc) — a weighted"
                    " average needs probabilistic members"
                )
            from pyspark.ml.functions import vector_to_array

            contrib = vector_to_array(F.col("probability")).alias(col)
        else:
            contrib = F.col(prediction_col).alias(col)
        out = scored.select(*keep, contrib)
        if i == 0 and label_aside:
            out = out.withColumnRenamed("label", label_aside)
        member_cols.append((col, w))
    if n_classes is not None:
        summed = None
        for c, w in member_cols:
            term = F.transform(F.col(c), lambda v: v * F.lit(float(w)))
            summed = (
                term
                if summed is None
                else F.zip_with(summed, term, lambda a, b: a + b)
            )
        avg = F.transform(summed, lambda v: v / F.lit(float(total_w)))
        # argmax with the lowest-index tie-break (MLlib's rule);
        # array_position returns the FIRST match, 1-based
        combined = (
            F.array_position(avg, F.array_max(avg)) - F.lit(1)
        ).cast("double")
    else:
        combined = sum(
            F.col(c) * F.lit(w) for c, w in member_cols
        ) / F.lit(total_w)
    out = out.withColumn(prediction_col, combined)
    out = out.drop(*[c for c, _ in member_cols])
    if label_aside:
        out = out.withColumnRenamed(label_aside, "label")
    return out


def deploy_model(
    spark: SparkSession,
    model: str,
    version: Optional[int] = None,
    config: Optional[Dict[str, Any]] = None,
    base: Optional[str] = None,
) -> dict:
    """Flip a model version to deployed status with serving config.
    The version and its artifacts are resolved once, by the rule
    ``registry_load`` serves with; the status record names that
    version, never a null one."""
    from declarativeml_spark.ml.models import registry_resolve

    version = registry_resolve(model, version, base)[0]["version"]
    record = {
        "name": model,
        "version": version,
        "status": "deployed",
        "deployment_config": config or {},
    }
    _append_record(base, record)
    return record


def _prediction_drift_psi(spec, label_col: str, scored) -> float:
    """Population-stability index between the PREDICTED and ACTUAL
    label distributions on the monitored batch — the stored-state-free
    drift proxy behind the reference's ``data_drift EXCEEDS t`` check
    (DSL.md:155): when the model's output distribution walks away from
    the ground-truth distribution, either the data or the concept
    moved. 0 = identical; rule-of-thumb alert band starts ~0.2.

    Bins: label classes (classification) or the batch's label deciles
    (regression). Scale: one transform + two bounded groupBy
    aggregations over ≤ ~10 bins; the ε-smoothed PSI sum runs on the
    driver over that bin plane."""
    import math

    pred = scored.select(
        F.col("prediction").cast("double").alias("p"),
        F.col(label_col).cast("double").alias("y"),
    )
    if spec.kind == "regression":
        edges = pred.stat.approxQuantile(
            "y", [i / 10.0 for i in range(1, 10)], 1.0e-3
        )
        # strictly increasing FINITE edges (ties collapse bins — fine;
        # a NaN/inf decile — Spark sorts NaN greatest, so >=10% NaN
        # labels produce one — would render as the unresolvable SQL
        # token `nan` and crash the whole monitoring run)
        edges = sorted(
            {e for e in edges if e is not None and math.isfinite(e)}
        )
        bin_expr = "1 + " + " + ".join(
            f"CASE WHEN {{c}} > {e!r} THEN 1 ELSE 0 END" for e in edges
        ) if edges else "1"
        pred = pred.select(
            F.expr(bin_expr.format(c="p")).alias("p"),
            F.expr(bin_expr.format(c="y")).alias("y"),
        )
    pred = pred.persist()
    try:
        p_counts = {r["p"]: r["n"] for r in pred.groupBy("p").agg(F.count("*").alias("n")).collect()}
        q_counts = {r["y"]: r["n"] for r in pred.groupBy("y").agg(F.count("*").alias("n")).collect()}
    finally:
        pred.unpersist()
    total = sum(q_counts.values())
    if total == 0:
        return 0.0
    eps = 1.0e-6
    psi = 0.0
    for b in set(p_counts) | set(q_counts):
        pi = max(p_counts.get(b, 0) / total, eps)
        qi = max(q_counts.get(b, 0) / total, eps)
        psi += (pi - qi) * math.log(pi / qi)
    return float(psi)


def monitor_model(
    spark: SparkSession,
    model: str,
    df: DataFrame,
    target: str,
    algorithm: str,
    checks: List[str],
    base: Optional[str] = None,
    bus=None,
) -> dict:
    """Evaluate model health on fresh data; run threshold checks.

    Returns metrics + per-check pass/fail; failing checks publish a
    ``model.alert`` event when an EventBus is supplied (the WHEN…THEN
    layer consumes those).
    """
    from declarativeml_spark.ml.evaluate import _with_label
    from declarativeml_spark.ml.registry import get_algorithm
    from declarativeml_spark.ml.training import StopCondition, _compute_metrics

    spec = get_algorithm(algorithm)
    pipeline = registry_load(spark, model, base=base)
    df, label_col = _with_label(pipeline, df, spec, target)
    drift_needed = any(
        ("data_drift" in c) or ("drift_score" in c) for c in checks
    )
    if drift_needed and spec.kind == "clustering":
        raise ValueError(
            "data_drift checks need a supervised model (the drift"
            " proxy compares predicted vs actual label"
            " distributions)"
        )
    # ONE transform: shared by the metric suite and the PSI pass (the
    # drift path previously re-scored the whole batch a second time)
    scored = pipeline.transform(df) if drift_needed else None
    metrics = _compute_metrics(pipeline, df, spec, label_col, scored=scored)
    if drift_needed:
        # reference DSL.md:155 `data_drift EXCEEDS 0.2`; DSL.md:351
        # `drift_score > 0.3` — two spellings, one metric
        psi = _prediction_drift_psi(spec, label_col, scored=scored)
        metrics["data_drift"] = psi
        metrics["drift_score"] = psi
    results: dict[str, Any] = {"metrics": metrics, "checks": {}}
    for check in checks:
        ok = StopCondition(text=check).evaluate(metrics)
        results["checks"][check] = ok
        if not ok and bus is not None:
            bus.publish(
                "model.alert",
                {"model": model, "check": check, "metrics": metrics},
            )
    results["healthy"] = all(results["checks"].values()) if checks else True
    return results
