"""Training driver: TrainModel IR → fitted MLlib PipelineModel + metrics.

This is the Spark analogue of the reference's spec'd in-database
training loop (reference: EXTENSIONS.md:136-178 ``ml_train_model``:
run training query → extract tensors → epoch loop → store model).
MLlib's estimators replace the epoch loop's distributed internals
(gradient aggregation per DISTRIBUTED.md:271-343 is MLlib
``treeAggregate``); this driver implements the *statement semantics*
around the fit:

* ``SPLIT DATA``       → seeded ``randomSplit`` with named parts
* ``BALANCE CLASSES``  → oversampling / undersampling / class_weights
* ``VALIDATE USING cv``→ ``CrossValidator``; ``VALIDATE ON part`` →
  post-fit evaluation on the named split
* ``OPTIMIZE FOR``     → evaluator metric for model selection
* ``STOP WHEN``        → epoch clauses become maxIter; metric clauses
  run an epoch-wise early-stopping loop on iterative estimators
  (geometric maxIter schedule 1, 2, 4, …, budget; predicate
  evaluated after each step; training halts — and the stopping
  epoch is recorded in model metadata — at the first step where it
  holds). MLlib can't warm-start, so each step refits; the schedule
  bounds total work at ≤ 2× one full fit (SURVEY.md §7.6).
* ``SAVE CHECKPOINTS`` → persisted model version per interval in the
  incremental loop, recorded in metadata

Scale: the only driver-side data is metrics scalars; all data paths
(fit, transform, evaluate) are distributed DataFrame ops.
"""

from __future__ import annotations

import math
import operator
import os
import re
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    ClusteringEvaluator,
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.dsl.ir import TrainModel
from declarativeml_spark.ml.registry import AlgorithmSpec, get_algorithm
from declarativeml_spark.plans.builder import build_features, resolve_source

SEED = 42

_CLASSIFICATION_METRICS = {
    "accuracy": ("multiclass", "accuracy"),
    "f1": ("multiclass", "f1"),
    "precision": ("multiclass", "weightedPrecision"),
    "recall": ("multiclass", "weightedRecall"),
    "auc": ("binary", "areaUnderROC"),
    "roc_auc": ("binary", "areaUnderROC"),
    "pr_auc": ("binary", "areaUnderPR"),
}
_REGRESSION_METRICS = {
    "rmse": "rmse",
    "mse": "mse",
    "mae": "mae",
    "r2": "r2",
}


@dataclass
class TrainedModel:
    name: str
    algorithm: str
    version: int
    pipeline_model: PipelineModel
    metrics: Dict[str, float]
    features: List[str]
    target: str
    stop_satisfied: Optional[bool] = None
    stopping_epoch: Optional[int] = None
    checkpoints: List[int] = field(default_factory=list)
    path: Optional[str] = None

    def transform(self, df: DataFrame) -> DataFrame:
        return self.pipeline_model.transform(df)


def train(
    spark: SparkSession,
    stmt: TrainModel,
    model_dir: Optional[str] = None,
    statement: Optional[str] = None,
) -> TrainedModel:
    """Execute a TRAIN MODEL statement end-to-end."""
    spec = get_algorithm(stmt.algorithm)
    df = resolve_source(spark, stmt.source, stmt.source_is_identifier)

    plan = build_features(df, stmt.features)
    df = plan.df

    # --- label preparation ------------------------------------------------
    label_col = "label"
    label_materialized = True  # False when a pipeline stage produces it
    stages: list[Any] = list(plan.stages)
    if spec.kind == "classification":
        target_type = dict(df.dtypes).get(stmt.target)
        if target_type == "string":
            stages.append(
                StringIndexer(inputCol=stmt.target, outputCol=label_col, handleInvalid="keep")
            )
            label_materialized = False
        else:
            df = df.withColumn(label_col, F.col(stmt.target).cast("double"))
    elif spec.kind == "regression":
        df = df.withColumn(label_col, F.col(stmt.target).cast("double"))
    else:  # clustering: target ignored but kept for evaluation if present
        label_col = None  # type: ignore[assignment]

    assembler = VectorAssembler(
        inputCols=plan.input_cols, outputCol="features", handleInvalid="keep"
    )
    stages.append(assembler)

    # --- split -------------------------------------------------------------
    splits: dict[str, DataFrame] = {}
    train_df = df
    if stmt.split is not None:
        names = list(stmt.split.ratios.keys())
        parts = df.randomSplit(list(stmt.split.ratios.values()), seed=SEED)
        splits = dict(zip(names, parts))
        train_df = splits.get("training") or splits.get("train") or parts[0]

    # --- class balancing -----------------------------------------------------
    weight_col: Optional[str] = None
    # captured PRE-balance: when no validation/test split exists, the
    # metric fallback must never score the oversampled frame — the
    # with-replacement duplicates are rows the model just memorized,
    # so every metric (and any STOP WHEN predicate) would inflate
    eval_fallback = train_df
    if stmt.balance_method and spec.kind == "classification" and label_col:
        if (
            stmt.balance_method in {"class_weights", "weights", "weighted"}
            and not spec.supports_weight_col
        ):
            # silently training unweighted would ignore the declared
            # balancing semantics; fail loudly with the alternative
            raise ValueError(
                f"BALANCE CLASSES BY class_weights: {spec.name} has no"
                " weight column support — use oversampling or"
                " undersampling"
            )
        # when StringIndexer builds the label inside the pipeline,
        # balance on the raw target column (same class partition)
        balance_col = label_col if label_materialized else stmt.target
        train_df, weight_col = _balance(
            train_df, balance_col, stmt.balance_method
        )

    # --- estimator -----------------------------------------------------------
    params = dict(stmt.params)
    stop = _parse_stop(stmt.stop_condition)
    if (
        stop
        and stop.max_epochs is not None
        and "max_iter" in spec.param_map
    ):
        # epoch-budget clause maps onto maxIter (SURVEY.md §7.6) —
        # only for algorithms that HAVE an iteration budget; injecting
        # it into a tree/NB estimator would crash the constructor with
        # an unexpected-keyword error
        params.setdefault("max_iter", stop.max_epochs)

    est_kwargs: dict[str, Any] = {"featuresCol": "features"}
    if label_col:
        est_kwargs["labelCol"] = label_col
    if weight_col and spec.supports_weight_col:
        est_kwargs["weightCol"] = weight_col
    estimator = spec.build(params, **est_kwargs)
    stages.append(estimator)
    pipeline = Pipeline(stages=stages)

    evaluator, metric_name = _make_evaluator(spec, stmt.optimize_metric, label_col)

    # --- fit (CV or plain, with optional metric-driven refit loop) ---------
    use_cv = (
        stmt.validate is not None
        and stmt.validate.method in {"cv", "cross_validation", "kfold"}
    )
    checkpoints: list[int] = []

    # WITH FALLBACK (DSL.md:372-383): on fit failure, retry with the
    # declared param overrides, up to MAX RETRIES total attempts.
    # Wraps every REAL fit below (plain, CV, and each epoch-wise
    # step) — a 1-row "validation" fit would miss the typical failure
    # modes (bad rows beyond the first, convergence, resources) and
    # can itself fail spuriously (k-means with k > 1 point).
    fb_queue = list(stmt.fallback.retries) if stmt.fallback else []
    fb_attempts = 0

    def _fit_with_fallback(do_fit):
        nonlocal params, estimator, stages, pipeline, fb_attempts
        while True:
            try:
                return do_fit()
            except Exception:  # noqa: BLE001 - fallback is the contract
                if (
                    stmt.fallback is None
                    or not fb_queue
                    or fb_attempts >= stmt.fallback.max_retries
                ):
                    raise
                _, overrides = fb_queue.pop(0)
                params = {**params, **dict(overrides)}
                estimator = spec.build(params, **est_kwargs)
                stages = stages[:-1] + [estimator]
                pipeline = Pipeline(stages=stages)
                fb_attempts += 1

    # Metric STOP WHEN clauses — or a SAVE CHECKPOINTS interval — on
    # an iterative estimator run the epoch-wise loop below instead of
    # one monolithic fit (reference semantics, DSL.md:123-144): the
    # predicate is evaluated as training progresses and the fit HALTS
    # at the first epoch where it holds; checkpoint snapshots persist
    # at interval crossings.
    ckpt_interval = stmt.checkpoint.interval if stmt.checkpoint else None
    if stmt.checkpoint and (stmt.checkpoint.unit or "epochs").lower() not in (
        "epoch", "epochs", "iteration", "iterations",
    ):
        # the parser accepts any NAME as the unit; only epoch-denominated
        # intervals are implemented — dropping the unit silently would
        # turn SAVE CHECKPOINTS EVERY 30 minutes into every 30 EPOCHS
        raise ValueError(
            f"SAVE CHECKPOINTS EVERY n {stmt.checkpoint.unit}: only"
            " epoch-denominated checkpoint intervals are supported"
        )
    epochwise = bool(
        ((stop and stop.metric_clauses) or ckpt_interval)
        and not use_cv
        and _has_max_iter(estimator)
    )
    if ckpt_interval and not epochwise:
        # same fail-loudly contract as the unit check above: declared
        # checkpoint semantics must never silently evaporate
        raise ValueError(
            "SAVE CHECKPOINTS EVERY n: epoch-wise snapshots need an"
            " iterative estimator and a plain fit — "
            + (
                "VALIDATE USING cv has no epoch loop to snapshot"
                if use_cv
                else f"{stmt.algorithm} has no iteration budget (maxIter)"
            )
        )

    if use_cv and isinstance(evaluator, BinaryClassificationEvaluator):
        # CV would otherwise die deep inside a fold with an opaque
        # 'requirement failed' when the target is multiclass —
        # _compute_metrics has the same n_labels > 2 guard
        chk_col = (
            label_col
            if label_materialized and label_col
            else stmt.target
        )
        n_labels = train_df.select(chk_col).distinct().count()
        if n_labels > 2:
            raise ValueError(
                f"OPTIMIZE FOR {metric_name} requires a binary target;"
                f" {stmt.target!r} has {n_labels} classes"
            )

    if use_cv:
        folds = 3
        for key, value in stmt.validate.params or []:
            if key in {"folds", "k", "num_folds"}:
                folds = int(value)
        def _cv_fit():
            # rebuild the CV against the CURRENT pipeline so a
            # fallback retry fits the overridden estimator
            return CrossValidator(
                estimator=pipeline,
                estimatorParamMaps=ParamGridBuilder().build(),
                evaluator=evaluator,
                numFolds=folds,
                seed=SEED,
                parallelism=4,
            ).fit(train_df)

        cv_model = _fit_with_fallback(_cv_fit)
        model = cv_model.bestModel
        cv_metric = float(cv_model.avgMetrics[0]) if cv_model.avgMetrics else None
    elif epochwise:
        model = None  # fitted inside the early-stopping loop below
        cv_metric = None
    else:
        model = _fit_with_fallback(lambda: pipeline.fit(train_df))
        cv_metric = None

    # --- evaluation ----------------------------------------------------------
    eval_df = None
    if stmt.validate is not None and stmt.validate.on:
        eval_df = splits.get(stmt.validate.on)
        if eval_df is None:
            eval_df = resolve_source(spark, stmt.validate.on, True)
            eval_df = build_features(eval_df, stmt.features).df
            if spec.kind == "regression":
                eval_df = eval_df.withColumn(label_col, F.col(stmt.target).cast("double"))
            elif spec.kind == "classification" and label_col:
                # mirror how the TRAIN side built the label: a
                # materialized label means numeric cast; an indexer
                # label is built by the pipeline during transform, so
                # adding one here would collide ("label already
                # exists"). Keying on the EVAL table's dtype instead
                # produced exactly those mismatches.
                if label_materialized:
                    eval_df = eval_df.withColumn(
                        label_col, F.col(stmt.target).cast("double")
                    )
    if eval_df is None:
        eval_df = (
            splits.get("validation") or splits.get("test") or eval_fallback
        )

    # --- STOP WHEN metric clauses: epoch-wise early stopping ----------------
    stop_satisfied: Optional[bool] = None
    stopping_epoch: Optional[int] = None
    if epochwise:
        # MLlib estimators cannot warm-start a fit, so the outer loop
        # refits with a geometric maxIter schedule (1, 2, 4, …,
        # max_iter — ≤ 2× the iterations of one full fit in total)
        # and evaluates the STOP WHEN predicate after each step; the
        # first satisfying step is the recorded stopping epoch and
        # its model is the one kept. Falls through to the final
        # full-budget fit when the predicate never holds.
        # the declared budget may arrive under any iteration alias;
        # otherwise use the estimator's OWN default maxIter (reading
        # only "max_iter" silently overrode epochs=/iterations= and
        # stretched default-20 estimators to 100)
        declared = next(
            (
                params[k]
                for k in ("max_iter", "epochs", "iterations")
                if k in params
            ),
            None,
        )
        target_iter = (
            int(declared)
            if declared is not None
            else int(estimator.getOrDefault("maxIter"))
        )
        schedule: list[int] = []
        e = 1
        while e < target_iter:
            schedule.append(e)
            e *= 2
        schedule.append(target_iter)
        stop_satisfied = False if stop else None
        metrics = None
        prev_e = 0
        # every schedule step refits (and, with STOP WHEN, re-scores)
        # the SAME frames — unpersisted, each step would re-read the
        # source, rebuild the feature plan, and redo any balance
        # unions from scratch (forecast.py persists its equivalent
        # multi-scan frame for the same reason)
        train_df = train_df.persist()
        eval_pinned = (
            eval_df if (stop and eval_df is not train_df) else None
        )
        if eval_pinned is not None:
            eval_df = eval_pinned = eval_pinned.persist()
        try:
            for e in schedule:

                def _step_fit(n_iter=e):
                    # strip iteration aliases so the schedule's budget
                    # is the only maxIter writer
                    base = {
                        k: v
                        for k, v in params.items()
                        if k not in ("epochs", "iterations")
                    }
                    est_e = spec.build(
                        {**base, "max_iter": n_iter}, **est_kwargs
                    )
                    return Pipeline(stages=stages[:-1] + [est_e]).fit(
                        train_df
                    )

                model = _fit_with_fallback(_step_fit)
                if stop:
                    # checkpoint-only loops skip the metric suite per
                    # step (an unused 8-job evaluation per step)
                    metrics = _compute_metrics(
                        model, eval_df, spec, label_col
                    )
                # a checkpoint is the model snapshot at each crossed
                # EVERY-n boundary, persisted — not a log line per
                # schedule step (the geometric steps rarely hit exact
                # multiples; crossing is the honorable reading)
                if ckpt_interval and (e // ckpt_interval) > (
                    prev_e // ckpt_interval
                ):
                    checkpoints.append(e)
                    if model_dir:
                        model.write().overwrite().save(
                            os.path.join(
                                model_dir, stmt.name, f"checkpoint_e{e}"
                            )
                        )
                prev_e = e
                if stop and stop.evaluate(metrics, epoch=e):
                    stop_satisfied = True
                    stopping_epoch = e
                    break
            else:
                # budget exhausted without a metric hit: epoch-budget
                # clauses are satisfied by completion (epoch=None form)
                if stop:
                    stop_satisfied = stop.evaluate(metrics)
            if metrics is None:  # checkpoint-only loop: score at the end
                metrics = _compute_metrics(model, eval_df, spec, label_col)
        finally:
            train_df.unpersist()
            if eval_pinned is not None:
                eval_pinned.unpersist()
        if stopping_epoch is not None:
            metrics["stopping_epoch"] = float(stopping_epoch)
    else:
        metrics = _compute_metrics(model, eval_df, spec, label_col)
        if stop:
            # non-iterative estimator, CV path, or pure epoch budget:
            # the predicate is still reported, evaluated on the final
            # fit (epoch clauses hold — the budget was realized via
            # maxIter or by the non-iterative fit completing)
            stop_satisfied = stop.evaluate(metrics)
    if cv_metric is not None:
        metrics[f"cv_{metric_name}"] = cv_metric

    trained = TrainedModel(
        name=stmt.name,
        algorithm=stmt.algorithm,
        version=1,
        pipeline_model=model,
        metrics=metrics,
        features=list(stmt.features),
        target=stmt.target,
        stop_satisfied=stop_satisfied,
        stopping_epoch=stopping_epoch,
        checkpoints=checkpoints,
    )
    from declarativeml_spark.ml.models import registry_save

    registry_save(spark, trained, base=model_dir, statement=statement)
    return trained


# ---------------------------------------------------------------------------
def _balance(
    df: DataFrame, label_col: str, method: str
) -> tuple[DataFrame, Optional[str]]:
    """BALANCE CLASSES BY {oversampling|undersampling|class_weights}.

    Oversampling/undersampling use per-class ``sampleBy`` fractions —
    a distributed, single-pass resample (no driver loop over rows).

    F7 caveat (documented, not silently "fixed"): when the statement
    also says VALIDATE USING cv, resampling happens BEFORE the folds
    are drawn, so oversampled duplicate rows can land on both sides
    of a fold split and bias cv_<metric> optimistically — the classic
    resample-before-CV leakage. The flagship reference statement
    composes exactly these options, so the composition is preserved;
    use class_weights for leakage-free CV selection.
    """
    counts = {r[0]: r[1] for r in df.groupBy(label_col).count().collect()}
    if not counts:
        return df, None
    if method in {"class_weights", "weights", "weighted"}:
        total = sum(counts.values())
        k = len(counts)
        mapping = F.create_map(
            *[
                x
                for label, cnt in counts.items()
                for x in (F.lit(label), F.lit(total / (k * cnt)))
            ]
        )
        return df.withColumn("__class_weight", mapping[F.col(label_col)]), "__class_weight"
    if method in {"oversampling", "oversample"}:
        target = max(counts.values())
        out = df
        extras = []
        for label, cnt in counts.items():
            if cnt < target:
                ratio = target / cnt - 1.0
                sample = df.filter(F.col(label_col) == label).sample(
                    withReplacement=True, fraction=ratio, seed=SEED
                )
                extras.append(sample)
        for e in extras:
            out = out.unionByName(e)
        return out, None
    if method in {"undersampling", "undersample"}:
        target = min(counts.values())
        fractions = {label: min(1.0, target / cnt) for label, cnt in counts.items()}
        return df.sampleBy(label_col, fractions=fractions, seed=SEED), None
    raise ValueError(
        f"Unknown balance method {method!r}; expected oversampling,"
        " undersampling, or class_weights"
    )


# ---------------------------------------------------------------------------
_OPS = {
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
    "=": lambda a, b: math.isclose(a, b, rel_tol=1e-9),
    "!=": lambda a, b: not math.isclose(a, b, rel_tol=1e-9),
}

_CLAUSE_RE = re.compile(r"(\w+)\s*(>=|<=|!=|>|<|=)\s*([\w.+-]+)")


@dataclass
class StopCondition:
    """Parsed STOP WHEN predicate: epoch budget + metric clauses.

    The canonical condition string is a flat OR-of-AND text (the
    reference compiles it the same way, dsl/parser.py:512-529); we
    evaluate it with Python's precedence over computed metrics.
    """

    text: str
    max_epochs: Optional[int] = None
    metric_clauses: List[tuple] = field(default_factory=list)

    def evaluate(
        self, metrics: Dict[str, float], epoch: Optional[int] = None
    ) -> bool:
        # Evaluate OR groups of AND clauses left-to-right.
        for or_part in self.text.split(" OR "):
            ok = True
            for and_part in or_part.split(" AND "):
                m = _CLAUSE_RE.fullmatch(and_part.strip())
                if not m:
                    ok = False
                    break
                name, op, raw = m.groups()
                if name in {"epochs", "epoch", "iterations"}:
                    # mid-training (epoch given): compare against the
                    # CURRENT epoch — skipping would make an OR'd
                    # epoch clause vacuously true and stop everything
                    # at epoch 1. Post-fit (epoch None): the budget
                    # was realized via maxIter, so the clause holds.
                    if epoch is not None:
                        ok = ok and _OPS[op](float(epoch), float(raw))
                        if not ok:
                            break
                    continue
                if name not in metrics:
                    ok = False
                    break
                ok = ok and _OPS[op](metrics[name], float(raw))
                if not ok:
                    break
            if ok:
                return True
        return False


def _parse_stop(text: Optional[str]) -> Optional[StopCondition]:
    if not text:
        return None
    cond = StopCondition(text=text)
    for m in _CLAUSE_RE.finditer(text):
        name, op, raw = m.groups()
        if name in {"epochs", "epoch", "iterations"}:
            # epoch clauses are never METRIC clauses (classifying
            # them as such triggered the expensive refit loop and
            # then reported vacuous satisfaction); >, >= and = set
            # the budget, < and <= are pure predicates evaluate()
            # checks against the current epoch
            if op in {">", ">=", "="}:
                cond.max_epochs = int(float(raw))
        else:
            cond.metric_clauses.append((name, op, raw))
    return cond


def _has_max_iter(estimator: Any) -> bool:
    return any(p.name == "maxIter" for p in estimator.params)


# ---------------------------------------------------------------------------
def _make_evaluator(spec: AlgorithmSpec, metric: Optional[str], label_col: Optional[str]):
    if spec.kind == "classification":
        key = (metric or "f1").lower()
        family, mname = _CLASSIFICATION_METRICS.get(key, ("multiclass", "f1"))
        if family == "binary":
            return (
                BinaryClassificationEvaluator(labelCol=label_col, metricName=mname),
                key,
            )
        return (
            MulticlassClassificationEvaluator(labelCol=label_col, metricName=mname),
            key,
        )
    if spec.kind == "regression":
        key = (metric or "rmse").lower()
        mname = _REGRESSION_METRICS.get(key, "rmse")
        return RegressionEvaluator(labelCol=label_col, metricName=mname), key
    return ClusteringEvaluator(), "silhouette"


def _compute_metrics(
    model: PipelineModel,
    eval_df: DataFrame,
    spec: AlgorithmSpec,
    label_col: Optional[str],
    scored: Optional[DataFrame] = None,
) -> Dict[str, float]:
    """Score the standard metric set for the algorithm family.

    One transform, cached, multiple evaluator passes — the transform
    output is small (predictions only) relative to training data.
    ``scored`` lets a caller that already transformed the batch (the
    monitor's drift path) share that single pass instead of paying a
    second full scoring run.
    """
    pred = scored if scored is not None else model.transform(eval_df)
    # regression is a single fused aggregate (below) — caching would
    # only force a full-width materialization (features vector
    # included) that the one column-pruned agg pass never needs
    multi_pass = spec.kind != "regression"
    if multi_pass:
        pred = pred.cache()
    try:
        out: dict[str, float] = {}
        if spec.kind == "classification":
            n_labels = pred.select(label_col).distinct().count()
            last_err: Optional[Exception] = None
            for key, (family, mname) in _CLASSIFICATION_METRICS.items():
                if family == "binary":
                    if n_labels > 2:
                        continue
                    ev = BinaryClassificationEvaluator(labelCol=label_col, metricName=mname)
                else:
                    ev = MulticlassClassificationEvaluator(labelCol=label_col, metricName=mname)
                try:
                    out[key] = float(ev.evaluate(pred))
                except Exception as exc:  # noqa: BLE001 — re-raised below
                    # a SINGLE evaluator may legitimately fail (e.g.
                    # a binary metric on a degenerate fold); all of
                    # them failing means evaluation itself is broken
                    # (NULL labels, bad prediction column) and must
                    # not pass as an empty metrics dict — STOP WHEN
                    # clauses would be silently unsatisfiable
                    last_err = exc
                    continue
            if not out and last_err is not None:
                raise ValueError(
                    "evaluation produced no metrics: every classification"
                    f" evaluator failed on label {label_col!r} (are the"
                    " labels NULL after the cast?)"
                ) from last_err
        elif spec.kind == "regression":
            # ONE aggregate job instead of four RegressionEvaluator
            # passes (each .evaluate() is its own Spark job over the
            # same cached predictions). Formulas are MLlib
            # RegressionMetrics' own: SSerr = Σ(y−ŷ)², mae = Σ|y−ŷ|/n,
            # SStot = sample-variance(y)·(n−1) (var_samp matches the
            # online summarizer's numerically-stable merge), r2 = 1 −
            # SSerr/SStot. No declared query's hash depends on these
            # values — they feed the registry record and STOP WHEN.
            err = F.col("prediction") - F.col(label_col)
            row = pred.agg(
                F.count(label_col).alias("n"),
                F.sum(err * err).alias("sse"),
                F.sum(F.abs(err)).alias("sae"),
                F.var_samp(F.col(label_col)).alias("vy"),
            ).collect()[0]
            n = float(row["n"] or 0)
            if n == 0:
                raise ValueError(
                    "empty evaluation set: no rows with a non-NULL label"
                    f" {label_col!r} to score"
                )
            sse = float(row["sse"])
            sstot = (
                float(row["vy"]) * (n - 1.0)
                if row["vy"] is not None
                else 0.0
            )
            out["mse"] = sse / n
            out["rmse"] = out["mse"] ** 0.5
            out["mae"] = float(row["sae"]) / n
            if sstot != 0.0:
                out["r2"] = 1.0 - sse / sstot
            else:
                # a constant label: MLlib's 1 − SSerr/SStot in IEEE
                # arithmetic, −∞ for any error and NaN for none
                out["r2"] = float("-inf") if sse > 0 else float("nan")
        else:
            try:
                out["silhouette"] = float(ClusteringEvaluator().evaluate(pred))
            except Exception:
                pass
        return out
    finally:
        if multi_pass:
            pred.unpersist()
