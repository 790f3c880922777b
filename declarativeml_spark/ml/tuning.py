"""Hyperparameter search: the ``CREATE AGENT … SEARCH SPACE`` tuner.

The reference specifies a hyperparameter-optimization agent
(reference DSL.md:158-171): ``OPTIMIZE USING bayesian_optimization
SEARCH SPACE {…} MAXIMIZE metric WITH BUDGET 50 trials PARALLEL
EXECUTION 4 workers``. The Spark-first fulfillment:

* the search space compiles to a DETERMINISTIC budget-capped trial
  lattice (``build_trials``): ``choice`` lists enumerate verbatim;
  ``uniform``/``log_uniform`` become midpoint lattices sized so the
  cross product covers the budget; when the product exceeds the
  budget, trials are chosen by a seeded hash ranking over the lattice
  (quasi-random coverage, reproducible across runs and engines — no
  RNG state);
* the trials fit as ONE ``TrainValidationSplit`` whose
  ``estimatorParamMaps`` is the lattice and whose ``parallelism`` is
  the statement's worker count — Spark schedules the parallel fits,
  which is exactly what ``PARALLEL EXECUTION k workers`` asks for;
* the method name (``bayesian_optimization``, ``grid_search``,
  ``random_search``) is recorded metadata: every method resolves to
  this deterministic search, because a sequential
  propose-evaluate-update loop would serialize the trials the
  statement asks to parallelize (documented trade; the lattice is the
  parallel-friendly quasi-random design Bergstra & Bengio, JMLR 2012,
  recommend over grids).

Scale: each trial is a full distributed MLlib fit; the driver holds
only the trial lattice (≤ budget dicts) and one metric per trial.
The training frame is persisted once and shared by all trials.
"""

from __future__ import annotations

import hashlib
import math
from typing import Any, Dict, List, Optional, Tuple

from pyspark.ml import Pipeline
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.tuning import TrainValidationSplit
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.dsl.ir import TrainModel, TunerAgent
from declarativeml_spark.ml.registry import get_algorithm
from declarativeml_spark.plans.builder import build_features, resolve_source

_KNOWN_METHODS = {"bayesian_optimization", "grid_search", "random_search"}


def _lattice(spec: tuple, m: int) -> List[float]:
    """m midpoint samples of a uniform/log_uniform interval — midpoints
    (never the endpoints) so m=1 degrades to the interval center, and
    stratified coverage holds for any m."""
    kind = spec[0]
    lo, hi = float(spec[1]), float(spec[2])
    if kind == "log_uniform":
        llo, lhi = math.log(lo), math.log(hi)
        return [math.exp(llo + (i + 0.5) * (lhi - llo) / m) for i in range(m)]
    return [lo + (i + 0.5) * (hi - lo) / m for i in range(m)]


def build_trials(
    space: Tuple[Tuple[str, tuple], ...], budget: int, seed_key: str
) -> List[Dict[str, Any]]:
    """Deterministic trial list, len ≤ budget.

    choice params contribute their literal values; continuous params
    contribute an m-point midpoint lattice with m sized so the full
    cross product reaches the budget. An over-budget product is cut by
    ranking lattice points with ``md5(seed_key:index)`` and keeping the
    first ``budget`` — reproducible quasi-random coverage with no RNG.
    """
    n_choice = 1
    n_cont = 0
    for _, spec in space:
        if spec[0] == "choice":
            n_choice *= len(spec[1])
        else:
            n_cont += 1
    if n_cont:
        m = max(2, math.ceil((budget / n_choice) ** (1.0 / n_cont)))
    else:
        m = 1
    axes: List[Tuple[str, List[Any]]] = []
    for pname, spec in space:
        if spec[0] == "choice":
            axes.append((pname, list(spec[1])))
        else:
            axes.append((pname, _lattice(spec, m)))
    combos: List[Dict[str, Any]] = [{}]
    for pname, values in axes:
        combos = [{**c, pname: v} for c in combos for v in values]
    if len(combos) <= budget:
        return combos
    ranked = sorted(
        range(len(combos)),
        key=lambda i: hashlib.md5(
            f"{seed_key}:{i}".encode()
        ).hexdigest(),
    )[:budget]
    return [combos[i] for i in sorted(ranked)]


def _tuning_frame(spark: SparkSession, stmt: TrainModel, spec):
    """The base model's training frame + feature stages — the same
    label/assembler preparation as ml/training.py::train, without the
    statement's split/balance/stop machinery (TrainValidationSplit
    provides the tuner's own train/validation protocol)."""
    df = resolve_source(spark, stmt.source, stmt.source_is_identifier)
    plan = build_features(df, stmt.features)
    df = plan.df
    stages: list[Any] = list(plan.stages)
    label_col: Optional[str] = "label"
    if spec.kind == "classification":
        if dict(df.dtypes).get(stmt.target) == "string":
            stages.append(
                StringIndexer(
                    inputCol=stmt.target,
                    outputCol="label",
                    handleInvalid="keep",
                )
            )
        else:
            df = df.withColumn("label", F.col(stmt.target).cast("double"))
    elif spec.kind == "regression":
        df = df.withColumn("label", F.col(stmt.target).cast("double"))
    else:
        label_col = None
    stages.append(
        VectorAssembler(
            inputCols=plan.input_cols,
            outputCol="features",
            handleInvalid="keep",
        )
    )
    return df, stages, label_col


def _render_dsl_value(v) -> str:
    """One DSL parameter literal: numbers plain, strings
    single-quoted with ``''`` escaping, lists recursively. Search
    spaces only produce these shapes (choice/uniform/log_uniform)."""
    if isinstance(v, bool) or v is None:
        raise ValueError(
            f"cannot render {v!r} as a DSL parameter literal"
        )
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_render_dsl_value(x) for x in v) + "]"
    raise ValueError(f"cannot render {type(v).__name__} as a DSL literal")


def annotate_statement(statement: str, algorithm: str, params: dict) -> str:
    """Splice ``params`` into a TRAIN statement's ``USING
    <algorithm>(…)`` clause and VALIDATE the result by re-parsing.

    The tuner registers the winning pipeline as a new version of the
    base model; without this, the stored statement kept the
    PRE-tuning params and a later ``RETRAIN MODEL`` silently
    re-fitted the un-tuned configuration — the paid-for search result
    was discarded."""
    from declarativeml_spark.dsl.parser import parse

    marker = f"USING {algorithm}"
    at = statement.find(marker)
    if at < 0:
        raise ValueError(
            f"cannot annotate statement: USING {algorithm} clause not"
            f" found in {statement!r}"
        )
    end = at + len(marker)
    # existing param list? scan balanced parens (list/dict literals
    # inside the params nest)
    j = end
    while j < len(statement) and statement[j].isspace():
        j += 1
    if j < len(statement) and statement[j] == "(":
        depth = 0
        while j < len(statement):
            if statement[j] == "(":
                depth += 1
            elif statement[j] == ")":
                depth -= 1
                if depth == 0:
                    j += 1
                    break
            j += 1
        if depth != 0:
            raise ValueError(
                f"unbalanced parameter list in {statement!r}"
            )
        end = j
    rendered = ", ".join(
        f"{k}={_render_dsl_value(v)}" for k, v in params.items()
    )
    new_stmt = (
        statement[:at]
        + f"USING {algorithm}({rendered})"
        + statement[end:]
    )
    reparsed = parse(new_stmt)
    if dict(reparsed.params) != dict(params):
        raise ValueError(
            "annotated statement did not round-trip the tuned params:"
            f" {dict(reparsed.params)!r} != {dict(params)!r}"
        )
    return new_stmt


def run_search(
    spark: SparkSession,
    tuner: TunerAgent,
    meta: dict,
    model_dir: Optional[str] = None,
) -> tuple[DataFrame, dict]:
    """Execute the agent's search against its model's stored TRAIN
    statement. Returns ``(trials_df, best)`` where ``trials_df`` has
    one row per trial ranked by the objective and ``best`` is the
    winning record. The best trial's fitted pipeline is registered as
    a NEW VERSION of the base model (its statement annotated with the
    chosen params), and every trial's metrics are appended to the
    registry metadata so the search is auditable after the fact.
    """
    from declarativeml_spark.ml.models import (
        registry_save,
        stored_train_statement,
        trial_log_append,
    )
    from declarativeml_spark.ml.training import (
        SEED,
        TrainedModel,
        _make_evaluator,
    )

    if tuner.method not in _KNOWN_METHODS:
        raise ValueError(
            f"Unknown optimization method {tuner.method!r}; accepted:"
            f" {', '.join(sorted(_KNOWN_METHODS))}"
        )
    train_stmt = stored_train_statement(meta)
    spec = get_algorithm(train_stmt.algorithm)
    # validate the metric NAME eagerly: _make_evaluator silently falls
    # back to f1/rmse/silhouette for unknown keys, which would tune a
    # different objective than the statement names
    from declarativeml_spark.ml.training import (
        _CLASSIFICATION_METRICS,
        _REGRESSION_METRICS,
    )

    known = (
        set(_CLASSIFICATION_METRICS)
        if spec.kind == "classification"
        else set(_REGRESSION_METRICS)
        if spec.kind == "regression"
        else {"silhouette"}
    )
    if tuner.metric.lower() not in known:
        raise ValueError(
            f"Unknown metric {tuner.metric!r} for a {spec.kind} model;"
            f" accepted: {', '.join(sorted(known))}"
        )
    df, stages, label_col = _tuning_frame(spark, train_stmt, spec)

    est_kwargs: dict[str, Any] = {"featuresCol": "features"}
    if label_col:
        est_kwargs["labelCol"] = label_col
    base_params = dict(train_stmt.params)
    estimator = spec.build(base_params, **est_kwargs)
    evaluator, metric_name = _make_evaluator(spec, tuner.metric, label_col)
    larger_better = evaluator.isLargerBetter()
    if larger_better != tuner.maximize:
        direction = "MAXIMIZE" if tuner.maximize else "MINIMIZE"
        raise ValueError(
            f"{direction} {tuner.metric} contradicts the metric's"
            f" direction ({'higher' if larger_better else 'lower'} is"
            " better) — flip the keyword"
        )

    trials = build_trials(tuner.space, tuner.budget, seed_key=tuner.name)
    param_maps = []
    for t in trials:
        pm = {}
        for k, v in t.items():
            mapped = spec.param_map.get(k, k)
            if not estimator.hasParam(mapped):
                raise ValueError(
                    f"Search-space parameter {k!r} is not a parameter of"
                    f" {train_stmt.algorithm} (tried {mapped!r})"
                )
            p = estimator.getParam(mapped)
            pm[p] = p.typeConverter(v)
        param_maps.append(pm)

    # one TVS fit: Spark runs `workers` trials concurrently; the frame
    # is persisted so the trials share one materialization of the
    # feature plan instead of re-reading the source per fit
    df = df.persist()
    try:
        tvs = TrainValidationSplit(
            estimator=Pipeline(stages=stages + [estimator]),
            estimatorParamMaps=param_maps,
            evaluator=evaluator,
            trainRatio=0.75,
            parallelism=tuner.workers,
            seed=SEED,
        )
        fitted = tvs.fit(df)
    finally:
        df.unpersist()
    metrics = [float(v) for v in fitted.validationMetrics]

    # Rank trials under the SAME total order TrainValidationSplit's
    # own maxBy/minBy uses to pick bestModel (Scala's Double ordering:
    # NaN ABOVE +inf). A plain Python sort diverges when a degenerate
    # trial scores NaN — the registry would then record one trial's
    # params against a pipeline actually fit with another's.
    def _total_key(i: int) -> tuple:
        m = metrics[i]
        return (1, 0.0) if math.isnan(m) else (0, m)

    order = sorted(range(len(trials)), key=_total_key, reverse=larger_better)
    best_i = order[0]
    best = {
        "trial": best_i,
        "params": trials[best_i],
        tuner.metric: metrics[best_i],
    }

    # params as map<string,string>: a choice() space may hold
    # categorical values (impurity='gini'), which a double-typed map
    # would reject only AFTER the whole paid-for search
    rows = [
        (
            rank + 1,
            i,
            {k: str(v) for k, v in trials[i].items()},
            metrics[i],
            i == best_i,
        )
        for rank, i in enumerate(order)
    ]
    trials_df = spark.createDataFrame(
        rows,
        f"rank int, trial int, params map<string,string>,"
        f" {tuner.metric} double, best boolean",
    )

    # audit trail: one metadata record per trial + a new registered
    # version of the base model fit with the winning params
    trial_log_append(
        tuner.name,
        tuner.model,
        tuner.method,
        tuner.metric,
        [
            {"trial": i, "params": trials[i], tuner.metric: metrics[i]}
            for i in range(len(trials))
        ],
        best_i,
        maximize=tuner.maximize,
        base=model_dir,
    )
    tuned = TrainedModel(
        name=tuner.model,
        algorithm=train_stmt.algorithm,
        version=1,  # registry_save assigns the real next version
        pipeline_model=fitted.bestModel,
        metrics={f"tuned_{metric_name}": metrics[best_i]},
        features=list(train_stmt.features),
        target=train_stmt.target,
    )
    # the stored statement carries the CHOSEN params (docstring
    # contract): RETRAIN re-executes the stored statement, so an
    # un-annotated one would silently revert the tuning
    annotated = annotate_statement(
        meta["statement"],
        train_stmt.algorithm,
        {**base_params, **trials[best_i]},
    )
    registry_save(
        spark,
        tuned,
        base=model_dir,
        statement=annotated,
        extra={
            "tuned_by": tuner.name,
            "trial": best_i,
            "trial_params": trials[best_i],
        },
    )
    return trials_df, best
