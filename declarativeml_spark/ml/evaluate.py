"""Built-in evaluation functions + prediction explanation.

Reference surface (DSL.md:215-233): ``evaluate_model(model,
test_data, metrics[])``, ``compare_models(models[], test_data,
primary_metric)``, ``feature_importance(model, method)``; and
``EXPLAIN PREDICTION`` (DSL.md:341-344) — per-row top-k feature
contributions.

Explanations are computed Spark-side and are additive per row
(SHAP-style, ``Σφ = prediction − base``): linear models use the
interventional closed form ``coefᵢ·(xᵢ − μᵢ)`` as pure column
arithmetic; tree regressors, GBT classifiers (margin space), and
DT/RF classifiers (probability space via per-node class
distributions — binary explains p₁, multiclass carries one exact
attribution vector PER CLASS) use Saabas path attribution through an
Arrow-batched pandas UDF carrying the extracted tree tables
(model-sized, not data-sized).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.ml.models import registry_load
from declarativeml_spark.ml.registry import get_algorithm


def _linear_coefficients(final) -> Optional[list]:
    """Binary/linear model coefficients, or None when the model has
    none — including the multinomial LogisticRegressionModel, whose
    ``coefficients`` property EXISTS but raises a Py4J SparkException
    ('use coefficientMatrix instead'): ``hasattr`` only swallows
    AttributeError, so probing with it crashes on 3+-class models."""
    try:
        return final.coefficients.toArray().tolist()
    except Exception:
        return None


# metrics where SMALLER is better — shared by compare_models' rank
# direction and the engine's tuner-direction consistency check (two
# drifting literals previously risked ranking a new error metric
# descending in one place and ascending in the other)
LOWER_IS_BETTER = frozenset({"rmse", "mse", "mae"})


def _with_label(
    model: PipelineModel, df: DataFrame, spec, target: str
) -> tuple[DataFrame, Optional[str]]:
    """``df`` ready to score against ``model``, and its label column
    (None for clustering). The MODEL decides label materialization,
    not the batch's dtype: a pipeline whose own StringIndexer builds
    ``label`` must not get a second one ("label already exists"), and a
    numeric-trained model needs the cast even when the target arrives
    as a string."""
    if spec.kind == "clustering":
        return df, None
    if not any(
        hasattr(st, "getOutputCol") and st.getOutputCol() == "label"
        for st in model.stages
    ):
        df = df.withColumn("label", F.col(target).cast("double"))
    return df, "label"


def evaluate_model(
    spark: SparkSession,
    model_name: str,
    test_df: DataFrame,
    metrics: Optional[List[str]] = None,
    *,
    algorithm: str,
    target: str,
    base: Optional[str] = None,
) -> Dict[str, float]:
    """DSL.md:215-218 ``evaluate_model``: metric dict on held-out data."""
    from declarativeml_spark.ml.training import _compute_metrics

    spec = get_algorithm(algorithm)
    model = registry_load(spark, model_name, base=base)
    test_df, label_col = _with_label(model, test_df, spec, target)
    out = _compute_metrics(model, test_df, spec, label_col)
    if metrics:
        wanted = set(metrics)
        available = sorted(out)
        missing = wanted - set(out)
        if missing:
            # a typo'd or inapplicable metric silently returned {} —
            # the caller believed the holdout was scored
            raise ValueError(
                f"Requested metric(s) {sorted(missing)} not available"
                f" for this model (unknown name, or inapplicable —"
                f" e.g. binary metrics on a multiclass target);"
                f" available: {available}"
            )
        out = {k: v for k, v in out.items() if k in wanted}
    return out


def compare_models(
    spark: SparkSession,
    model_specs: List[dict],
    test_df: DataFrame,
    primary_metric: str,
    base: Optional[str] = None,
    extra_rows: Optional[list] = None,
    ascending: Optional[bool] = None,
) -> DataFrame:
    """DSL.md:228-233 ``compare_models``: one row per model, ranked by
    the primary metric (descending for higher-better, ascending for
    error metrics — or an explicit ``ascending`` when the caller knows
    the search direction, e.g. from a tuner's recorded log).

    ``extra_rows`` lets pre-measured entries rank on the same surface:
    each is ``(name, algorithm, value, metrics_dict)`` — used by the
    engine to rank a tuner agent's recorded trials alongside
    registered models."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z_]\w*", primary_metric) or primary_metric in {
        "model", "algorithm", "rank", "metrics",
    }:
        # the metric name lands verbatim in a DDL schema string — a
        # non-identifier produced a cryptic ParseException, a reserved
        # output-column name a duplicate-column frame
        raise ValueError(
            f"primary_metric {primary_metric!r} must be a plain metric"
            " identifier (and not one of model/algorithm/rank/metrics)"
        )
    rows = list(extra_rows or [])
    for spec in model_specs:
        m = evaluate_model(
            spark,
            spec["name"],
            # models may carry different FEATURE expressions: a dict
            # supplies each model its own feature-built frame
            test_df[spec["name"]] if isinstance(test_df, dict) else test_df,
            algorithm=spec["algorithm"],
            target=spec["target"],
            base=base,
        )
        rows.append((spec["name"], spec["algorithm"], float(m.get(primary_metric, float("nan"))), m))
    if ascending is None:
        ascending = primary_metric in LOWER_IS_BETTER
    # NaN keys (a model that lacks the primary metric, or a typo'd
    # metric name) violate sort-comparison consistency and could land
    # anywhere — rank the measurable models, append the rest last
    import math

    valid = [r for r in rows if not math.isnan(r[2])]
    missing = [r for r in rows if math.isnan(r[2])]
    if not valid:
        raise ValueError(
            f"No compared model reports metric {primary_metric!r}"
        )
    valid.sort(key=lambda r: r[2], reverse=not ascending)
    rows = valid + missing
    return spark.createDataFrame(
        [
            (name, alg, i + 1, val, {k: float(v) for k, v in extra.items()})
            for i, (name, alg, val, extra) in enumerate(rows)
        ],
        f"model string, algorithm string, rank int, {primary_metric} double,"
        " metrics map<string,double>",
    )


def feature_importance(
    spark: SparkSession,
    model_name: str,
    feature_names: List[str],
    base: Optional[str] = None,
) -> DataFrame:
    """Global importances: |coefficient| for linear models,
    impurity importances for trees (DSL.md:222-226)."""
    model = registry_load(spark, model_name, base=base)
    final = model.stages[-1]
    values = None
    if hasattr(final, "featureImportances"):
        values = final.featureImportances.toArray().tolist()
    else:
        coefs = _linear_coefficients(final)
        if coefs is not None:
            values = [abs(c) for c in coefs]
    if values is None:
        raise ValueError(
            f"Model {model_name!r} ({type(final).__name__}) exposes no importances"
        )
    # never truncate the importance vector. Two distinct mismatch
    # cases: (a) the model contains a vector-EXPANDING stage (one-hot:
    # several slots per feature) — positional zipping would
    # CONFIDENTLY MISLABEL every slot after the expansion, so label
    # ALL slots by position and say so; (b) the caller merely supplied
    # fewer names than features (no expanding stage) — the positional
    # prefix is reliable, keep it and pad the tail with f{i} (the
    # documented fallback, never dropping the tail importances).
    expanding = any(
        "OneHotEncoder" in type(st).__name__ for st in model.stages
    )
    if len(values) != len(feature_names) and expanding:
        import warnings

        warnings.warn(
            f"model {model_name!r}: assembled vector has {len(values)}"
            f" slots but {len(feature_names)} feature names (a"
            " vector-expanding TRANSFORM) — importances are labeled"
            " by slot position (f0..fN), not feature names",
            RuntimeWarning,
            stacklevel=2,
        )
        names = [f"f{i}" for i in range(len(values))]
    else:
        names = list(feature_names) + [
            f"f{i}" for i in range(len(feature_names), len(values))
        ]
    rows = sorted(
        zip(names[: len(values)], values), key=lambda kv: kv[1], reverse=True
    )
    return spark.createDataFrame(rows, "feature string, importance double")


def _vector_slot_names(df: DataFrame, vec_col: str = "features"):
    """Per-slot names of an assembled vector from its ML attribute
    metadata, or None when absent. The source of truth when features
    EXPAND to multiple slots (one_hot_encoder): positional zipping
    against the user's feature list mislabels every slot after the
    expansion."""
    try:
        md = df.schema[vec_col].metadata.get("ml_attr", {})
        attrs = md.get("attrs", {})
        out: dict[int, str] = {}
        for group in attrs.values():
            for a in group:
                out[int(a["idx"])] = a.get("name", f"f{a['idx']}")
        if not out:
            return None
        n = int(md.get("num_attrs", max(out) + 1))
        return [out.get(i, f"f{i}") for i in range(n)]
    except Exception:  # noqa: BLE001 — metadata shape varies by version
        return None


def _extract_tree(java_node, value: str = "prediction") -> list:
    """Flatten an MLlib Java tree into Python tuples
    ``(feature, threshold, left_categories, left, right, node_value)``
    (leaf: feature == -1). Uses the JVM ``Node`` API, which exposes
    per-node training statistics — the quantities Saabas attribution
    needs and ``toDebugString`` does not carry.

    ``value``: ``"prediction"`` (regression trees / GBT margin trees),
    ``"p1"`` — the node's training probability of class 1 from its
    impurity class counts (binary classification trees; MLlib's
    RF probability is exactly the mean of per-tree leaf p1), or
    ``"pvec"`` — the full per-class probability tuple (multiclass).
    """
    nodes: list = []

    def node_value(n):
        if value in {"p1", "pvec"}:
            stats = list(n.impurityStats().stats())
            tot = sum(stats)
            if value == "pvec":
                return tuple((s / tot) if tot else 0.0 for s in stats)
            return float(stats[1] / tot) if tot else 0.0
        return float(n.prediction())

    def walk(n) -> int:
        idx = len(nodes)
        nodes.append(None)
        if n.getClass().getSimpleName() == "InternalNode":
            sp = n.split()
            fi = int(sp.featureIndex())
            if sp.getClass().getSimpleName() == "ContinuousSplit":
                thr, cats = float(sp.threshold()), None
            else:
                thr, cats = None, {float(c) for c in sp.leftCategories()}
            left = walk(n.leftChild())
            right = walk(n.rightChild())
            nodes[idx] = (fi, thr, cats, left, right, node_value(n))
        else:
            nodes[idx] = (-1, None, None, -1, -1, node_value(n))
        return idx

    walk(java_node)
    return nodes


def explain_predictions(
    spark: SparkSession,
    model_name: str,
    df: DataFrame,
    feature_names: List[str],
    top_k: int = 3,
    base: Optional[str] = None,
    background_df: Optional[DataFrame] = None,
) -> DataFrame:
    """EXPLAIN PREDICTION (DSL.md:341-344): per-row top-k feature
    contributions, SHAP-style: every row's attributions are ADDITIVE —
    they sum to ``prediction_value − base_value`` exactly (closed
    forms, no sampling).

    * Linear models — interventional Shapley values in margin space:
      ``φᵢ = coefᵢ · (xᵢ − μᵢ)`` with μ the mean feature vector of the
      explained frame and ``base_value = coef·μ + intercept`` (for a
      linear model these are the exact interventional SHAP values;
      the decomposition is pure column arithmetic, no Python).
    * Tree regressors (decision tree / random forest / GBT) — Saabas
      path attribution using MLlib's per-node training predictions:
      walking a row's decision path, the change in node prediction at
      each split is credited to the split feature; the telescoping
      sum gives ``Σφ = prediction − root`` per tree, combined with
      the ensemble weights (GBT ``treeWeights``, RF 1/numTrees).
      ``base_value`` is the weighted sum of root predictions. Trees
      travel to executors as plain Python tuples inside an
      Arrow-batched pandas UDF (the model-sized closure is
      O(numNodes), not data-sized).
    * Binary tree classifiers — Saabas in p(class 1) space using
      each node's training class distribution (``impurityStats``);
      RF probability is exactly the mean of per-tree leaf p1, so
      ``Σφ = probability₁ − base``. GBT classifiers attribute in
      margin space (``rawPrediction[1] = Σ wₜ·treeₜ``).
    * Multiclass tree classifiers — Saabas per CLASS from the same
      per-node ``impurityStats`` class distributions: one exact
      attribution vector per class (``Σφ_c = p_c − base_c`` for every
      class c), emitted in ``class_contributions``; the top-level
      ``base_value``/``prediction_value``/``contributions`` columns
      describe the row's PREDICTED class, keeping the binary contract.

    Output: input columns + model outputs + ``base_value``,
    ``prediction_value``, ``contributions`` (all features) and
    ``top_features`` (k largest by |contribution|); multiclass adds
    ``class_contributions`` (one additive decomposition per class).
    """
    from pyspark.ml.functions import vector_to_array

    model = registry_load(spark, model_name, base=base)
    final = model.stages[-1]
    scored = model.transform(df)
    arr = vector_to_array(F.col("features"))

    # positional user names only when the assembled width matches the
    # feature list; a vector-expanding TRANSFORM (one_hot_encoder)
    # shifts every later slot, so fall back to the assembler's own
    # slot-name metadata (then f{i}) instead of mislabeling
    _slots = _vector_slot_names(scored)
    _width = len(_slots) if _slots else None

    def _name(i: int) -> str:
        if _width is not None and _width != len(feature_names):
            return _slots[i] if i < _width else f"f{i}"
        return feature_names[i] if i < len(feature_names) else f"f{i}"

    def _structs(contrib_cols: list) -> "F.Column":
        return F.array(
            *[
                F.struct(
                    F.lit(_name(i)).alias("feature"),
                    c.cast("double").alias("contribution"),
                )
                for i, c in enumerate(contrib_cols)
            ]
        )

    lin_coefs = _linear_coefficients(final)
    if lin_coefs is not None:
        coefs = lin_coefs
        d = len(coefs)
        # background = mean feature vector of background_df when given
        # (the UNFILTERED source — engine._explain passes it for the
        # single-row `FOR TRANSACTION col = v` form, whose own mean IS
        # the row, making every contribution coef·(x−x) = 0, a vacuous
        # all-zero explanation), else of the explained frame itself
        # (one tiny agg job; d doubles to the driver)
        mu_src = (
            model.transform(background_df)
            if background_df is not None
            else scored
        )
        mu_row = (
            mu_src.select([F.avg(arr[i]).alias(f"m{i}") for i in range(d)])
            .collect()[0]
        )
        mu = [float(mu_row[i] or 0.0) for i in range(d)]
        intercept = float(getattr(final, "intercept", 0.0))
        base_value = sum(c * m for c, m in zip(coefs, mu)) + intercept
        margin = sum(
            (arr[i] * F.lit(float(coefs[i])) for i in range(d)),
            F.lit(intercept),
        )
        scored = scored.withColumn("base_value", F.lit(float(base_value)))
        scored = scored.withColumn("prediction_value", margin.cast("double"))
        contribs = _structs(
            [(arr[i] - F.lit(mu[i])) * F.lit(float(coefs[i])) for i in range(d)]
        )
    elif type(final).__name__ in {
        "DecisionTreeRegressionModel",
        "RandomForestRegressionModel",
        "GBTRegressionModel",
        "GBTClassificationModel",
    } or (
        type(final).__name__
        in {"DecisionTreeClassificationModel", "RandomForestClassificationModel"}
        and int(getattr(final, "numClasses", 0)) == 2
    ):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        cls = type(final).__name__
        # binary DT/RF classifiers attribute in p(class 1) space (the
        # node's training class distribution; RF probability is
        # exactly the mean of per-tree leaf p1); GBT classifiers in
        # margin space (their trees are regression trees on the
        # logit scale, rawPrediction[1] == Σ wₜ·treeₜ)
        value_kind = (
            "p1"
            if cls in {
                "DecisionTreeClassificationModel",
                "RandomForestClassificationModel",
            }
            else "prediction"
        )
        if cls.startswith("DecisionTree"):
            jtrees = [_extract_tree(final._call_java("rootNode"), value_kind)]
            weights = [1.0]
        else:
            jtrees = [
                _extract_tree(t._call_java("rootNode"), value_kind)
                for t in final.trees
            ]
            if cls.startswith("GBT"):
                weights = [float(w) for w in final.treeWeights]
            else:  # RF averages its trees
                weights = [1.0 / len(jtrees)] * len(jtrees)
        d = int(final.numFeatures)
        base_value = sum(
            w * t[0][5] for w, t in zip(weights, jtrees)
        )

        from pyspark.sql.functions import PandasUDFType

        @pandas_udf("array<double>", PandasUDFType.SCALAR)
        def saabas(feats):
            out = []
            for x in feats:
                phi = [0.0] * d
                for w, nodes in zip(weights, jtrees):
                    idx = 0
                    fi, thr, cats, left, right, pred = nodes[0]
                    while fi >= 0:
                        goes_left = (
                            x[fi] <= thr if cats is None else x[fi] in cats
                        )
                        nxt = left if goes_left else right
                        fi2, thr2, cats2, l2, r2, pred2 = nodes[nxt]
                        phi[fi] += w * (pred2 - pred)
                        fi, thr, cats, left, right, pred = (
                            fi2, thr2, cats2, l2, r2, pred2,
                        )
                out.append(phi)
            return pd.Series(out)

        if value_kind == "p1":
            pred_col = vector_to_array(F.col("probability"))[1]
        elif cls == "GBTClassificationModel":
            pred_col = vector_to_array(F.col("rawPrediction"))[1]
        else:
            pred_col = F.col("prediction").cast("double")
        scored = (
            scored.withColumn("__phi", saabas(arr))
            .withColumn("base_value", F.lit(float(base_value)))
            .withColumn("prediction_value", pred_col.cast("double"))
        )
        contribs = _structs([F.col("__phi")[i] for i in range(d)])
    elif type(final).__name__ in {
        "DecisionTreeClassificationModel",
        "RandomForestClassificationModel",
    } and int(getattr(final, "numClasses", 0)) >= 1:
        # numClasses > 2, plus the degenerate single-class model
        # (constant label: every φ is exactly 0 and p = base = 1)
        # — numClasses == 2 took the p₁-space branch above
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        cls = type(final).__name__
        if cls.startswith("DecisionTree"):
            jtrees = [_extract_tree(final._call_java("rootNode"), "pvec")]
            weights = [1.0]
        else:  # RF probability = mean of per-tree leaf class distributions
            jtrees = [
                _extract_tree(t._call_java("rootNode"), "pvec")
                for t in final.trees
            ]
            weights = [1.0 / len(jtrees)] * len(jtrees)
        d = int(final.numFeatures)
        k = int(final.numClasses)
        base_vec = [
            sum(w * t[0][5][c] for w, t in zip(weights, jtrees))
            for c in range(k)
        ]

        from pyspark.sql.functions import PandasUDFType

        @pandas_udf("array<array<double>>", PandasUDFType.SCALAR)
        def saabas_mc(feats):
            out = []
            for x in feats:
                phi = [[0.0] * d for _ in range(k)]
                for w, nodes in zip(weights, jtrees):
                    fi, thr, cats, left, right, pvec = nodes[0]
                    while fi >= 0:
                        goes_left = (
                            x[fi] <= thr if cats is None else x[fi] in cats
                        )
                        nxt = left if goes_left else right
                        fi2, thr2, cats2, l2, r2, pvec2 = nodes[nxt]
                        for c in range(k):
                            phi[c][fi] += w * (pvec2[c] - pvec[c])
                        fi, thr, cats, left, right, pvec = (
                            fi2, thr2, cats2, l2, r2, pvec2,
                        )
                out.append(phi)
            return pd.Series(out)

        prob_arr = vector_to_array(F.col("probability"))
        pred_idx = F.col("prediction").cast("int")
        scored = (
            scored.withColumn("__phi", saabas_mc(arr))
            .withColumn(
                "base_value",
                F.element_at(
                    F.array(*[F.lit(float(b)) for b in base_vec]),
                    pred_idx + F.lit(1),
                ),
            )
            .withColumn(
                "prediction_value",
                F.element_at(prob_arr, pred_idx + F.lit(1)).cast("double"),
            )
            .withColumn(
                "class_contributions",
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("class"),
                            F.lit(float(base_vec[c])).alias("base_value"),
                            prob_arr[c].cast("double").alias(
                                "probability_value"
                            ),
                            _structs(
                                [F.col("__phi")[c][i] for i in range(d)]
                            ).alias("contributions"),
                        )
                        for c in range(k)
                    ]
                ),
            )
        )
        phi_pred = F.element_at(F.col("__phi"), pred_idx + F.lit(1))
        contribs = _structs([phi_pred[i] for i in range(d)])
    else:
        raise ValueError(f"Model {model_name!r} is not explainable")

    top = F.slice(
        F.reverse(F.array_sort(contribs, lambda a, b: F.when(
            F.abs(a.contribution) < F.abs(b.contribution), -1
        ).when(F.abs(a.contribution) > F.abs(b.contribution), 1).otherwise(0))),
        1,
        top_k,
    )
    out = scored.withColumn("contributions", contribs).withColumn(
        "top_features", top
    )
    if "__phi" in out.columns:
        out = out.drop("__phi")
    return out
