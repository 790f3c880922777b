"""ridge_closed_form: the deterministic TRAIN MODEL twin (ml/ridge.py).

The cross-engine numbers are pinned by the driver-gated
``dsl_train_ridge_predictions`` query; these tests cover what the
oracle cannot see — estimator contract, persistence round trip, the
p=1 solve, and the loud p>2 rejection.
"""

from __future__ import annotations

import os

import pytest
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import functions as F

from declarativeml_spark.ml.ridge import (
    RidgeClosedForm,
    RidgeClosedFormModel,
    lam_text,
    ridge_exprs,
)


def _assembled(spark, rows, cols):
    df = spark.createDataFrame(rows, cols + ["label"])
    asm = VectorAssembler(inputCols=cols, outputCol="features")
    return asm.transform(df.withColumn("label", F.col("label").cast("double")))


def test_ridge_lambda_zero_matches_ols(spark):
    # y = 2 + 3*x exactly; lam ~ 0 must recover it
    rows = [(float(x), 2.0 + 3.0 * x) for x in range(1, 20)]
    df = _assembled(spark, rows, ["x"])
    model = RidgeClosedForm(lam=1e-9).fit(df)
    assert model.getIntercept() == pytest.approx(2.0, abs=1e-5)
    assert model.getCoefficients()[0] == pytest.approx(3.0, abs=1e-6)
    pred = model.transform(df).select("prediction").first()[0]
    assert pred == pytest.approx(5.0, abs=1e-4)


def test_ridge_penalty_shrinks_coefficients(spark):
    rows = [(float(x), 2.0 + 3.0 * x) for x in range(1, 20)]
    df = _assembled(spark, rows, ["x"])
    small = RidgeClosedForm(lam=1e-9).fit(df).getCoefficients()[0]
    big = RidgeClosedForm(lam=1000.0).fit(df).getCoefficients()[0]
    assert 0 < big < small


def test_ridge_two_features_and_persistence(spark, tmp_path):
    rows = [
        (float(x), float(x % 7) / 10.0, 1.0 + 2.0 * x - 5.0 * (x % 7) / 10.0)
        for x in range(1, 40)
    ]
    df = _assembled(spark, rows, ["x1", "x2"])
    pipe = Pipeline(stages=[RidgeClosedForm(lam=0.5)])
    fitted = pipe.fit(df)
    path = os.path.join(str(tmp_path), "ridge_pipe")
    fitted.write().overwrite().save(path)
    back = PipelineModel.load(path)
    stage = back.stages[0]
    assert isinstance(stage, RidgeClosedFormModel)
    assert stage.getCoefficients() == fitted.stages[0].getCoefficients()
    assert stage.getIntercept() == fitted.stages[0].getIntercept()
    a = fitted.transform(df).select("prediction").collect()
    b = back.transform(df).select("prediction").collect()
    assert a == b


def test_ridge_rejects_wide_features(spark):
    rows = [(1.0, 2.0, 3.0, 10.0)]
    df = _assembled(spark, rows, ["a", "b", "c"])
    with pytest.raises(Exception, match="1 or 2 features"):
        RidgeClosedForm(lam=1.0).fit(df)
    with pytest.raises(ValueError, match="1 or 2 features"):
        ridge_exprs(3, lam_text(1.0))


def test_ridge_through_engine_train_predict(spark, sf_dir, tmp_path):
    """The full DSL chain on a small slice (the driver-gated query
    runs the same chain against the oracle at sf0.01)."""
    from declarativeml_spark.engine import Engine

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.limit(500).createOrReplaceTempView("li_ridge_test")
    eng = Engine(spark, model_dir=str(tmp_path))
    trained = eng.execute(
        "TRAIN MODEL ridge_t USING ridge_closed_form(lam=10.0)"
        " FROM li_ridge_test PREDICT l_extendedprice"
        " WITH FEATURES(l_quantity, l_discount)"
    )
    assert trained.metrics  # regression metrics computed
    scored = eng.execute("PREDICT USING MODEL ridge_t FROM li_ridge_test")
    assert "prediction" in scored.columns
    assert scored.filter(F.col("prediction").isNull()).count() == 0


def test_torn_metadata_write_leaves_no_visible_part_file(spark, tmp_path, monkeypatch):
    """The local metadata writer stages under a name Hadoop's textFile
    hides, and a failed rename leaves only what Spark's writer wrote:
    one complete part file the model loads back from."""
    import declarativeml_spark.ml.models  # noqa: F401 — installs the writer

    real_replace = os.replace
    staged = []

    def torn(src, dst):
        staged.append(os.path.basename(src))
        raise OSError("simulated crash before the rename")

    model = RidgeClosedFormModel(intercept=1.5, coefficients=[2.0, -0.5])
    path = os.path.join(str(tmp_path), "torn")
    monkeypatch.setattr(os, "replace", torn)
    model.write().save(path)
    monkeypatch.setattr(os, "replace", real_replace)

    assert staged and all(n.startswith(".") for n in staged)
    mdir = os.path.join(path, "metadata")
    visible = [n for n in os.listdir(mdir) if not n.startswith((".", "_"))]
    assert not [n for n in visible if n.endswith(".tmp")]
    back = RidgeClosedFormModel.load(path)
    assert back.getCoefficients() == [2.0, -0.5]
    assert back.getIntercept() == 1.5


def test_second_non_overwrite_save_raises(spark, tmp_path):
    """A non-overwrite save onto a saved Python-stage model fails as
    Spark's own writer does, instead of silently replacing it."""
    from pyspark.errors.exceptions.captured import AnalysisException

    import declarativeml_spark.ml.models  # noqa: F401 — installs the writer

    path = os.path.join(str(tmp_path), "twice")
    RidgeClosedFormModel(intercept=1.0, coefficients=[1.0]).write().save(path)
    again = RidgeClosedFormModel(intercept=9.0, coefficients=[9.0])
    with pytest.raises(AnalysisException, match="PATH_ALREADY_EXISTS"):
        again.write().save(path)
    assert RidgeClosedFormModel.load(path).getIntercept() == 1.0
    # an overwrite save still replaces it
    again.write().overwrite().save(path)
    assert RidgeClosedFormModel.load(path).getIntercept() == 9.0
