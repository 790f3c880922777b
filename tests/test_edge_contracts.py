"""Regression net for the review-pass edge contracts: zero-norm
vectors under ANSI mode, constant/all-NULL profiling, non-default
MIX group columns, escaped quotes in scripts, string-valued WHEN
rules, and ragged histogram bins."""

import pytest
from pyspark.sql import functions as F

from declarativeml_spark.dsl.parser import parse, split_statements


def test_temperature_mix_respects_by_col(spark):
    from declarativeml_spark.operators.corpus import temperature_mix

    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "en")], "doc_id long, lang string"
    )
    out = temperature_mix(df, by_col="lang")
    assert out.columns[0] == "lang"
    rows = {r["lang"]: r["n_docs"] for r in out.collect()}
    assert rows == {"en": 3, "de": 1}


def test_zero_norm_vectors_excluded_not_fatal(spark):
    """A single all-zero embedding must not abort cosine operators
    with ANSI DIVIDE_BY_ZERO; it has no cosine direction and is
    excluded from scoring."""
    from declarativeml_spark.operators.dedup import (
        cosine_topk,
        embedding_pairs,
        ivf_native_topk,
        semdedup,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 0.0]),  # zero-norm
            (2, [1.0, 0.1]),
            (3, [0.9, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_pairs(emb, threshold=0.5, dim=2).collect()
    assert pairs is not None
    assert all(1 not in (r["id_a"], r["id_b"]) for r in pairs)

    topk = cosine_topk(emb, k=2, query_mod=2).collect()
    assert all(r["nid"] != 1 and r["qid"] != 1 for r in topk)

    ivf = ivf_native_topk(emb, k=2, query_mod=2, n_cells=2, dim=2).collect()
    assert all(r["nid"] != 1 and r["qid"] != 1 for r in ivf)

    sem = {r["vec_id"]: r["kept"] for r in semdedup(
        emb, threshold=0.5, n_cells=2, dim=2
    ).collect()}
    assert sem[1] is True  # zero vector neither dominates nor is dominated


def test_numeric_profile_constant_and_null_columns(spark):
    from declarativeml_spark.operators.profile import numeric_profile

    df = spark.createDataFrame(
        [(5.0, None), (5.0, None), (5.0, None)],
        "const double, empty double",
    )
    out = {r["col_name"]: r for r in numeric_profile(df, ["const", "empty"]).collect()}
    # constant column: all values in bucket 0, no div-by-zero
    assert out["const"]["hist"] == "3,0,0,0,0,0,0,0,0,0"
    assert out["const"]["n"] == 3
    # all-NULL column: still reported, n=0, NULL mean, zero histogram
    assert out["empty"]["n"] == 0
    assert out["empty"]["avg_val"] is None
    assert out["empty"]["hist"] == "0,0,0,0,0,0,0,0,0,0"


def test_split_statements_honors_escaped_quotes():
    script = 'PUBLISH EVENT e WITH PAYLOAD {msg: "a \\" ; b"}; PUBLISH EVENT f'
    parts = split_statements(script)
    assert len(parts) == 2
    assert parts[0].endswith('b"}')
    assert parts[1] == "PUBLISH EVENT f"


def test_when_rule_string_value_quoted():
    rule = parse('WHEN model_metrics.phase = "prod" THEN PUBLISH EVENT ok')
    assert "'prod'" in rule.payload_predicate
    # numeric form unchanged
    rule_n = parse("WHEN model_metrics.accuracy < 0.8 THEN PUBLISH EVENT bad")
    assert "CAST(" in rule_n.payload_predicate


def test_decode_features_non_divisor_bins_fixed_width(spark):
    from declarativeml_spark.operators.multimodal import decode_features

    df = spark.createDataFrame(
        [(1, bytearray([0, 10, 255, 250])), (2, bytearray([1, 2]))],
        "media_id long, payload binary",
    )
    out = decode_features(df, bins=10).collect()
    assert all(len(r["features"]) == 10 for r in out)
    with pytest.raises(ValueError, match=r"\[1, 256\]"):
        decode_features(df, bins=0)


def test_spread_skips_shuffle_bearing_plans(spark):
    from declarativeml_spark.operators.textops import spread

    a = spark.range(10).withColumnRenamed("id", "k")
    joined = a.join(a.withColumnRenamed("k", "k2"), a.k == F.col("k2"))
    # must return the frame unchanged (no df.rdd probe, no respread)
    assert spread(joined) is joined
    # a narrow scan-shaped frame still respreads
    one = spark.range(100).coalesce(1)
    assert spread(one).rdd.getNumPartitions() > 1


def test_lag_scalar_periods_honored(spark, smoke_dir):
    """TRANSFORM(time_series.lag(x, periods=7, ...)) with a SCALAR
    periods must lag by 7 — it silently trained on lag-1 before."""
    from declarativeml_spark.plans.builder import build_features
    from declarativeml_spark.sources.catalog import load_table

    df = load_table(spark, smoke_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    plan = build_features(
        df,
        [
            "TRANSFORM(time_series.lag(o_totalprice, periods=3,"
            " order_by=o_orderkey))"
        ],
    )
    lagged = {r["o_orderkey"]: r[plan.input_cols[0]] for r in plan.df.collect()}
    base = {r["o_orderkey"]: r["o_totalprice"] for r in df.collect()}
    keys = sorted(base)
    assert lagged[keys[5]] == pytest.approx(float(base[keys[2]]))


def test_engine_scope_survives_failed_statement(spark, smoke_dir):
    """Frames persisted before a statement fails must still be owned
    by the engine scope and released by the next statement."""
    from declarativeml_spark.engine import Engine
    from declarativeml_spark.sources.catalog import register_views

    register_views(spark, smoke_dir)
    eng = Engine(spark)
    with pytest.raises(Exception):
        # minhash persists its signature frame, then the bogus
        # num_perm option raises AFTER the persist
        eng.execute(
            "DEDUPLICATE documents USING minhash(not_an_option=1)"
        )
    leaked = list(eng._persisted)
    eng.release()
    assert eng._persisted == []
    assert leaked is not None  # frames were captured, not dropped


def test_retrain_windows_subquery_fragment(spark, smoke_dir, tmp_path):
    """RETRAIN ... USING LATEST must window a SUBQUERY source — the
    old WHERE string-splice produced invalid SQL for it."""
    from declarativeml_spark.engine import Engine
    from declarativeml_spark.sources.catalog import register_views

    register_views(spark, smoke_dir)
    eng = Engine(spark, model_dir=str(tmp_path / "models"))
    eng.execute(
        "TRAIN MODEL rw_clf USING logistic_regression(max_iter=5) "
        "FROM (SELECT *, CAST(o_totalprice > 150000 AS INT) AS expensive"
        " FROM orders WHERE o_orderkey > 0) src "
        "PREDICT expensive WITH FEATURES(o_totalprice)"
    )
    out = eng.execute(
        "RETRAIN MODEL rw_clf USING LATEST 10000 days OF data"
        " TIME COLUMN o_orderdate"
    )
    assert out.version == 2


def test_search_lsh_honors_explicit_top(spark, smoke_dir):
    from declarativeml_spark.engine import Engine
    from declarativeml_spark.sources.catalog import register_views

    register_views(spark, smoke_dir)
    eng = Engine(spark)
    full = eng.execute("SEARCH SIMILAR embeddings USING lsh")
    top3 = eng.execute("SEARCH SIMILAR embeddings USING lsh TOP 3")
    n_full = full.count()
    assert top3.count() == min(3, n_full)
    if n_full >= 3:
        # the 3 closest pairs of the full set, deterministically
        want = sorted(
            (r["euclidean_dist"], r["id_a"], r["id_b"]) for r in full.collect()
        )[:3]
        got = sorted(
            (r["euclidean_dist"], r["id_a"], r["id_b"]) for r in top3.collect()
        )
        assert got == want
    with pytest.raises(ValueError, match="TOP"):
        eng.execute("SEARCH SIMILAR embeddings USING cosine(k=5)")


def test_dedup_column_param_routes_to_vec_col(spark):
    from declarativeml_spark.engine import Engine

    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, emb2 array<double>",
    ).createOrReplaceTempView("vectors2")
    eng = Engine(spark)
    out = eng.execute(
        'DEDUPLICATE vectors2 USING'
        ' semantic(column="emb2", n_cells=2, dim=2)'
    )
    kept = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert kept[1] is True and kept[2] is False
    with pytest.raises(ValueError, match="two different columns"):
        eng.execute(
            'DEDUPLICATE vectors2 USING semantic(column="other") ON emb2'
        )


def test_cli_plan_only_flag(tmp_path):
    import subprocess
    import sys

    f = tmp_path / "stmt.dsl"
    f.write_text(
        "TRAIN MODEL m USING logistic_regression(max_iter=5) FROM t"
        " PREDICT y WITH FEATURES(x)"
    )
    r = subprocess.run(
        [sys.executable, "-m", "declarativeml_spark.cli", "--plan-only", str(f)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert '"name": "m"' in r.stdout


def test_semantic_overlap_empty_benchmark_and_zero_norm_vector(spark):
    """An EMPTY benchmark yields no rows (not sentinel rows); an
    all-zero corpus vector keeps the smallest benchmark id with a NULL
    cosine and a NULL flag (the window's NULLS LAST order)."""
    from declarativeml_spark.operators.corpus import semantic_overlap

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(1, [0.0, 0.0]), (2, [1.0, 0.0])], schema)
    empty = spark.createDataFrame([], schema)
    assert semantic_overlap(corpus, empty).count() == 0

    bench = spark.createDataFrame([(10, [0.0, 1.0]), (20, [1.0, 1.0])], schema)
    by_id = {r[0]: tuple(r) for r in semantic_overlap(corpus, bench, 0.5).collect()}
    assert by_id[1][1:] == (10, None, None)
    assert by_id[2][3] is not None
