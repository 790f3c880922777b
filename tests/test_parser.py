"""Parser contract tests, mirroring the reference's test strategy
(reference: tests/test_parser.py — per-production positive/negative
cases, option validation, injection blocking, Hypothesis round-trip).
"""

import dataclasses

import pytest
from hypothesis import given
from hypothesis import strategies as st

from declarativeml_spark import ComputeKernel, DataSplit, TrainModel, parse
from declarativeml_spark.dsl import DSLSyntaxError, ir
from declarativeml_spark.dsl.features import feature_to_spark_sql
from declarativeml_spark.dsl.ir import EvaluateModel, PredictModel
from declarativeml_spark.dsl.source import validate_source_fragment


def test_minimal_train():
    m = parse(
        "TRAIN MODEL churn USING logistic_regression FROM transactions "
        "PREDICT churned WITH FEATURES(age, income)"
    )
    assert isinstance(m, TrainModel)
    assert m.name == "churn"
    assert m.algorithm == "logistic_regression"
    assert m.params == []
    assert m.source == "transactions"
    assert m.source_is_identifier is True
    assert m.target == "churned"
    assert m.features == ["age", "income"]


def test_train_with_params():
    m = parse(
        'TRAIN MODEL m USING gbt(max_iter=10, lr=0.1, mode="fast", layers=[64, 128], '
        "cfg={a: 1, b: {c: [0.1, 0.2]}}) FROM t PREDICT y WITH FEATURES(x)"
    )
    assert m.params == [
        ("max_iter", 10),
        ("lr", 0.1),
        ("mode", "fast"),
        ("layers", [64, 128]),
        ("cfg", {"a": 1, "b": {"c": [0.1, 0.2]}}),
    ]


def test_negative_param():
    m = parse(
        "TRAIN MODEL m USING a(offset=-5, scale=-0.5) FROM t PREDICT y WITH FEATURES(x)"
    )
    assert m.params == [("offset", -5), ("scale", -0.5)]


def test_schema_qualified_source_is_fragment():
    m = parse(
        "TRAIN MODEL m USING a FROM analytics.transactions PREDICT y WITH FEATURES(x)"
    )
    assert m.source == "analytics.transactions"
    assert m.source_is_identifier is False


def test_join_source_preserved_verbatim():
    m = parse(
        "TRAIN MODEL m USING a FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_acctbal > 0 PREDICT y WITH FEATURES(x)"
    )
    assert m.source == (
        "orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > 0"
    )
    assert m.source_is_identifier is False


def test_subquery_source():
    m = parse(
        "TRAIN MODEL m USING a FROM (SELECT a, b FROM t WHERE a > 1) sub "
        "PREDICT y WITH FEATURES(x)"
    )
    assert m.source == "(SELECT a, b FROM t WHERE a > 1) sub"
    validate_source_fragment(m.source)  # must be accepted


def test_punctuated_table_name_is_identifier():
    m = parse("TRAIN MODEL m USING a FROM user-events PREDICT y WITH FEATURES(x)")
    assert m.source == "user-events"
    assert m.source_is_identifier is True


def test_keyword_inside_string_literal_survives():
    m = parse(
        "TRAIN MODEL m USING a FROM t WHERE note = 'PREDICT this' "
        "PREDICT y WITH FEATURES(x)"
    )
    assert m.source == "t WHERE note = 'PREDICT this'"


def test_feature_expressions():
    m = parse(
        "TRAIN MODEL m USING a FROM t PREDICT y "
        'WITH FEATURES(amount + tax, scale(log(amount + 1)), -cost, f(x, k=2), "lit")'
    )
    assert m.features == [
        "amount + tax",
        "scale(log(amount + 1))",
        "-cost",
        "f(x, k=2)",
        '"lit"',
    ]


def test_feature_to_spark_sql():
    assert feature_to_spark_sql("amount + tax") == "`amount` + `tax`"
    assert feature_to_spark_sql("scale(log(amount + 1))") == "scale(log(`amount` + 1))"
    assert feature_to_spark_sql("customer.age") == "`customer`.`age`"
    assert feature_to_spark_sql("(a + b) * c") == "(`a` + `b`) * `c`"


def test_split_options():
    m = parse(
        "TRAIN MODEL m USING a FROM t PREDICT y WITH FEATURES(x) "
        "SPLIT DATA training=0.7, validation=0.2, test=0.1"
    )
    assert m.split.ratios == {"training": 0.7, "validation": 0.2, "test": 0.1}


def test_split_must_sum_to_one():
    with pytest.raises(ValueError, match="sum to 1.0"):
        parse(
            "TRAIN MODEL m USING a FROM t PREDICT y WITH FEATURES(x) "
            "SPLIT DATA training=0.5, test=0.1"
        )


def test_split_ratio_range():
    with pytest.raises(ValueError, match="between 0 and 1"):
        DataSplit({"training": 1.5, "test": -0.5})


def test_validate_cv_and_all_options():
    m = parse(
        "TRAIN MODEL m USING a FROM t PREDICT y WITH FEATURES(x) "
        "VALIDATE USING cv(folds=5) OPTIMIZE FOR f1 "
        "STOP WHEN recall > 0.9 OR epochs > 100 "
        "BALANCE CLASSES BY oversampling SAVE CHECKPOINTS EVERY 10 epochs"
    )
    assert m.validate.method == "cv"
    assert m.validate.params == [("folds", 5)]
    assert m.optimize_metric == "f1"
    assert m.stop_condition == "recall > 0.9 OR epochs > 100"
    assert m.balance_method == "oversampling"
    assert m.checkpoint.interval == 10
    assert m.checkpoint.unit == "epochs"


def test_validate_on():
    m = parse(
        "TRAIN MODEL m USING a FROM t PREDICT y WITH FEATURES(x) VALIDATE ON holdout"
    )
    assert m.validate.on == "holdout"
    assert m.validate.method is None


def test_checkpoint_rejects_nonpositive():
    for bad in ["0", "-1", "2.5"]:
        with pytest.raises(ValueError, match="positive integer"):
            parse(
                f"TRAIN MODEL m USING a FROM t PREDICT y WITH FEATURES(x) "
                f"SAVE CHECKPOINTS EVERY {bad}"
            )


def test_compute_full():
    c = parse(
        "COMPUTE embed FROM table(a, b) INTO column(out) EVERY 5 TICKS "
        "USING vector_add BLOCK 128 GRID auto SHARED 64K"
    )
    assert isinstance(c, ComputeKernel)
    assert c.name == "embed"
    assert c.kernel == "vector_add"
    assert c.inputs == ["a", "b"]
    assert c.output == "out"
    assert c.schedule_ticks == 5
    assert c.options == {"BLOCK": 128, "GRID": "auto", "SHARED": "64K"}


def test_compute_minimal():
    c = parse("COMPUTE x USING k")
    assert c.inputs is None and c.output is None and c.schedule_ticks is None
    assert c.options is None


def test_compute_validations():
    with pytest.raises(ValueError, match="schedule ticks must be a positive integer"):
        parse("COMPUTE x EVERY 0 TICKS USING k")
    with pytest.raises(ValueError, match="block size must be a positive integer"):
        parse("COMPUTE x USING k BLOCK -1")
    with pytest.raises(ValueError, match="grid value must be one of: auto"):
        parse("COMPUTE x USING k GRID manual")
    with pytest.raises(ValueError, match="shared memory size"):
        parse("COMPUTE x USING k SHARED 1.5K")
    with pytest.raises(DSLSyntaxError):
        parse("COMPUTE x USING")  # kernel name required


def test_injection_rejected():
    for bad in [
        "t; DROP TABLE users",
        "t -- comment",
        "t /* comment */",
        "t WHERE 1=1 UNION SELECT * FROM secrets",
        "orders CROSS JOIN (DELETE FROM x) d ON 1=1",
    ]:
        with pytest.raises(ValueError):
            validate_source_fragment(bad)


def test_join_using_accepted():
    # Deliberate divergence from the reference validator (SURVEY §2.4):
    # its docs use USING (DSL.md:398) but its regex only allowed ON.
    validate_source_fragment("orders JOIN customer USING (custkey)")


def test_predict_statement():
    p = parse(
        "PREDICT USING MODEL churn FROM new_customers "
        "STORE RESULTS IN churn_predictions WITH BATCH_SIZE 1000"
    )
    assert isinstance(p, PredictModel)
    assert p.model == "churn"
    assert p.source == "new_customers"
    assert p.sink == "churn_predictions"
    assert p.batch_size == 1000


def test_evaluate_statement():
    e = parse("EVALUATE MODEL churn ON holdout METRICS (accuracy, f1)")
    assert isinstance(e, EvaluateModel)
    assert e.model == "churn"
    assert e.source == "holdout"
    assert e.metrics == ["accuracy", "f1"]


def test_syntax_errors():
    for bad in ["TRAIN MODEL", "TRAIN MODEL m USING", "nonsense", ""]:
        with pytest.raises((DSLSyntaxError, ValueError)):
            parse(bad)


_ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True).filter(
    lambda s: s.upper()
    not in {
        "TRAIN", "MODEL", "USING", "FROM", "PREDICT", "WITH", "FEATURES",
        "SPLIT", "DATA", "VALIDATE", "ON", "OPTIMIZE", "FOR", "STOP", "WHEN",
        "BALANCE", "CLASSES", "BY", "SAVE", "CHECKPOINTS", "EVERY", "AND", "OR",
    }
)


@given(name=_ident, alg=_ident, source=_ident, target=_ident, feat=_ident)
def test_roundtrip_property(name, alg, source, target, feat):
    m = parse(
        f"TRAIN MODEL {name} USING {alg} FROM {source} "
        f"PREDICT {target} WITH FEATURES({feat})"
    )
    assert m.name == name
    assert m.algorithm == alg
    assert m.source == source
    assert m.target == target
    assert m.features == [feat]


@given(
    source=_ident,
    n=st.integers(min_value=1, max_value=10_000),
    idc=_ident,
)
def test_shard_roundtrip_property(source, n, idc):
    s = parse(f"SHARD {source} INTO {n} SHARDS BY {idc}")
    assert s.source == source
    assert s.n_shards == n
    assert s.id_column == idc


@given(
    source=_ident,
    target=st.integers(min_value=1, max_value=10**12),
    part=_ident,
    fid=_ident,
    sz=_ident,
)
def test_compact_roundtrip_property(source, target, part, fid, sz):
    c = parse(
        f"COMPACT {source} TARGET {target} BYTES"
        f" PARTITION BY {part} FILE BY {fid} SIZE BY {sz}"
    )
    assert c.source == source
    assert c.target_bytes == target
    assert (c.part_column, c.file_column, c.bytes_column) == (part, fid, sz)


# -- crash-freedom fuzz ----------------------------------------------------
# The parser's error contract: EVERY input either parses to an IR node
# or raises DSLSyntaxError/ValueError — never an AttributeError /
# IndexError / RecursionError escape from lexer internals. (The
# reference compiles via a Lark grammar which guarantees this shape;
# the hand-written recursive-descent parser here has to earn it.)

_STATEMENT_HEADS = [
    "TRAIN MODEL", "COMPUTE", "PREDICT USING MODEL", "DEPLOY MODEL",
    "CREATE FEATURE TRANSFORMER", "WHEN", "CREATE AGENT",
    "CREATE ENSEMBLE", "EXPLAIN PREDICTION", "MONITOR MODEL",
    "RETRAIN", "REGISTER AGENT", "PUBLISH EVENT", "SUBSCRIBE TO",
    "WAIT FOR EVENT", "SHARD", "COMPACT", "DEDUPLICATE", "WEIGH",
    "SCORE QUALITY", "SEARCH SIMILAR", "QUANTIZE EMBEDDINGS",
    "DECONTAMINATE", "PACK", "SAMPLE", "REDACT", "CHUNK", "SESSIONIZE",
    "MIX", "PROFILE", "DETECT ANOMALIES", "SHUFFLE", "AUDIT ANONYMITY",
    "CALIBRATE DEDUP", "CREATE INDEX", "REFRESH INDEX", "DROP INDEX",
    "DROP TOKENIZER", "TRAIN TOKENIZER", "TOKENIZE", "DECODE", "LOAD MEDIA",
    "SAMPLE FRAMES", "RESIZE",
]


@given(st.text(max_size=120))
def test_fuzz_arbitrary_text_never_crashes(s):
    try:
        parse(s)
    except (DSLSyntaxError, ValueError):
        pass  # the contract: typed errors only


@given(
    head=st.sampled_from(_STATEMENT_HEADS),
    tail=st.text(
        alphabet=st.characters(
            whitelist_categories=["Lu", "Ll", "Nd", "Po", "Ps", "Pe", "Sm", "Zs"]
        ),
        max_size=80,
    ),
)
def test_fuzz_statement_heads_never_crash(head, tail):
    """Partial/mangled statements behind every real statement head
    still fail typed — the shapes a user actually mistypes."""
    try:
        parse(f"{head} {tail}")
    except (DSLSyntaxError, ValueError):
        pass


@given(
    stmt=st.sampled_from([
        "TRAIN MODEL m USING alg FROM t PREDICT y WITH FEATURES(a, b)",
        "SHARD docs INTO 16 SHARDS BY doc_id",
        "WEIGH documents AGAINST 'src0' ON source BUCKETS 512",
    ]),
    pos=st.integers(min_value=0, max_value=60),
    ins=st.sampled_from(["(", ")", ",", "'", ";", " FROM ", "\x00", "99", " "]),
)
def test_fuzz_single_mutation_never_crashes(stmt, pos, ins):
    p = min(pos, len(stmt))
    mutated = stmt[:p] + ins + stmt[p:]
    try:
        parse(mutated)
    except (DSLSyntaxError, ValueError):
        pass


# --- round-10 parser review-sweep regressions --------------------------------


def test_split_statements_comment_aware():
    from declarativeml_spark.dsl.parser import parse_script, split_statements

    assert len(parse_script("SET a.b = 1; -- done")) == 1
    # the second chunk keeps its leading comment text (the lexer
    # skips comments) — the point is the ';' inside the comment no
    # longer splits, and the chunk still parses
    stmts = split_statements("SET a.b = 1; -- note; careful\nSET c.d = 2")
    assert len(stmts) == 2 and stmts[1].endswith("SET c.d = 2")
    assert len(parse_script("SET a.b = 1; -- note; careful\nSET c.d = 2")) == 2
    # a quoted '--' is NOT a comment
    assert len(parse_script("PUBLISH EVENT e WITH PAYLOAD {x: 'a--b; c'}")) == 1


def test_source_capture_is_paren_aware():
    from declarativeml_spark.dsl.parser import parse

    r = parse(
        "PREDICT USING MODEL m FROM (WITH t AS (SELECT 1 AS x)"
        " SELECT * FROM t) s STORE RESULTS IN out"
    )
    assert r.source.startswith("(WITH t AS") and r.sink == "out"


def test_when_metric_sugar_model_prefix_scopes_rule():
    from declarativeml_spark.dsl.parser import parse

    scoped = parse(
        "WHEN fraud_detector.accuracy < 0.85 THEN RETRAIN MODEL fraud_detector"
    )
    assert "'$.model') = 'fraud_detector'" in scoped.payload_predicate
    generic = parse("WHEN model_metrics.accuracy < 0.85 THEN RETRAIN MODEL m")
    assert "$.model" not in generic.payload_predicate


def test_monitor_unitless_every_before_check():
    from declarativeml_spark.dsl.parser import parse

    r = parse("MONITOR MODEL m ON events EVERY 10 CHECK (accuracy > 0.8)")
    assert r.every == 10 and r.every_unit is None
    assert r.checks == ["accuracy > 0.8"]


def test_unitless_checkpoint_before_next_option():
    from declarativeml_spark.dsl.parser import parse

    r = parse(
        "TRAIN MODEL x USING logistic_regression FROM t PREDICT y"
        " WITH FEATURES(a, b)"
        " SAVE CHECKPOINTS EVERY 1000 STOP WHEN accuracy > 0.9"
    )
    assert r.checkpoint.interval == 1000 and r.checkpoint.unit is None
    assert r.stop_condition == "accuracy > 0.9"


def test_action_chain_keeps_statement_internal_and():
    from declarativeml_spark.dsl.parser import parse

    r = parse(
        "WHEN MODEL m ACCURACY > 0.9 THEN EVALUATE MODEL m ON events"
        " WHERE x = 1 AND y = 2 METRICS (accuracy)"
    )
    assert "AND y = 2" in r.action
    # a genuine chain still splits
    r2 = parse(
        "WHEN MODEL m ACCURACY > 0.9 THEN DEPLOY TO prod"
        " AND ARCHIVE previous_version"
    )
    assert "; " in r2.action


def test_when_model_and_subscribe_accept_begin_blocks():
    from declarativeml_spark.dsl.parser import parse

    r = parse("WHEN MODEL m ACCURACY > 0.9 THEN BEGIN RETRAIN MODEL m; END")
    assert r.action.startswith("BEGIN")
    r2 = parse("SUBSCRIBE TO 'model.*' EXECUTE BEGIN RETRAIN MODEL m; END")
    assert r2.action.startswith("BEGIN")
    with pytest.raises(DSLSyntaxError, match="only THEN"):
        parse(
            "WHEN MODEL m ACCURACY > 0.9 THEN DEPLOY TO prod"
            " AND BEGIN RETRAIN MODEL m; END"
        )


def test_alias_qualified_payload_accessor():
    from declarativeml_spark.dsl.parser import parse

    r = parse("WHEN EVENT 'm' WHERE e.payload->>'k' = 'v' THEN RETRAIN MODEL m")
    assert r.payload_predicate == "get_json_object(payload, '$.k') = 'v'"
    # a column merely ENDING in payload is untouched
    r2 = parse(
        "WHEN EVENT 'm' WHERE event_payload = 'x' THEN RETRAIN MODEL m"
    )
    assert r2.payload_predicate == "event_payload = 'x'"


def test_feature_expr_accepts_single_quoted_strings():
    """SQL-style single-quoted strings ('' escaping) are the DSL's own
    idiomatic string syntax and must parse in feature expressions like
    everywhere else in the statement grammar (review r11)."""
    from declarativeml_spark.dsl.features import (
        StringLit,
        parse_feature_expr,
    )

    ast = parse_feature_expr("coalesce(country, 'unknown')")
    assert StringLit("unknown") in ast.args
    esc = parse_feature_expr("label_of('it''s')")
    assert esc.args[0] == StringLit("it's")
    # double-quoted form still parses to the same literal
    assert parse_feature_expr('coalesce(country, "unknown")').args[1] == (
        StringLit("unknown")
    )


def test_all_columns_alias_backtick_quoted():
    """alias.* renders with backtick-quoted parts like every other
    identifier — a keyword-named alias must not break only in the
    .* form (review r11)."""
    from declarativeml_spark.dsl.features import parse_feature_expr

    ast = parse_feature_expr("f(order.*)")
    assert ast.args[0].to_spark_sql() == "struct(`order`.*)"


def test_forecast_ir_rejects_nonpositive_horizon():
    """Direct IR construction enforces the parser's positive-horizon
    invariant — a bad horizon must not fail only AFTER a full model
    fit (review r11)."""
    from declarativeml_spark.dsl import ir

    for bad in (0, -3):
        with pytest.raises(ValueError, match="horizon"):
            ir.ForecastModel(
                name="f", algorithm="auto", params=[], source="orders",
                target="y", time_column="d", horizon=bad,
            )
    ir.ForecastModel(
        name="f", algorithm="auto", params=[], source="orders",
        target="y", time_column="d", horizon=1,
    )


def test_source_validator_linear_on_repeated_joins():
    """The reference's relation regex backtracks exponentially on
    repeated non-matching JOIN...ON segments (20 joins took ~6 s; ~30
    pinned a core for hours) — the tempered ON-condition class must
    reject in linear time while accepting every legitimate shape."""
    import time

    from declarativeml_spark.dsl.source import validate_source_fragment

    attack = "a" + " JOIN b ON x = y" * 60 + " ,"
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="relation/join"):
        validate_source_fragment(attack)
    assert time.perf_counter() - t0 < 0.5
    # legitimate joins (incl. identifiers CONTAINING join words) pass
    validate_source_fragment(
        "a JOIN b ON a.x = b.y JOIN c ON b.z = c.w"
        " WHERE a.left_val > 1 GROUP BY a.x LIMIT 5"
    )
    validate_source_fragment("t1 JOIN t2 ON t1.inner_id = t2.full_id")


def test_lexer_sql_operator_passthrough_and_dangling_exponent():
    """Subquery sources may carry ||/&/~ (the validator's passthrough
    contract — the lexer used to die with 'Unexpected character');
    a dangling exponent errors at the lexeme instead of silently
    splitting into NUMBER + NAME."""
    from declarativeml_spark.dsl import parse
    from declarativeml_spark.dsl.lexer import DSLSyntaxError, tokenize

    stmt = parse(
        "TRAIN MODEL m USING linear_regression FROM"
        " (SELECT a || b AS ab, v FROM t) s PREDICT v WITH FEATURES(v)"
    )
    assert "||" in stmt.source
    toks = tokenize("a || b")
    assert [t.value for t in toks[:-1]] == ["a", "||", "b"]
    with pytest.raises(DSLSyntaxError, match="Malformed number"):
        tokenize("epochs=1e")
    # valid exponents and the COMPUTE size suffixes still lex
    assert tokenize("1e5")[0].value == "1e5"
    assert [t.value for t in tokenize("64K")[:-1]] == ["64", "K"]


def test_unknown_statement_error_names_every_statement_keyword():
    """The unknown-statement error lists exactly the keywords parse()
    dispatches on: every keyword that opens a statement is named, and
    every named keyword is accepted (it fails on its own body, never
    as an unknown statement)."""
    import re

    from declarativeml_spark.dsl.parser import _STATEMENT_STARTS

    with pytest.raises(DSLSyntaxError, match="Unknown statement") as err:
        parse("FROBNICATE the_corpus")
    named = set(re.findall(r"\b[A-Z]+\b", str(err.value).split("expected", 1)[1]))
    # ROLLBACK and BEGIN open THEN-chain actions, not statements
    assert named == _STATEMENT_STARTS - {"ROLLBACK", "BEGIN"}
    for kw in sorted(named):
        try:
            parse(kw)
        except ValueError as e:  # DSLSyntaxError included
            assert "Unknown statement" not in str(e), kw


def test_every_statement_kind_has_one_engine_handler():
    """A kind that parses but cannot execute (or the reverse) fails
    here: the engine's handler table covers exactly the Statement
    union."""
    import typing

    from declarativeml_spark.dsl.parser import Statement
    from declarativeml_spark.engine import Engine

    assert set(Engine._HANDLERS) == set(typing.get_args(Statement))


# -- syntax-line statements ------------------------------------------------
# The source-plus-clauses statements are read from one syntax line each
# (parser._Syntax). The golden IRs pin the minimal and the full form of
# every one of them.

_SYNTAX_GOLDEN = [
    ("DECONTAMINATE documents AGAINST eval_set",
     ir.Decontaminate(source="documents", benchmark="eval_set", column=None,
                      threshold=3, source_is_identifier=True,
                      benchmark_is_identifier=True)),
    ("DECONTAMINATE documents AGAINST eval_set ON body THRESHOLD 5",
     ir.Decontaminate(source="documents", benchmark="eval_set", column="body",
                      threshold=5, source_is_identifier=True,
                      benchmark_is_identifier=True)),
    ("PACK documents INTO 512 TOKEN CHUNKS",
     ir.PackSequences(source="documents", context=512, buckets=8, column=None,
                      source_is_identifier=True)),
    ("PACK documents INTO 2048 TOKEN CHUNKS BUCKETS 16 ON body",
     ir.PackSequences(source="documents", context=2048, buckets=16,
                      column="body", source_is_identifier=True)),
    ("REDACT documents",
     ir.RedactPII(source="documents", column=None, source_is_identifier=True)),
    ("REDACT documents ON body",
     ir.RedactPII(source="documents", column="body",
                  source_is_identifier=True)),
    ("CHUNK documents INTO 32 TOKEN WINDOWS",
     ir.ChunkWindows(source="documents", win=32, stride=32, column=None,
                     source_is_identifier=True)),
    ("CHUNK documents INTO 32 TOKEN WINDOWS STRIDE 24 ON body",
     ir.ChunkWindows(source="documents", win=32, stride=24, column="body",
                     source_is_identifier=True)),
    ("SESSIONIZE events BY user_id",
     ir.Sessionize(source="events", key="user_id", gap_value=30,
                   gap_unit="MINUTES", ts_column=None, value_column=None,
                   source_is_identifier=True)),
    ("SESSIONIZE events BY user_id GAP 2 hours ON ts VALUE value",
     ir.Sessionize(source="events", key="user_id", gap_value=2,
                   gap_unit="HOURS", ts_column="ts", value_column="value",
                   source_is_identifier=True)),
    ("QUANTIZE EMBEDDINGS embeddings",
     ir.QuantizeEmbeddings(source="embeddings", column=None, id_column=None,
                           source_is_identifier=True)),
    ("QUANTIZE EMBEDDINGS embeddings ON embedding ID vec_id",
     ir.QuantizeEmbeddings(source="embeddings", column="embedding",
                           id_column="vec_id", source_is_identifier=True)),
    ("MIX documents",
     ir.MixCorpus(source="documents", by="source", temperature=2,
                  source_is_identifier=True)),
    ("MIX documents BY lang TEMPERATURE 2.0",
     ir.MixCorpus(source="documents", by="lang", temperature=2,
                  source_is_identifier=True)),
    ("PROFILE lineitem ON l_quantity",
     ir.ProfileTable(source="lineitem", columns=["l_quantity"],
                     source_is_identifier=True)),
    ("PROFILE lineitem ON l_quantity, l_extendedprice",
     ir.ProfileTable(source="lineitem",
                     columns=["l_quantity", "l_extendedprice"],
                     source_is_identifier=True)),
    ("DETECT ANOMALIES events",
     ir.DetectAnomalies(source="events", key="event_type", ts_column=None,
                        window=24, source_is_identifier=True)),
    ("DETECT ANOMALIES events BY event_type ON ts WINDOW 12",
     ir.DetectAnomalies(source="events", key="event_type", ts_column="ts",
                        window=12, source_is_identifier=True)),
    ("SHARD documents INTO 16 SHARDS",
     ir.ShardCorpus(source="documents", n_shards=16, id_column="doc_id",
                    source_is_identifier=True)),
    ("SHARD embeddings INTO 4 SHARDS BY vec_id",
     ir.ShardCorpus(source="embeddings", n_shards=4, id_column="vec_id",
                    source_is_identifier=True)),
    ("COMPACT manifest TARGET 262144 BYTES",
     ir.CompactTable(source="manifest", target_bytes=262144,
                     part_column="part", file_column="file_id",
                     bytes_column="bytes", source_is_identifier=True)),
    ("COMPACT manifest TARGET 1048576 BYTES PARTITION BY dt FILE BY path"
     " SIZE BY sz",
     ir.CompactTable(source="manifest", target_bytes=1048576,
                     part_column="dt", file_column="path", bytes_column="sz",
                     source_is_identifier=True)),
    ("SHUFFLE documents EPOCHS 3",
     ir.ShuffleCorpus(source="documents", epochs=3, n_shards=8,
                      id_column="doc_id", source_is_identifier=True)),
    ("SHUFFLE documents EPOCHS 2 SHARDS 4 BY doc_id",
     ir.ShuffleCorpus(source="documents", epochs=2, n_shards=4,
                      id_column="doc_id", source_is_identifier=True)),
    ("SCORE QUALITY documents",
     ir.ScoreQuality(source="documents", buckets=512, text_column="text",
                     source_is_identifier=True)),
    ("SCORE QUALITY documents BUCKETS 256 ON body",
     ir.ScoreQuality(source="documents", buckets=256, text_column="body",
                     source_is_identifier=True)),
    ("WEIGH documents AGAINST 'src0'",
     ir.WeighCorpus(source="documents", target_value="src0",
                    target_column="source", buckets=512,
                    source_is_identifier=True)),
    ("WEIGH documents AGAINST 'it''s' ON source BUCKETS 64",
     ir.WeighCorpus(source="documents", target_value="it's",
                    target_column="source", buckets=64,
                    source_is_identifier=True)),
    ("AUDIT ANONYMITY events ON event_type",
     ir.AuditAnonymity(source="events", columns=["event_type"], risk=5,
                       source_is_identifier=True)),
    ("AUDIT ANONYMITY events ON event_type, user_id RISK 3",
     ir.AuditAnonymity(source="events", columns=["event_type", "user_id"],
                       risk=3, source_is_identifier=True)),
    ("CALIBRATE DEDUP documents",
     ir.CalibrateDedup(source="documents",
                       thresholds=[0.05, 0.1, 0.15, 0.2, 0.3, 0.4, 0.5, 0.75],
                       text_column="text", source_is_identifier=True)),
    ("CALIBRATE DEDUP documents THRESHOLDS 0.1, 0.5, 1 ON body",
     ir.CalibrateDedup(source="documents", thresholds=[0.1, 0.5, 1.0],
                       text_column="body", source_is_identifier=True)),
    ("CREATE INDEX emb_idx ON embeddings USING lsh",
     ir.CreateIndex(name="emb_idx", source="embeddings", method="lsh",
                    params={}, source_is_identifier=True, stored_as=None)),
    ("CREATE INDEX emb_idx ON embeddings USING IVF(n_cells=4, seed=7)"
     " STORED AS emb_tbl",
     ir.CreateIndex(name="emb_idx", source="embeddings", method="ivf",
                    params={"n_cells": 4, "seed": 7},
                    source_is_identifier=True, stored_as="emb_tbl")),
    ("REFRESH INDEX emb_idx", ir.RefreshIndex(name="emb_idx")),
    ("DROP INDEX emb_idx", ir.DropIndex(name="emb_idx")),
    ("DROP TOKENIZER bpe", ir.DropTokenizer(name="bpe")),
    ("TRAIN TOKENIZER bpe FROM documents VOCAB 40",
     ir.TrainTokenizer(name="bpe", source="documents", vocab=40,
                       text_column="text", source_is_identifier=True,
                       stored_as=None)),
    ("TRAIN TOKENIZER bpe FROM documents VOCAB 64.0 TEXT COLUMN body"
     " STORED AS bpe_tbl",
     ir.TrainTokenizer(name="bpe", source="documents", vocab=64,
                       text_column="body", source_is_identifier=True,
                       stored_as="bpe_tbl")),
    ("TOKENIZE documents USING bpe",
     ir.Tokenize(source="documents", tokenizer="bpe", text_column="text",
                 source_is_identifier=True)),
    ("TOKENIZE documents USING bpe TEXT COLUMN body",
     ir.Tokenize(source="documents", tokenizer="bpe", text_column="body",
                 source_is_identifier=True)),
    ("DECODE wav_media USING WAV",
     ir.DecodeMedia(source="wav_media", codec="wav", payload_column="payload",
                    id_column="media_id", source_is_identifier=True,
                    windows=None)),
    ("DECODE wav_media USING wav WINDOWS 256 PAYLOAD COLUMN blob"
     " ID COLUMN item_id",
     ir.DecodeMedia(source="wav_media", codec="wav", payload_column="blob",
                    id_column="item_id", source_is_identifier=True,
                    windows=256)),
    ("SAMPLE FRAMES FROM y4m_media EVERY 2",
     ir.SampleFrames(source="y4m_media", every=2, codec="y4m",
                     payload_column="payload", id_column="media_id",
                     source_is_identifier=True)),
    ("SAMPLE FRAMES FROM media EVERY 4 USING FAKE PAYLOAD COLUMN blob"
     " ID COLUMN item_id",
     ir.SampleFrames(source="media", every=4, codec="fake",
                     payload_column="blob", id_column="item_id",
                     source_is_identifier=True)),
    ("LOAD MEDIA FROM '/data/media'",
     ir.LoadMedia(path="/data/media", glob=None, recursive=False, view=None,
                  partitioned=False)),
    ("LOAD MEDIA FROM '/data/media' GLOB '*.wav' RECURSIVE AS clips",
     ir.LoadMedia(path="/data/media", glob="*.wav", recursive=True,
                  view="clips", partitioned=False)),
    ("DEDUPLICATE documents USING exact",
     ir.Deduplicate(source="documents", method="exact", params={}, column=None,
                    threshold=None, source_is_identifier=True)),
    ("DEDUPLICATE documents USING MinHash(bands=4, rows=2) ON body"
     " THRESHOLD 0.5",
     ir.Deduplicate(source="documents", method="minhash",
                    params={"bands": 4, "rows": 2}, column="body",
                    threshold=0.5, source_is_identifier=True)),
    ("SAMPLE documents RATE 1",
     ir.SampleCorpus(source="documents", rate=1.0, column=None, top_n=None,
                     weight_column=None, source_is_identifier=True)),
    ("SAMPLE documents TOP 100 WEIGHT BY n_chars ON doc_id",
     ir.SampleCorpus(source="documents", rate=None, column="doc_id",
                     top_n=100, weight_column="n_chars",
                     source_is_identifier=True)),
    ("SEARCH SIMILAR embeddings",
     ir.SimilaritySearch(source="embeddings", method="cosine", params={},
                         k=None, source_is_identifier=True, index=None)),
    ("SEARCH SIMILAR embeddings USING LSH(threshold=1.15) TOP 5.0",
     ir.SimilaritySearch(source="embeddings", method="lsh",
                         params={"threshold": 1.15}, k=5,
                         source_is_identifier=True, index=None)),
    ("SEARCH SIMILAR USING INDEX emb_idx(nprobe=2) TOP 5",
     ir.SimilaritySearch(source="", method="index", params={"nprobe": 2},
                         k=5, source_is_identifier=True, index="emb_idx")),
]


def _typed_fields(stmt):
    return [(f.name, getattr(stmt, f.name), type(getattr(stmt, f.name)))
            for f in dataclasses.fields(stmt)]


@pytest.mark.parametrize(
    "text,want", _SYNTAX_GOLDEN, ids=[t for t, _ in _SYNTAX_GOLDEN]
)
def test_syntax_line_golden_ir(text, want):
    """Minimal and full form of every syntax-line statement: same IR,
    field types included (``2.0`` reads as the int 2)."""
    got = parse(text)
    assert got == want
    assert _typed_fields(got) == _typed_fields(want)


def test_syntax_golden_covers_every_syntax_line():
    from declarativeml_spark.dsl.parser import _STATEMENTS, _Syntax

    syntax_kinds = {s.cls for s in _STATEMENTS.values() if isinstance(s, _Syntax)}
    assert syntax_kinds == {type(want) for _, want in _SYNTAX_GOLDEN}
    assert len(syntax_kinds) == 28


@pytest.mark.parametrize(
    "text,field,value",
    [
        ("PACK d JOIN m ON d.id = m.id INTO 512 TOKEN CHUNKS ON body",
         "context", 512),
        ("SHARD d JOIN m ON d.id = m.id INTO 4 SHARDS BY id", "n_shards", 4),
        ("DECONTAMINATE d JOIN m ON d.id = m.id AGAINST b ON body",
         "benchmark", "b"),
        ("SAMPLE d JOIN m ON d.id = m.id RATE 0.5 ON body", "rate", 0.5),
        ("DEDUPLICATE d JOIN m ON d.id = m.id USING exact ON body",
         "column", "body"),
        ("CREATE INDEX i ON d JOIN m ON d.id = m.id USING lsh", "method", "lsh"),
        ("TOKENIZE d JOIN m ON d.id = m.id USING bpe TEXT COLUMN body",
         "tokenizer", "bpe"),
    ],
)
def test_syntax_line_join_source_keeps_its_on(text, field, value):
    """A source stops only at the keyword that follows it, so the
    join's own ON stays inside the source."""
    stmt = parse(text)
    assert stmt.source == "d JOIN m ON d.id = m.id"
    assert stmt.source_is_identifier is False
    assert getattr(stmt, field) == value


@pytest.mark.parametrize(
    "text,want",
    [
        ("SHUFFLE documents EPOCHS 2 BY id SHARDS 4",
         ir.ShuffleCorpus(source="documents", epochs=2, n_shards=4,
                          id_column="id")),
        ("SCORE QUALITY documents ON body BUCKETS 256",
         ir.ScoreQuality(source="documents", buckets=256, text_column="body")),
        ("WEIGH documents AGAINST 'src0' BUCKETS 64 ON lang",
         ir.WeighCorpus(source="documents", target_value="src0",
                        target_column="lang", buckets=64)),
        ("CALIBRATE DEDUP documents ON body THRESHOLDS 0.2, 0.4",
         ir.CalibrateDedup(source="documents", thresholds=[0.2, 0.4],
                           text_column="body")),
    ],
)
def test_syntax_line_optional_clauses_in_any_order(text, want):
    assert parse(text) == want


def test_syntax_line_slots_name_every_ir_field():
    """Each field of a syntax line's IR class is filled by a slot (a
    choice's branches included), is the ``<slot>_is_identifier`` flag
    of a source slot, or is the flag a keyword-only clause sets — a
    field the line cannot reach would silently keep its default. The
    statement's key is the line's first one or two words."""
    from declarativeml_spark.dsl.parser import _STATEMENTS, _Syntax

    def flat(items):
        for w in items:
            if isinstance(w, dict):  # a choice: {leading keyword: branch}
                for branch in w.values():
                    yield from flat(branch)
            else:
                yield w

    for key, syntax in _STATEMENTS.items():
        if not isinstance(syntax, _Syntax):
            continue
        items = syntax.required + [w for c in syntax.clauses.values() for w in c]
        slots = {w for w in flat(items) if isinstance(w, tuple)}
        named = {name for name, _ in slots} | {
            f"{name}_is_identifier" for name, kind in slots if kind == "source"
        } | {c[0].lower() for c in syntax.clauses.values() if len(c) == 1}
        fields = {f.name for f in dataclasses.fields(syntax.cls)}
        assert fields == named, key
        words = key.split()
        assert len(words) <= 2 and syntax.required[: len(words)] == words, key


@pytest.mark.parametrize("text", ["DEDUPLICATE", "PACK", "TOKENIZE", "SEARCH SIMILAR"])
def test_empty_source_at_end_of_input_names_its_statement(text):
    with pytest.raises(ValueError, match=f"^{text} source cannot be empty$"):
        parse(text)


@pytest.mark.parametrize(
    "text, stray",
    [
        (
            "WITH c AS (SELECT * FROM documents) CREATE AGENT g MONITOR MODEL m"
            " ON t CHECK (accuracy > 0.0) EVERY 1 hours",
            "CREATE",
        ),
        (
            "WITH c AS (SELECT * FROM documents) junk words PACK c INTO 512"
            " TOKEN CHUNKS",
            "junk",
        ),
    ],
)
def test_with_prefix_refuses_words_before_its_statement(text, stray):
    with pytest.raises(DSLSyntaxError, match=f"^Unexpected '{stray}' at "):
        parse(text)


def test_with_prefix_feeds_create_index():
    stmt = parse(
        "WITH c AS (SELECT * FROM embeddings) CREATE INDEX i ON c USING lsh"
    )
    assert isinstance(stmt, ir.CreateIndex)
    assert stmt.source == (
        "(WITH c AS (SELECT * FROM embeddings) SELECT * FROM c) __cte_src"
    )
    assert stmt.source_is_identifier is False
    assert (stmt.name, stmt.method) == ("i", "lsh")
