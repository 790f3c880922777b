"""Recursive-descent parser for the declarative ML DSL.

Statement surface (reference grammar: dsl/parser.py:13-136):

    TRAIN MODEL <name> USING <alg>[(<params>)] FROM <source>
        PREDICT <target> WITH FEATURES(<exprs>)
        [SPLIT DATA k=v,...] [VALIDATE USING m((p)) | VALIDATE ON d]
        [OPTIMIZE FOR metric] [STOP WHEN cond]
        [BALANCE CLASSES BY m] [SAVE CHECKPOINTS EVERY n [unit]]

    COMPUTE <name> [FROM table(c,...)] [INTO column(c)]
        [EVERY n TICKS] USING <kernel> [BLOCK n] [GRID auto] [SHARED s]

Plus two statements the reference only specifies (DSL.md:69-72,
DSL.md:215-233), implemented here:

    PREDICT USING MODEL <m> FROM <source> [STORE RESULTS IN <sink>]
        [WITH BATCH_SIZE n]
    EVALUATE MODEL <m> ON <source> [METRICS (m1, m2, ...)]

The FROM source clause is captured as a *raw text slice* between the
FROM keyword and the next top-level terminator keyword, exactly as
the reference does with position-propagating parse metadata
(reference: dsl/parser.py:405-410) — this keeps joins, subqueries,
quoted identifiers, and punctuated names like ``user-events`` intact.
Option value validation matches the reference bit-for-bit
(dsl/parser.py:418-499), including error messages.

A statement that is a source plus clauses is one syntax line in
``_STATEMENTS`` (``_Syntax``), not a method, e.g.

    PACK <source:source> INTO <context:int> TOKEN CHUNKS
        [BUCKETS <buckets:int>] [ON <column:name>]

UPPERCASE words are literal keywords; ``<field:kind>`` fills the IR
field ``field``; ``[…]`` clauses are optional, in any order, the last
occurrence winning; a clause that is one keyword alone (``[RECURSIVE]``)
sets the bool field of that name. Slot kinds: ``source`` (raw text
slice; also sets ``<field>_is_identifier``; it may be empty only where
the IR field has a default), ``name``, ``names`` (comma list), ``int``
(an integral float such as ``5.0`` becomes an int), ``number`` (a
float), ``floats`` (comma list), ``params`` (an optional ``(k=v, …)``
list, read into a dict), ``quoted`` (single-quoted, ``''`` unescaped)
and ``unit`` (an upper-cased NAME). A choice ``{RATE <rate:number> |
TOP <top_n:int> …}`` reads the branch its next keyword leads, else the
branch a slot leads, else nothing (the IR then rejects the statement);
a re-read choice forgets the branch read before. A source stops at the
literal keyword that follows it (each leading keyword of a choice), or,
when only optional clauses follow, at each clause's first keyword — so
``d JOIN m ON d.id = m.id`` before ``INTO`` stays whole. A line is keyed
by its first word, or its first two where that word leads several
statements (``SAMPLE FRAMES`` beside ``SAMPLE``, ``DROP INDEX`` beside
``DROP TOKENIZER``); ``parse()`` tries the two-word key first. Clauses
left out take the IR dataclass's default, and its ``__post_init__``
holds every value check and case folding.
"""

from __future__ import annotations

import dataclasses
import json
from itertools import takewhile
from typing import Any, List, Optional, Tuple, Union

from declarativeml_spark.dsl import ir
from declarativeml_spark.dsl.features import _ExprParser, _to_number
from declarativeml_spark.dsl.lexer import DSLSyntaxError, Token, tokenize
from declarativeml_spark.dsl.source import is_identifier_source

_GRID_ALLOWED_VALUES = {"auto"}

import re as _re

_SHARED_SIZE_RE = _re.compile(r"^(0|[1-9][0-9]*)([KMG])?$")

Statement = Union[
    ir.TrainModel,
    ir.ComputeKernel,
    ir.PredictModel,
    ir.EvaluateModel,
    ir.FeatureTransformer,
    ir.Ensemble,
    ir.DeployModel,
    ir.DeployABTest,
    ir.MonitorModel,
    ir.RetrainModel,
    ir.WhenRule,
    ir.Agent,
    ir.TunerAgent,
    ir.Deduplicate,
    ir.SimilaritySearch,
    ir.SampleCorpus,
    ir.Decontaminate,
    ir.PackSequences,
    ir.RedactPII,
    ir.ChunkWindows,
    ir.Sessionize,
    ir.QuantizeEmbeddings,
    ir.MixCorpus,
    ir.ProfileTable,
    ir.DetectAnomalies,
    ir.ShardCorpus,
    ir.CompactTable,
    ir.ShuffleCorpus,
    ir.ScoreQuality,
    ir.WeighCorpus,
    ir.AuditAnonymity,
    ir.CalibrateDedup,
    ir.TrainTokenizer,
    ir.Tokenize,
    ir.DropTokenizer,
    ir.DecodeMedia,
    ir.SampleFrames,
    ir.ResizeMedia,
    ir.LoadMedia,
    ir.CreateIndex,
    ir.DropIndex,
    ir.RefreshIndex,
    ir.SelectFunction,
    ir.CreateType,
    ir.Notify,
    ir.ArchiveVersion,
    ir.CallProcedure,
    ir.ScheduleRetraining,
    ir.TrendAgent,
    ir.SetConfig,
    ir.ExplainPrediction,
    ir.ForecastModel,
    ir.PublishEvent,
    ir.RegisterAgent,
]


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.tokens = tokenize(text)
        self.i = 0

    # ------------------------------------------------------------------
    def peek(self, offset: int = 0) -> Token:
        j = min(self.i + offset, len(self.tokens) - 1)
        return self.tokens[j]

    def advance(self) -> Token:
        tok = self.tokens[self.i]
        if tok.kind != "EOF":
            self.i += 1
        return tok

    def at_keyword(self, word: str, offset: int = 0) -> bool:
        tok = self.peek(offset)
        return tok.kind == "NAME" and tok.value == word

    def expect_keyword(self, word: str) -> Token:
        tok = self.advance()
        if tok.kind != "NAME" or tok.value != word:
            raise DSLSyntaxError(
                f"Expected keyword {word}, got {tok.value!r} at {tok.pos}"
            )
        return tok

    def expect_name(self, what: str = "identifier") -> str:
        tok = self.advance()
        if tok.kind != "NAME":
            raise DSLSyntaxError(f"Expected {what}, got {tok.value!r} at {tok.pos}")
        return tok.value

    def accept_op(self, op: str) -> bool:
        tok = self.peek()
        if tok.kind == "OP" and tok.value == op:
            self.advance()
            return True
        return False

    def expect_op(self, op: str) -> None:
        tok = self.advance()
        if tok.kind != "OP" or tok.value != op:
            raise DSLSyntaxError(f"Expected {op!r}, got {tok.value!r} at {tok.pos}")

    def expect_eof(self) -> None:
        tok = self.peek()
        if tok.kind != "EOF":
            raise DSLSyntaxError(f"Unexpected input {tok.value!r} at {tok.pos}")

    def expect_quoted(self, what: str) -> str:
        """A single-quoted literal, unescaped (``''`` → ``'``)."""
        tok = self.advance()
        if tok.kind != "SQSTRING":
            raise DSLSyntaxError(
                f"Expected single-quoted {what} at {tok.pos}, got {tok.value!r}"
            )
        return _unquote(tok)

    # -- shared value grammar (params, dict/list literals) -------------
    def parse_value(self) -> Any:
        tok = self.peek()
        if tok.kind == "OP" and tok.value in {"-", "+"}:
            sign = -1 if tok.value == "-" else 1
            self.advance()
            num = self.advance()
            if num.kind != "NUMBER":
                raise DSLSyntaxError(
                    f"Expected number after sign at {num.pos}, got {num.value!r}"
                )
            return sign * _to_number(num.value)
        if tok.kind == "NUMBER":
            self.advance()
            return _to_number(tok.value)
        if tok.kind == "DSTRING":
            self.advance()
            return json.loads(tok.value)
        if tok.kind == "SQSTRING":
            # reference DSL.md:62 writes config values single-quoted
            # ('50ms'); '' unescapes to ' (reference: dsl/parser.py:135)
            self.advance()
            return _unquote(tok)
        if tok.kind == "OP" and tok.value == "[":
            return self.parse_list_literal()
        if tok.kind == "OP" and tok.value == "{":
            return self.parse_dict_literal()
        if tok.kind == "NAME":
            self.advance()
            return tok.value
        raise DSLSyntaxError(f"Expected value at {tok.pos}, got {tok.value!r}")

    def parse_list_literal(self) -> list:
        self.expect_op("[")
        items: list[Any] = []
        if not self.accept_op("]"):
            while True:
                items.append(self.parse_value())
                if self.accept_op("]"):
                    break
                self.expect_op(",")
        return items

    def parse_dict_literal(self) -> dict:
        self.expect_op("{")
        out: dict[str, Any] = {}
        if not self.accept_op("}"):
            while True:
                key_tok = self.advance()
                if key_tok.kind == "NAME":
                    key = key_tok.value
                elif key_tok.kind == "DSTRING":
                    key = json.loads(key_tok.value)
                elif key_tok.kind == "SQSTRING":
                    # the reference writes config keys single-quoted
                    # (DSL.md:61 'max_latency': '50ms')
                    key = _unquote(key_tok)
                else:
                    raise DSLSyntaxError(
                        f"Expected dict key at {key_tok.pos}, got {key_tok.value!r}"
                    )
                self.expect_op(":")
                out[key] = self.parse_value()
                if self.accept_op("}"):
                    break
                self.expect_op(",")
        return out

    def parse_param_list(self) -> List[Tuple[str, Any]]:
        params: list[tuple[str, Any]] = []
        if self.peek().kind == "OP" and self.peek().value == ")":
            return params
        while True:
            name = self.expect_name("parameter name")
            self.expect_op("=")
            params.append((name, self.parse_value()))
            # consume a comma only if a `name =` follows — an unparenthesized
            # param list (FALLBACK retries) ends at ", ON ..."
            if not (
                self.peek().kind == "OP"
                and self.peek().value == ","
                and self.peek(1).kind == "NAME"
                and self.peek(2).kind == "OP"
                and self.peek(2).value == "="
            ):
                break
            self.advance()
        return params

    # -- source clause (raw text slice) ---------------------------------
    _COMPARISON_OPS = frozenset({">=", "<=", ">", "<", "!=", "="})

    def expect_comparison_op(self) -> str:
        tok = self.advance()
        if tok.kind != "OP" or tok.value not in self._COMPARISON_OPS:
            raise DSLSyntaxError(
                f"Expected comparison operator at {tok.pos}, got"
                f" {tok.value!r}"
            )
        return tok.value

    def parse_quoted_message(self) -> str:
        """``('single-quoted message')`` — NOTIFY/ALERT argument."""
        self.expect_op("(")
        message = self.expect_quoted("message")
        self.expect_op(")")
        return message

    def expect_keyword_ci(self, word: str) -> None:
        """Case-insensitive keyword (clauses the reference docs spell
        lowercase, e.g. ``SHOW TOP 5 features``)."""
        tok = self.advance()
        if tok.kind != "NAME" or tok.value.upper() != word.upper():
            raise DSLSyntaxError(
                f"Expected keyword {word}, got {tok.value!r} at {tok.pos}"
            )

    def capture_statement_until_delimiter(
        self, stop_names: frozenset = frozenset(), chain_and: bool = False
    ) -> str:
        """Raw text slice to the next TOP-LEVEL ';' or stop keyword
        (paren-aware) — the shared scanner for workflow-block steps and
        THEN action chains. ``chain_and=True`` stops at a top-level
        AND only when the NEXT token starts a statement/action — a
        captured statement's OWN conjunctions (``WHERE x = 1 AND
        y = 2``) previously split the chain mid-statement."""
        start = self.peek()
        if start.kind == "EOF":
            raise DSLSyntaxError("Expected a statement")
        depth = 0
        while self.peek().kind != "EOF":
            t = self.peek()
            if t.kind == "OP" and t.value == "(":
                depth += 1
            elif t.kind == "OP" and t.value == ")":
                depth -= 1
            elif depth == 0 and (
                (t.kind == "OP" and t.value == ";")
                or (t.kind == "NAME" and t.value in stop_names)
                or (
                    chain_and
                    and t.kind == "NAME"
                    and t.value == "AND"
                    and self.peek(1).kind == "NAME"
                    and self.peek(1).value in _STATEMENT_STARTS
                    # a column that merely COLLIDES with a statement
                    # keyword ("… AND SCORE > 2") is still the captured
                    # statement's own conjunction: a comparison operator
                    # right after the keyword marks it as an operand,
                    # never a new action
                    and not (
                        self.peek(2).kind == "OP"
                        and self.peek(2).value in self._COMPARISON_OPS
                    )
                )
            ):
                break
            self.advance()
        end = self.peek().pos if self.peek().kind != "EOF" else len(self.text)
        return self.text[start.pos : end].strip()

    def capture_source_until(
        self, *stop_keywords: str, stop_pairs: tuple = ()
    ) -> str:
        """Consume tokens until a top-level stop keyword; return raw
        text. ``stop_pairs`` adds two-token stops (e.g. ``("WITH",
        "FEATURES")``) — a single token of the pair inside the source
        does not stop the capture."""
        start = self.peek().pos
        end = start
        depth = 0  # stop keywords only bind at paren depth 0: a WITH
        # or STORE inside a parenthesized subquery source is part of
        # the subquery's own SQL, not this statement's next clause
        while True:
            tok = self.peek()
            if tok.kind == "EOF":
                break
            if tok.kind == "OP" and tok.value == "(":
                depth += 1
            elif tok.kind == "OP" and tok.value == ")":
                depth = max(0, depth - 1)
            elif depth == 0 and tok.kind == "NAME":
                if tok.value in stop_keywords:
                    break
                if any(
                    tok.value == a and self.at_keyword(b, 1)
                    for a, b in stop_pairs
                ):
                    break
            self.advance()
            end = tok.pos + len(tok.value)
        return self.text[start:end].strip()

    # -- TRAIN MODEL -----------------------------------------------------
    def parse_train(self) -> "Statement":
        self.expect_keyword("TRAIN")
        self.expect_keyword("MODEL")
        name = self.expect_name("model name")
        self.expect_keyword("USING")
        algorithm = self.expect_name("algorithm name")
        params: list[tuple[str, Any]] = []
        if self.accept_op("("):
            params = self.parse_param_list()
            self.expect_op(")")
        self.expect_keyword("FROM")
        source = self.capture_source_until(
            "PREDICT", "FORECAST", stop_pairs=(("WITH", "FEATURES"),)
        )
        if not source:
            raise ValueError("Training data source clause cannot be empty")
        if self.at_keyword("FORECAST"):
            return self.parse_forecast_tail(name, algorithm, params, source)
        features = None
        if self.at_keyword("WITH"):
            # the reference's final example (DSL.md:404-409) orders
            # WITH FEATURES before PREDICT — accept both orders
            self.advance()
            self.expect_keyword("FEATURES")
            self.expect_op("(")
            features = self.parse_feature_list()
            self.expect_op(")")
        self.expect_keyword("PREDICT")
        target = self.expect_name("target column")
        if features is None:
            self.expect_keyword("WITH")
            if self.at_keyword("TIME"):
                # verbose time-series form (reference DSL.md:297-313):
                # PREDICT y WITH TIME COLUMN t AND FEATURES (...)
                # FORECAST n days AHEAD WITH CONFIDENCE INTERVALS p1, p2
                return self.parse_verbose_forecast(
                    name, algorithm, params, source, target
                )
            self.expect_keyword("FEATURES")
            self.expect_op("(")
            features = self.parse_feature_list()
            self.expect_op(")")

        model = ir.TrainModel(
            name=name,
            algorithm=algorithm,
            params=params,
            source=source,
            target=target,
            features=features,
            source_is_identifier=is_identifier_source(source),
        )
        self.parse_train_options(model)
        self.expect_eof()
        return model

    def parse_feature_list(self) -> List[str]:
        exprs: list[str] = []
        while True:
            marker = None
            tok = self.peek()
            if tok.kind == "NAME" and tok.value in ("DERIVED", "TRANSFORM"):
                # the reference writes markers PREFIX-style (DSL.md:44
                # `DERIVED feature_engineering.rfm(t.*)`); the repo's
                # call style `DERIVED(...)` also parses. Only treat as
                # a marker when an expression follows — `DERIVED(` is
                # already the call form, and `DERIVED,`/`DERIVED +` is
                # a plain column of that name.
                if self.peek(1).kind == "NAME":
                    marker = tok.value
                    self.advance()
            sub = _ExprParser(self.tokens, self.i)
            node = sub.parse_expr()
            self.i = sub.i
            rendered = node.render()
            exprs.append(f"{marker}({rendered})" if marker else rendered)
            if not self.accept_op(","):
                break
        return exprs

    def parse_train_options(self, model: ir.TrainModel) -> None:
        while True:
            if self.at_keyword("SPLIT"):
                self.advance()
                self.expect_keyword("DATA")
                ratios: dict[str, float] = {}
                while True:
                    key = self.expect_name("split name")
                    self.expect_op("=")
                    val = self.parse_value()
                    if not isinstance(val, (int, float)):
                        raise ValueError("split ratios must be between 0 and 1")
                    ratios[key] = float(val)
                    if not self.accept_op(","):
                        break
                model.split = ir.DataSplit(ratios)
            elif self.at_keyword("VALIDATE"):
                self.advance()
                if self.at_keyword("ON"):
                    self.advance()
                    model.validate = ir.ValidationOption(on=self.expect_name())
                else:
                    self.expect_keyword("USING")
                    method = self.expect_name("validation method")
                    params: Optional[list[tuple[str, Any]]] = None
                    if self.accept_op("("):
                        params = self.parse_param_list()
                        self.expect_op(")")
                    model.validate = ir.ValidationOption(method=method, params=params)
            elif self.at_keyword("OPTIMIZE"):
                self.advance()
                self.expect_keyword("FOR")
                model.optimize_metric = self.expect_name("metric name")
            elif self.at_keyword("STOP"):
                self.advance()
                self.expect_keyword("WHEN")
                model.stop_condition = self.parse_condition()
            elif self.at_keyword("BALANCE"):
                self.advance()
                self.expect_keyword("CLASSES")
                self.expect_keyword("BY")
                model.balance_method = self.expect_name("balance method")
            elif self.at_keyword("SAVE"):
                self.advance()
                self.expect_keyword("CHECKPOINTS")
                self.expect_keyword("EVERY")
                interval = self.parse_value()
                interval = _require_positive_int(interval, "checkpoint interval")
                unit = None
                # the unit lookahead must not swallow the NEXT train
                # option: `SAVE CHECKPOINTS EVERY 1000 STOP WHEN …`
                # previously consumed STOP as the unit and broke on
                # WHEN, though the loop accepts options in any order
                _option_kws = {
                    "SPLIT", "VALIDATE", "OPTIMIZE", "STOP",
                    "BALANCE", "SAVE", "WITH",
                }
                if (
                    self.peek().kind == "NAME"
                    and self.peek().value.upper() not in _option_kws
                ):
                    unit = self.advance().value
                model.checkpoint = ir.CheckpointOption(interval=interval, unit=unit)
            elif self.at_keyword("WITH"):
                # WITH FALLBACK (ON err RETRY WITH p=v, ...) MAX RETRIES n
                self.advance()
                self.expect_keyword("FALLBACK")
                self.expect_op("(")
                retries: list[tuple[str, list]] = []
                while True:
                    self.expect_keyword("ON")
                    err = self.expect_name("error kind")
                    self.expect_keyword("RETRY")
                    self.expect_keyword("WITH")
                    overrides = self.parse_param_list()
                    retries.append((err, overrides))
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
                max_retries = 1
                if self.at_keyword("MAX"):
                    self.advance()
                    self.expect_keyword("RETRIES")
                    max_retries = _require_positive_int(
                        self.parse_value(), "max retries"
                    )
                model.fallback = ir.FallbackOption(
                    retries=retries, max_retries=max_retries
                )
            else:
                return

    # -- TRAIN ... FORECAST (verbose form, DSL.md:297-313 verbatim) ------------
    def parse_verbose_forecast(
        self, name: str, algorithm: str, params: list, source: str, target: str
    ) -> ir.ForecastModel:
        """``PREDICT y WITH TIME COLUMN t [AND FEATURES (exprs | SEASONAL s |
        TREND tr)] FORECAST n [days] AHEAD [WITH CONFIDENCE INTERVALS p, ...]``.

        Matches the reference's prophet-style statement byte for byte
        (reference docs/DSL.md:297-313); ``holidays=<table>`` /
        ``seasonality=[...]`` ride in the USING param list.
        """
        self.expect_keyword("TIME")
        self.expect_keyword("COLUMN")
        time_column = self.expect_name("time column")
        exog: list[str] = []
        seasonal_terms: list[str] = []
        trend = None
        if self.at_keyword("AND"):
            self.advance()
            self.expect_keyword("FEATURES")
            self.expect_op("(")
            while True:
                if self.at_keyword("SEASONAL"):
                    self.advance()
                    seasonal_terms.append(self.expect_name("seasonality"))
                elif self.at_keyword("TREND"):
                    self.advance()
                    trend = self.expect_name("trend type")
                else:
                    sub = _ExprParser(self.tokens, self.i)
                    node = sub.parse_expr()
                    self.i = sub.i
                    exog.append(node.render())
                if not self.accept_op(","):
                    break
            self.expect_op(")")
        self.expect_keyword("FORECAST")
        horizon = _require_positive_int(self.parse_value(), "forecast horizon")
        unit = None
        if self.peek().kind == "NAME" and not self.at_keyword("AHEAD"):
            unit = self.advance().value.lower()
        self.expect_keyword("AHEAD")
        levels: list[float] = []
        if self.at_keyword("WITH"):
            self.advance()
            levels = self.parse_confidence_intervals()
        self.expect_eof()
        return ir.ForecastModel(
            name=name,
            algorithm=algorithm,
            params=params,
            source=source,
            target=target,
            time_column=time_column,
            horizon=horizon,
            seasonal=seasonal_terms[0] if seasonal_terms else None,
            trend=trend,
            source_is_identifier=is_identifier_source(source),
            exog=exog,
            seasonal_terms=seasonal_terms,
            confidence_levels=levels,
            horizon_unit=unit,
        )

    def parse_confidence_intervals(self) -> list:
        """``CONFIDENCE INTERVALS 0.8, 0.95`` → [0.8, 0.95]."""
        self.expect_keyword("CONFIDENCE")
        self.expect_keyword("INTERVALS")
        levels: list[float] = []
        while True:
            val = self.parse_value()
            if not isinstance(val, (int, float)) or not (0.0 < float(val) < 1.0):
                raise ValueError(
                    "confidence interval levels must be between 0 and 1"
                )
            levels.append(float(val))
            if not self.accept_op(","):
                break
        return levels

    # -- TRAIN ... FORECAST tail (time series, DSL.md:297-313) -----------------
    def parse_forecast_tail(
        self, name: str, algorithm: str, params: list, source: str
    ) -> ir.ForecastModel:
        self.expect_keyword("FORECAST")
        target = self.expect_name("forecast target")
        self.expect_keyword("WITH")
        self.expect_keyword("TIME")
        self.expect_keyword("COLUMN")
        time_column = self.expect_name("time column")
        horizon = 7
        seasonal = None
        trend = None
        lags = [1, 7]
        levels: list[float] = []
        while self.peek().kind != "EOF":
            if self.at_keyword("HORIZON"):
                self.advance()
                horizon = _require_positive_int(self.parse_value(), "forecast horizon")
            elif self.at_keyword("SEASONAL"):
                self.advance()
                seasonal = self.expect_name("seasonality")
            elif self.at_keyword("TREND"):
                self.advance()
                trend = self.expect_name("trend type")
            elif self.at_keyword("LAGS"):
                self.advance()
                raw = self.parse_list_literal()
                lags = [_require_positive_int(v, "lag period") for v in raw]
            elif self.at_keyword("WITH") or self.at_keyword("CONFIDENCE"):
                if self.at_keyword("WITH"):
                    self.advance()
                levels = self.parse_confidence_intervals()
            else:
                tok = self.peek()
                raise DSLSyntaxError(f"Unexpected input {tok.value!r} at {tok.pos}")
        return ir.ForecastModel(
            name=name,
            algorithm=algorithm,
            params=params,
            source=source,
            target=target,
            time_column=time_column,
            horizon=horizon,
            seasonal=seasonal,
            trend=trend,
            lags=lags,
            source_is_identifier=is_identifier_source(source),
            seasonal_terms=[seasonal] if seasonal else [],
            confidence_levels=levels,
        )

    # -- EXPLAIN PREDICTION (DSL.md:341-344) -------------------------------------
    def parse_explain(self) -> "ir.ExplainPrediction":
        self.expect_keyword("EXPLAIN")
        self.expect_keyword("PREDICTION")
        if not (self.at_keyword("FOR") and self.at_keyword("MODEL", 1)):
            return self.parse_explain_reference_form()
        self.expect_keyword("FOR")
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        self.expect_keyword("FROM")
        source = self.capture_source_until("TOP")
        if not source:
            raise ValueError("Training data source clause cannot be empty")
        top_k = 3
        if self.at_keyword("TOP"):
            self.advance()
            top_k = _require_positive_int(self.parse_value(), "top feature count")
            self.expect_keyword("FEATURES")
        self.expect_eof()
        return ir.ExplainPrediction(
            model=model,
            source=source,
            top_k=top_k,
            source_is_identifier=is_identifier_source(source),
        )

    _EXPLAIN_METHODS = {"shap_values", "shap", "saabas"}

    def parse_explain_reference_form(self) -> "ir.ExplainPrediction":
        """The reference's verbatim EXPLAIN (DSL.md:341-345)::

            EXPLAIN PREDICTION fraud_detector
              FOR TRANSACTION transaction_id = 12345
              USING shap_values
              SHOW TOP 5 features

        The entity noun after FOR (TRANSACTION/ROW/…) is descriptive;
        the ``col = value`` selector picks the explained row(s) out of
        the model's stored TRAIN source. shap_values and saabas both
        resolve to the engine's exact additive explainer (closed-form
        Shapley for linear models, Saabas for trees)."""
        model = self.expect_name("model name")
        self.expect_keyword("FOR")
        self.expect_name("row entity noun (e.g. TRANSACTION)")
        col = self.expect_name("selector column")
        self.expect_op("=")
        value = self.parse_value()
        method = None
        if self.at_keyword("USING"):
            self.advance()
            method = self.expect_name("explanation method")
            if method not in self._EXPLAIN_METHODS:
                raise ValueError(
                    f"Unknown explanation method {method!r}; accepted:"
                    f" {', '.join(sorted(self._EXPLAIN_METHODS))}"
                )
        top_k = 3
        if self.at_keyword("SHOW"):
            self.advance()
            self.expect_keyword("TOP")
            top_k = _require_positive_int(
                self.parse_value(), "top feature count"
            )
            self.expect_keyword_ci("features")
        self.expect_eof()
        return ir.ExplainPrediction(
            model=model,
            source=None,
            top_k=top_k,
            row_filter=(col, value),
            method=method,
        )

    def parse_condition(self) -> str:
        """AND/OR chain of ``NAME op value`` comparisons → canonical text."""
        parts: list[str] = [self.parse_comparison()]
        while self.at_keyword("AND") or self.at_keyword("OR"):
            conj = self.advance().value
            parts.append(conj)
            parts.append(self.parse_comparison())
        return " ".join(parts)

    def parse_comparison(self) -> str:
        name = self.expect_name("metric name")
        op_tok = self.advance()
        if op_tok.kind != "OP" or op_tok.value not in {">=", "<=", ">", "<", "!=", "="}:
            raise DSLSyntaxError(
                f"Expected comparison operator at {op_tok.pos}, got {op_tok.value!r}"
            )
        value = self.parse_value()
        return f"{name} {op_tok.value} {value}"

    # -- COMPUTE ----------------------------------------------------------
    def parse_compute(self) -> ir.ComputeKernel:
        self.expect_keyword("COMPUTE")
        name = self.expect_name("computation name")
        inputs: Optional[list[str]] = None
        output: Optional[str] = None
        schedule: Optional[int] = None

        if self.at_keyword("FROM"):
            self.advance()
            self.expect_keyword("table")
            self.expect_op("(")
            inputs = [self.expect_name("column name")]
            while self.accept_op(","):
                inputs.append(self.expect_name("column name"))
            self.expect_op(")")
        if self.at_keyword("INTO"):
            self.advance()
            self.expect_keyword("column")
            self.expect_op("(")
            output = self.expect_name("column name")
            self.expect_op(")")
        if self.at_keyword("EVERY"):
            self.advance()
            ticks = self.parse_value()
            self.expect_keyword("TICKS")
            schedule = _require_positive_int(ticks, "schedule ticks")

        self.expect_keyword("USING")
        kernel = self.expect_name("kernel name")

        options: dict[str, Any] = {}
        while True:
            if self.at_keyword("BLOCK"):
                self.advance()
                options["BLOCK"] = _require_positive_int(self.parse_value(), "block size")
            elif self.at_keyword("GRID"):
                self.advance()
                grid = self.expect_name("grid value")
                if grid not in _GRID_ALLOWED_VALUES:
                    allowed = ", ".join(sorted(_GRID_ALLOWED_VALUES))
                    raise ValueError(f"grid value must be one of: {allowed}")
                options["GRID"] = grid
            elif self.at_keyword("SHARED"):
                self.advance()
                num_tok = self.advance()
                if num_tok.kind != "NUMBER":
                    raise DSLSyntaxError(
                        f"Expected size at {num_tok.pos}, got {num_tok.value!r}"
                    )
                size = num_tok.value
                if self.peek().kind == "NAME" and self.peek().pos == num_tok.pos + len(
                    num_tok.value
                ):
                    size += self.advance().value
                if _SHARED_SIZE_RE.fullmatch(size) is None:
                    raise ValueError(
                        "shared memory size must be a non-negative integer optionally"
                        " suffixed with K, M, or G"
                    )
                options["SHARED"] = size
            else:
                break

        self.expect_eof()
        return ir.ComputeKernel(
            name=name,
            kernel=kernel,
            inputs=inputs,
            output=output,
            schedule_ticks=schedule,
            options=options or None,
        )

    # -- PREDICT USING MODEL ------------------------------------------------
    def parse_predict(self) -> ir.PredictModel:
        self.expect_keyword("PREDICT")
        self.expect_keyword("USING")
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        self.expect_keyword("FROM")
        source = self.capture_source_until("STORE", "WITH")
        if not source:
            raise ValueError("Training data source clause cannot be empty")
        sink: Optional[str] = None
        batch_size: Optional[int] = None
        if self.at_keyword("STORE"):
            self.advance()
            self.expect_keyword("RESULTS")
            self.expect_keyword("IN")
            sink = self.expect_name("sink table")
        if self.at_keyword("WITH"):
            self.advance()
            self.expect_keyword("BATCH_SIZE")
            batch_size = _require_positive_int(self.parse_value(), "batch size")
        self.expect_eof()
        return ir.PredictModel(
            model=model,
            source=source,
            sink=sink,
            batch_size=batch_size,
            source_is_identifier=is_identifier_source(source),
        )

    # -- CREATE FEATURE TRANSFORMER / CREATE ENSEMBLE --------------------------
    def parse_create(
        self,
    ) -> Union[ir.FeatureTransformer, ir.Ensemble, ir.Agent, ir.CreateType]:
        self.expect_keyword("CREATE")
        if self.at_keyword("AGENT"):
            return self.parse_agent()
        if self.at_keyword("TYPE"):
            return self.parse_create_type()
        if self.at_keyword("FEATURE"):
            self.advance()
            self.expect_keyword("TRANSFORMER")
            name = self.expect_name("transformer name")
            self.expect_keyword("AS")
            tok = self.peek()
            if tok.kind == "EOF":
                raise DSLSyntaxError("Expected SELECT statement after AS")
            sql = self.text[tok.pos :].strip()
            # consume the rest of the token stream
            while self.peek().kind != "EOF":
                self.advance()
            if not sql.upper().startswith("SELECT") and not sql.upper().startswith(
                "WITH"
            ):
                raise ValueError(
                    "Feature transformer body must be a SELECT statement"
                )
            if ";" in sql:
                raise ValueError(
                    "Training data source must not contain statement terminators"
                )
            return ir.FeatureTransformer(name=name, select_sql=sql)
        if self.at_keyword("ENSEMBLE"):
            self.advance()
            name = self.expect_name("ensemble name")
            # the reference writes `CREATE ENSEMBLE x AS COMBINE …`
            # (DSL.md:320); FROM is the repo's original spelling
            if self.at_keyword("AS") or self.at_keyword("FROM"):
                self.advance()
            else:
                self.expect_keyword("FROM")
            self.expect_keyword("COMBINE")
            self.expect_keyword("MODELS")
            self.expect_op("(")
            models: list[tuple[str, float]] = []
            while True:
                mname = self.expect_name("model name")
                weight = 1.0
                if self.at_keyword("WEIGHT"):
                    self.advance()
                    w = self.parse_value()
                    if not isinstance(w, (int, float)):
                        raise ValueError("ensemble weight must be numeric")
                    weight = float(w)
                models.append((mname, weight))
                if not self.accept_op(","):
                    break
            self.expect_op(")")
            method = "weighted_average"
            if self.at_keyword("USING"):
                self.advance()
                method = self.expect_name("combination method")
            validate_on = None
            if self.at_keyword("VALIDATE"):
                self.advance()
                self.expect_keyword("ON")
                validate_on = self.expect_name()
            self.expect_eof()
            return ir.Ensemble(
                name=name, models=models, method=method, validate_on=validate_on
            )
        raise DSLSyntaxError(
            "Expected FEATURE TRANSFORMER, ENSEMBLE, or AGENT after CREATE"
        )

    # -- DEPLOY MODEL / DEPLOY MODELS (A/B) --------------------------------------
    def parse_deploy(self) -> Union[ir.DeployModel, ir.DeployABTest]:
        self.expect_keyword("DEPLOY")
        if self.at_keyword("MODELS"):
            self.advance()
            self.expect_op("(")
            models = [self.expect_name("model name")]
            while self.accept_op(","):
                models.append(self.expect_name("model name"))
            self.expect_op(")")
            endpoint = None
            if self.at_keyword("TO"):
                self.advance()
                if self.at_keyword("ENDPOINT"):  # reference DSL.md:331
                    self.advance()
                endpoint = self.expect_name("endpoint name")
            split: list[float] = []
            track: list[str] = []
            promote = None
            promote_after = None
            while self.peek().kind != "EOF":
                if self.at_keyword("WITH"):
                    self.advance()
                    self.expect_keyword("TRAFFIC")
                    self.expect_keyword("SPLIT")
                    self.expect_op("(")
                    while True:
                        v = self.parse_value()
                        if not isinstance(v, (int, float)):
                            raise ValueError("traffic split must be numeric")
                        split.append(float(v))
                        self.accept_op("%")
                        if not self.accept_op(","):
                            break
                    self.expect_op(")")
                elif self.at_keyword("TRACK"):
                    self.advance()
                    self.expect_keyword("METRICS")
                    self.expect_op("(")
                    track.append(self.expect_name("metric"))
                    while self.accept_op(","):
                        track.append(self.expect_name("metric"))
                    self.expect_op(")")
                elif self.at_keyword("AUTO"):
                    self.advance()
                    self.expect_keyword("PROMOTE")
                    promote = self.expect_name("promotion policy")
                    if self.at_keyword("AFTER"):
                        self.advance()
                        promote_after = _require_positive_int(
                            self.parse_value(), "promotion sample count"
                        )
                        if self.at_keyword("samples"):
                            self.advance()
                else:
                    tok = self.peek()
                    raise DSLSyntaxError(
                        f"Unexpected input {tok.value!r} at {tok.pos}"
                    )
            if split and len(split) != len(models):
                raise ValueError(
                    "traffic split must have one percentage per model"
                )
            if split and abs(sum(split) - 100.0) > 1e-6:
                raise ValueError("traffic split percentages must sum to 100")
            return ir.DeployABTest(
                models=models,
                endpoint=endpoint,
                split=split,
                track_metrics=track,
                promote=promote,
                promote_after=promote_after,
            )
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        version = None
        config: dict = {}
        # clause loop, any order — covers both the repo's short form
        # (VERSION n / WITH CONFIG {…}) and the reference's verbatim
        # DSL.md:58-66 form (TO ENDPOINT e / WITH CONFIGURATION {…} /
        # MONITOR m / VERSION CONTROL enabled)
        while self.peek().kind != "EOF":
            if self.at_keyword("VERSION"):
                self.advance()
                if self.at_keyword("CONTROL"):
                    self.advance()
                    config["version_control"] = self.expect_name(
                        "version-control mode"
                    )
                else:
                    version = _require_positive_int(
                        self.parse_value(), "model version"
                    )
            elif self.at_keyword("TO"):
                self.advance()
                self.expect_keyword("ENDPOINT")
                config["endpoint"] = self.expect_name("endpoint name")
            elif self.at_keyword("WITH"):
                self.advance()
                if self.at_keyword("CONFIGURATION"):
                    self.advance()
                else:
                    self.expect_keyword("CONFIG")
                config.update(self.parse_dict_literal())
            elif self.at_keyword("MONITOR"):
                self.advance()
                config["monitor"] = self.expect_name("monitor name")
            else:
                tok = self.peek()
                raise DSLSyntaxError(
                    f"Unexpected input {tok.value!r} at {tok.pos}"
                )
        return ir.DeployModel(model=model, version=version, config=config)

    # -- CREATE TYPE (reference DSL.md:177-210) --------------------------------
    def parse_create_type(self) -> "ir.CreateType":
        """``CREATE TYPE <name> AS (field type[, …])`` — the three
        reference composites parse verbatim (VARCHAR(n), TEXT[],
        JSONB, TIMESTAMP, INTEGER[], FLOAT[], BIGINT, `--` comments
        between fields)."""
        self.expect_keyword("TYPE")
        name = self.expect_name("type name")
        self.expect_keyword("AS")
        self.expect_op("(")
        fields: list[tuple[str, str]] = []
        seen: set[str] = set()
        while True:
            fname = self.expect_name("field name")
            if fname in seen:
                raise ValueError(f"Type field {fname!r} declared twice")
            seen.add(fname)
            ftype = self.expect_name("field type").upper()
            if self.accept_op("("):
                # length/precision argument: VARCHAR(100) — recorded,
                # not enforced (Spark strings are unbounded)
                n = self.parse_value()
                self.expect_op(")")
                ftype = f"{ftype}({n})"
            if self.accept_op("["):
                self.expect_op("]")
                ftype = f"{ftype}[]"
            fields.append((fname, ftype))
            if self.accept_op(")"):
                break
            self.expect_op(",")
        self.expect_eof()
        return ir.CreateType(name=name, fields=tuple(fields))

    # -- BEGIN … END workflow blocks (reference DSL.md:135-143) -----------------
    def parse_workflow_block(self) -> "ir.WorkflowBlock":
        """``BEGIN <stmt>; [IF <cond> THEN <actions>; END IF;] … END``
        — the reference's complex-conditional workflow body. Every
        inner statement is parse-validated here (registration time),
        not at fire time."""
        self.expect_keyword("BEGIN")
        steps: list = []
        while True:
            if self.peek().kind == "EOF":
                raise DSLSyntaxError(
                    "Unterminated BEGIN block (missing END)"
                )
            if self.at_keyword("END") and not self.at_keyword("IF", 1):
                self.advance()
                self.accept_op(";")
                break
            if self.at_keyword("IF"):
                steps.append(self.parse_if_step())
                continue
            stmt_text = self.capture_statement_until_delimiter()
            self.accept_op(";")
            parse(stmt_text)
            steps.append(("stmt", stmt_text))
        if self.peek().kind != "EOF":
            tok = self.peek()
            raise DSLSyntaxError(
                f"Unexpected input after END at {tok.pos}: {tok.value!r}"
            )
        if not steps:
            raise ValueError("BEGIN block has no statements")
        return ir.WorkflowBlock(steps=tuple(steps))

    def parse_if_step(self) -> "ir.IfStep":
        """``IF <expr> <op> <expr> THEN <action chain>; END IF;`` —
        operands evaluate over the block's result context at run time
        (retraining_<metric>, previous_<metric>)."""
        self.expect_keyword("IF")
        lhs_sub = _ExprParser(self.tokens, self.i)
        lhs = lhs_sub.parse_expr()
        self.i = lhs_sub.i
        op = self.expect_comparison_op()
        rhs_sub = _ExprParser(self.tokens, self.i)
        rhs = rhs_sub.parse_expr()
        self.i = rhs_sub.i
        self.expect_keyword("THEN")
        actions: list[tuple] = []
        while True:
            if self.at_keyword("ROLLBACK"):
                self.advance()
                self.expect_keyword("TO")
                sel = self.expect_name("version selector")
                if sel != "previous_version":
                    raise ValueError(
                        f"Unknown ROLLBACK selector {sel!r}; only"
                        " previous_version is supported"
                    )
                actions.append(("rollback",))
            elif self.at_keyword("ALERT") or self.at_keyword("NOTIFY"):
                self.advance()
                target = self.expect_name("notification target")
                actions.append(("alert", target, self.parse_quoted_message()))
            else:
                text = self.capture_statement_until_delimiter(
                    chain_and=True
                )
                parse(text)
                actions.append(("stmt", text))
            if self.at_keyword("AND"):
                self.advance()
                continue
            break
        self.accept_op(";")
        self.expect_keyword("END")
        self.expect_keyword("IF")
        self.accept_op(";")
        return ir.IfStep(
            lhs=lhs.render(), op=op, rhs=rhs.render(), actions=tuple(actions)
        )

    # -- NOTIFY / ALERT / ARCHIVE (reference DSL.md:128-129, 140-141) ----------
    def parse_notify(self) -> "ir.Notify":
        kw = self.advance().value  # NOTIFY | ALERT
        target = self.expect_name(f"{kw} target")
        message = ""
        if self.peek().kind == "OP" and self.peek().value == "(":
            message = self.parse_quoted_message()
        self.expect_eof()
        return ir.Notify(target=target, message=message)

    def parse_schedule_clause(self) -> tuple:
        """``retraining IN n unit`` — ONE grammar for the standalone
        SCHEDULE statement and the WHEN-rule action chain."""
        what = self.expect_name("schedule subject")
        if what != "retraining":
            raise ValueError(
                f"Unknown SCHEDULE subject {what!r}; only retraining"
                " is supported"
            )
        self.expect_keyword("IN")
        n = _require_positive_int(self.parse_value(), "schedule interval")
        unit = self.expect_name("time unit")
        return n, unit

    def parse_schedule(self) -> "ir.ScheduleRetraining":
        self.expect_keyword("SCHEDULE")
        n, unit = self.parse_schedule_clause()
        self.expect_keyword("FOR")
        model = self.expect_name("model name")
        self.expect_eof()
        return ir.ScheduleRetraining(model=model, n=n, unit=unit)

    def _at_procedure_call(self) -> bool:
        """Lookahead (no consumption): PROCEDURE <dotted name> '('."""
        if not self.at_keyword("PROCEDURE"):
            return False
        off = 1
        if self.peek(off).kind != "NAME":
            return False
        off += 1
        while (
            self.peek(off).kind == "OP"
            and self.peek(off).value == "."
            and self.peek(off + 1).kind == "NAME"
        ):
            off += 2
        return self.peek(off).kind == "OP" and self.peek(off).value == "("

    def parse_dotted_call_name(self) -> str:
        """``name`` or ``agent.method`` — the handler addressing the
        reference's coordination examples use (AGENTS.md:153-161)."""
        parts = [self.expect_name("procedure name")]
        while self.accept_op("."):
            parts.append(self.expect_name("procedure name part"))
        self.expect_op("(")
        self.expect_op(")")
        return ".".join(parts)

    def parse_call(self) -> "ir.CallProcedure":
        # CALL and the reference's bare EXECUTE spell the same thing
        self.advance()  # CALL | EXECUTE
        name = self.parse_dotted_call_name()
        self.expect_eof()
        return ir.CallProcedure(name=name)

    def parse_on_event(self) -> ir.WhenRule:
        """``ON EVENT '<pattern>' EXECUTE <agent.method>();`` —
        the reference's agent-coordination chains (AGENTS.md:153-161);
        an alias of SUBSCRIBE TO … EXECUTE PROCEDURE."""
        self.expect_keyword("ON")
        self.expect_keyword("EVENT")
        pattern = self.expect_quoted("event pattern")
        self.expect_keyword("EXECUTE")
        name = self.parse_dotted_call_name()
        self.expect_eof()
        return ir.WhenRule(
            event_pattern=pattern,
            payload_predicate=None,
            action=f"CALL {name}()",
        )

    def parse_set(self) -> "ir.SetConfig":
        """``SET declarative.max_tensor_size = '1GB'`` — the
        reference's extension configuration (EXTENSIONS.md:371-374),
        mapped onto the Spark session conf."""
        self.expect_keyword("SET")
        parts = [self.expect_name("config key")]
        while self.accept_op("."):
            parts.append(self.expect_name("config key part"))
        self.expect_op("=")
        value = self.parse_value()
        self.expect_eof()
        return ir.SetConfig(key=".".join(parts), value=value)

    def parse_archive(self) -> "ir.ArchiveVersion":
        self.expect_keyword("ARCHIVE")
        which = self.expect_name("version selector")
        if which != "previous_version":
            raise ValueError(
                f"Unknown ARCHIVE selector {which!r}; only"
                " previous_version is supported"
            )
        self.expect_keyword("OF")
        model = self.expect_name("model name")
        self.expect_eof()
        return ir.ArchiveVersion(model=model, which=which)

    # -- SELECT <builtin_fn>(name := value, …) --------------------------------
    _SELECT_FUNCTIONS = {
        "evaluate_model",
        "feature_importance",
        "compare_models",
    }

    def parse_select_function(self) -> "ir.SelectFunction":
        """The reference's built-in function statements (DSL.md:213-233)
        verbatim: PostgreSQL ``name := value`` named arguments and
        ``ARRAY[…]`` literals."""
        self.expect_keyword("SELECT")
        func = self.expect_name("built-in function name")
        if func not in self._SELECT_FUNCTIONS:
            raise ValueError(
                f"Unknown built-in function {func!r}; accepted:"
                f" {', '.join(sorted(self._SELECT_FUNCTIONS))}"
            )
        self.expect_op("(")
        kwargs: dict[str, Any] = {}
        if not (self.peek().kind == "OP" and self.peek().value == ")"):
            while True:
                key = self.expect_name("argument name")
                # `:=` lexes as ':' then '='
                self.expect_op(":")
                self.expect_op("=")
                if self.at_keyword("ARRAY"):
                    self.advance()
                    kwargs[key] = self.parse_list_literal()
                else:
                    kwargs[key] = self.parse_value()
                if not self.accept_op(","):
                    break
        self.expect_op(")")
        self.expect_eof()
        return ir.SelectFunction(func=func, kwargs=kwargs)

    # -- MONITOR MODEL --------------------------------------------------------------
    def parse_monitor(self) -> ir.MonitorModel:
        stmt = self.parse_monitor_body()
        self.expect_eof()
        return stmt

    # -- WHEN ... THEN <statement> -------------------------------------------------------
    def parse_when(self) -> ir.WhenRule:
        self.expect_keyword("WHEN")
        if self.at_keyword("MODEL"):
            return self.parse_when_model()
        if self.at_keyword("EVENT"):
            self.advance()
            pattern = self.expect_quoted("event pattern")
            predicate = None
            if self.at_keyword("WHERE"):
                self.advance()
                predicate = self.capture_source_until("THEN")
                if not predicate:
                    raise DSLSyntaxError("Expected predicate after WHERE")
                # the reference's JSON accessor (DSL.md:133-134):
                # payload->>'k' → get_json_object(payload, '$.k');
                # Spark coerces the string result for numeric compares.
                # \b-anchored: a column merely ENDING in 'payload'
                # (event_payload) must not be rewritten mid-identifier.
                # An ALIAS-qualified accessor (e.payload->>'k') folds
                # its alias away — the predicate evaluates against the
                # bare event row, and the old \b matched after the '.'
                # leaving `e.get_json_object(...)`, invalid SQL that
                # failed at fire time instead of registration
                predicate = _re.sub(
                    r"\b(?:[A-Za-z_]\w*\s*\.\s*)?payload\s*-\s*>\s*>\s*'([^']+)'",
                    lambda m: f"get_json_object(payload, '$.{m.group(1)}')",
                    predicate,
                )
        else:
            # metric sugar: model_metrics.accuracy < 0.85
            parts = [self.expect_name("metric source")]
            while self.accept_op("."):
                parts.append(self.expect_name("metric name"))
            if len(parts) < 2:
                raise DSLSyntaxError(
                    "Expected dotted metric reference (e.g. model_metrics.accuracy)"
                )
            metric = parts[-1]
            # the prefix scopes the rule: `model_metrics.` is the
            # generic any-model source; any OTHER prefix is a MODEL
            # NAME (fraud_detector.accuracy < 0.85) and must filter
            # the payload's model field — previously the prefix was
            # silently discarded and the rule fired on EVERY model's
            # metrics event
            source = ".".join(parts[:-1])
            op_tok = self.advance()
            if op_tok.kind != "OP" or op_tok.value not in {
                ">=", "<=", ">", "<", "!=", "=",
            }:
                raise DSLSyntaxError(
                    f"Expected comparison operator at {op_tok.pos}"
                )
            value = self.parse_value()
            pattern = "model.metrics"
            if isinstance(value, str):
                # string values compare as quoted literals — bare
                # interpolation would emit `= prod` (an identifier),
                # failing at fire time or matching a real column
                esc = value.replace("'", "''")
                predicate = (
                    f"get_json_object(payload, '$.{metric}')"
                    f" {op_tok.value} '{esc}'"
                )
            else:
                predicate = (
                    f"CAST(get_json_object(payload, '$.{metric}') AS DOUBLE)"
                    f" {op_tok.value} {value}"
                )
            if source != "model_metrics":
                mesc = source.replace("'", "''")
                predicate = (
                    f"get_json_object(payload, '$.model') = '{mesc}'"
                    f" AND {predicate}"
                )
        self.expect_keyword("THEN")
        tok = self.peek()
        if tok.kind == "EOF":
            raise DSLSyntaxError("Expected action statement after THEN")
        action = self.text[tok.pos :].strip()
        while self.peek().kind != "EOF":
            self.advance()
        # validate the action parses NOW, not at fire time — either a
        # single statement or a BEGIN…END workflow block (DSL.md:135-143)
        if action.upper().startswith("BEGIN"):
            parse_workflow_block_text(action)
        else:
            parse(action)
        return ir.WhenRule(
            event_pattern=pattern, payload_predicate=predicate, action=action
        )

    def parse_when_model(self) -> ir.WhenRule:
        """The reference's reactive-workflow WHEN (DSL.md:125-130)::

            WHEN MODEL fraud_detector ACCURACY > 0.95
              AND MODEL fraud_detector PRECISION > 0.90
              THEN DEPLOY TO production_endpoint
              AND ARCHIVE previous_version
              AND NOTIFY security_team('New fraud model deployed')

        Conditions compile to a ``model.metrics`` event predicate
        (model name + metric comparisons over the payload); THEN's
        AND-chain becomes a validated action SCRIPT — the subject
        model binds into model-implicit actions (DEPLOY TO …,
        ARCHIVE previous_version)."""
        models: set[str] = set()
        clauses: list[str] = []
        converged = False
        while True:
            self.expect_keyword("MODEL")
            model = self.expect_name("model name")
            models.add(model)
            if self.at_keyword("CONVERGED"):
                # README.md:54: WHEN MODEL m CONVERGED <actions> — an
                # event-pattern condition, no metric comparison; THEN
                # is optional and actions may chain without AND
                self.advance()
                if clauses:
                    # metric clauses target model.metrics events,
                    # CONVERGED targets model.converged — mixing them
                    # would produce a rule that never fires (converged
                    # payloads don't carry the compared metrics)
                    raise ValueError(
                        "CONVERGED cannot be combined with metric"
                        " comparisons in one WHEN MODEL rule — write"
                        " two rules"
                    )
                converged = True
                break
            metric = self.expect_name("metric name").lower()
            op = self.expect_comparison_op()
            value = self.parse_value()
            if not isinstance(value, (int, float)):
                raise ValueError(
                    f"Metric threshold for {metric!r} must be numeric"
                )
            clauses.append(
                f"CAST(get_json_object(payload, '$.{metric}') AS DOUBLE)"
                f" {op} {value}"
            )
            if self.at_keyword("AND") and self.at_keyword("MODEL", 1):
                self.advance()
                continue
            break
        if len(models) > 1:
            raise ValueError(
                "WHEN MODEL clauses must reference ONE model — a"
                " model.metrics event carries one model's metrics"
                f" (got: {', '.join(sorted(models))})"
            )
        subject = next(iter(models))
        esc = subject.replace("'", "''")
        predicate = " AND ".join(
            [f"get_json_object(payload, '$.model') = '{esc}'"] + clauses
        )
        if converged:
            if self.at_keyword("THEN"):
                self.advance()
            actions = self.parse_action_chain(subject)
            self.expect_eof()
            script = "; ".join(actions)
            if not script.upper().startswith("BEGIN"):
                parse_script(script)  # blocks validated in the chain
            return ir.WhenRule(
                event_pattern="model.converged",
                payload_predicate=predicate,
                action=script,
            )
        self.expect_keyword("THEN")
        actions = self.parse_action_chain(subject)
        self.expect_eof()  # a dropped AND must not silently eat actions
        script = "; ".join(actions)
        if not script.upper().startswith("BEGIN"):
            parse_script(script)  # validate now (blocks already were)
        return ir.WhenRule(
            event_pattern="model.metrics",
            payload_predicate=predicate,
            action=script,
        )

    def parse_action_chain(self, subject_model: str) -> list:
        """THEN's AND-chained actions, each rewritten to a standalone
        statement with the subject model bound in where the reference
        leaves it implicit."""
        actions: list[str] = []
        while True:
            if self.at_keyword("BEGIN"):
                # a THEN workflow block — legal for WHEN EVENT, now
                # for WHEN MODEL too; it must stand ALONE (the fire
                # path dispatches on the action text's BEGIN prefix,
                # so chain further statements INSIDE the block)
                if actions:
                    raise DSLSyntaxError(
                        "a BEGIN…END block must be the only THEN"
                        " action — move the other actions inside it"
                    )
                tok = self.peek()
                text = self.text[tok.pos :].strip()
                while self.peek().kind != "EOF":
                    self.advance()
                parse_workflow_block_text(text)  # validate NOW
                return [text]
            if self.at_keyword("DEPLOY") and self.at_keyword("TO", 1):
                self.advance()
                self.advance()
                if self.at_keyword("ENDPOINT"):
                    self.advance()
                endpoint = self.expect_name("endpoint name")
                actions.append(
                    f"DEPLOY MODEL {subject_model} TO ENDPOINT {endpoint}"
                )
            elif self.at_keyword("ARCHIVE"):
                self.advance()
                which = self.expect_name("version selector")
                actions.append(f"ARCHIVE {which} OF {subject_model}")
            elif self.at_keyword("NOTIFY") or self.at_keyword("ALERT"):
                kw = self.advance().value
                target = self.expect_name("notification target")
                if self.peek().kind == "OP" and self.peek().value == "(":
                    msg = self.parse_quoted_message().replace("'", "''")
                else:  # README.md:56 writes a bare NOTIFY ops_team
                    msg = ""
                actions.append(f"{kw} {target}('{msg}')")
            elif self.at_keyword("SCHEDULE"):
                # README.md:57: SCHEDULE retraining IN 30 days
                self.advance()
                n, unit = self.parse_schedule_clause()
                actions.append(
                    f"SCHEDULE retraining IN {n} {unit} FOR {subject_model}"
                )
            else:
                # a full DSL statement, captured to the next top-level
                # AND (or EOF)
                actions.append(
                    self.capture_statement_until_delimiter(chain_and=True)
                )
            if self.at_keyword("AND"):
                self.advance()
                continue
            if self.peek().kind == "NAME" and self.peek().value in (
                "DEPLOY", "ARCHIVE", "NOTIFY", "ALERT", "SCHEDULE",
            ):
                continue  # README.md:55-57 chains actions without AND
            break
        return actions

    # -- CREATE AGENT --------------------------------------------------------------------
    def parse_agent(self) -> Union[ir.Agent, ir.TunerAgent]:
        # entered from parse_create after CREATE; expects AGENT next
        self.expect_keyword("AGENT")
        name = self.expect_name("agent name")
        if self.at_keyword("FOR"):
            # the reference's two FOR MODEL agent forms (DSL.md:150-171)
            self.advance()
            self.expect_keyword("MODEL")
            model = self.expect_name("model name")
            if self.at_keyword("OPTIMIZE"):
                return self.parse_tuner_agent(name, model)
            return self.parse_monitor_agent(name, model)
        if self.at_keyword("CHECK"):
            return self.parse_trend_agent(name)
        monitor = self.parse_monitor_body()
        action = None
        if self.at_keyword("THEN"):
            self.advance()
            tok = self.peek()
            if tok.kind == "EOF":
                raise DSLSyntaxError("Expected action statement after THEN")
            action = self.text[tok.pos :].strip()
            while self.peek().kind != "EOF":
                self.advance()
            parse(action)
        return ir.Agent(name=name, monitor=monitor, action=action)

    def parse_monitor_agent(self, name: str, model: str) -> ir.Agent:
        """The reference's verbatim monitoring agent (DSL.md:150-157)::

            CREATE AGENT performance_monitor
              FOR MODEL fraud_detector
              CHECK METRICS EVERY 1 hour
              WHEN accuracy DROPS BELOW 0.85
                OR precision DROPS BELOW 0.80
                OR data_drift EXCEEDS 0.2
              THEN TRIGGER retraining_workflow
              AND NOTIFY on_call_engineer

        WHEN clauses are TRIGGER conditions; they are stored negated
        as health checks (``accuracy DROPS BELOW 0.85`` → health
        ``accuracy >= 0.85``), so ``run_agents_once`` fires exactly
        when any clause holds. No source clause: the monitor runs on
        the model's stored TRAIN source, resolved at run time."""
        self.expect_keyword("CHECK")
        self.expect_keyword("METRICS")
        self.expect_keyword("EVERY")
        every = _require_positive_int(self.parse_value(), "monitor interval")
        every_unit = self.expect_name("time unit")
        self.expect_keyword("WHEN")
        checks = [self.parse_drift_clause()]
        while self.at_keyword("OR"):
            self.advance()
            checks.append(self.parse_drift_clause())
        trigger = None
        notify = None
        if self.at_keyword("THEN"):
            self.advance()
            self.expect_keyword("TRIGGER")
            trigger = self.expect_name("workflow name")
            if self.at_keyword("AND"):
                self.advance()
                self.expect_keyword("NOTIFY")
                notify = self.expect_name("notification target")
        self.expect_eof()
        return ir.Agent(
            name=name,
            monitor=ir.MonitorModel(
                model=model,
                source=None,
                checks=checks,
                every=every,
                every_unit=every_unit,
            ),
            trigger=trigger,
            notify=notify,
        )

    def parse_drift_clause(self) -> str:
        """One reference WHEN clause → the NEGATED health condition:
        ``m DROPS BELOW v`` → ``m >= v``; ``m EXCEEDS v`` → ``m <= v``
        (plain comparisons are also accepted and negated)."""
        name = self.expect_name("metric name")
        if self.at_keyword("DROPS"):
            self.advance()
            self.expect_keyword("BELOW")
            return f"{name} >= {self.parse_value()}"
        if self.at_keyword("EXCEEDS"):
            self.advance()
            return f"{name} <= {self.parse_value()}"
        tok = self.peek()
        if tok.kind == "OP" and tok.value in {">=", "<=", ">", "<"}:
            self.advance()
            negated = {">": "<=", ">=": "<", "<": ">=", "<=": ">"}[tok.value]
            return f"{name} {negated} {self.parse_value()}"
        raise DSLSyntaxError(
            f"Expected DROPS BELOW, EXCEEDS, or a comparison after"
            f" {name!r} at {tok.pos}, got {tok.value!r}"
        )

    def parse_tuner_agent(self, name: str, model: str) -> ir.TunerAgent:
        """Hyperparameter-search agent (reference DSL.md:158-171):
        ``FOR MODEL m OPTIMIZE USING method SEARCH SPACE {…}
        MAXIMIZE metric WITH BUDGET n trials
        PARALLEL EXECUTION k workers`` — every clause of the
        reference's statement parses verbatim; MINIMIZE is accepted
        for loss-style metrics. (FOR MODEL is consumed by
        parse_agent, which routes on the next keyword.)"""
        self.expect_keyword("OPTIMIZE")
        self.expect_keyword("USING")
        method = self.expect_name("optimization method")
        self.expect_keyword("SEARCH")
        self.expect_keyword("SPACE")
        space = self.parse_search_space()
        maximize = True
        if self.at_keyword("MINIMIZE"):
            self.advance()
            maximize = False
        else:
            self.expect_keyword("MAXIMIZE")
        metric = self.expect_name("metric name")
        budget = 20
        workers = 1
        if self.at_keyword("WITH"):
            self.advance()
            self.expect_keyword("BUDGET")
            budget = _require_positive_int(self.parse_value(), "trial budget")
            self.expect_keyword("trials")
        if self.at_keyword("PARALLEL"):
            self.advance()
            self.expect_keyword("EXECUTION")
            workers = _require_positive_int(self.parse_value(), "worker count")
            self.expect_keyword("workers")
        self.expect_eof()
        return ir.TunerAgent(
            name=name,
            model=model,
            method=method,
            space=space,
            metric=metric,
            maximize=maximize,
            budget=budget,
            workers=workers,
        )

    def parse_search_space(self) -> tuple:
        """``{ 'pname': choice([…]) | uniform(a,b) | log_uniform(a,b),
        … }`` — keys are quoted or bare names; value specs are the
        three distribution constructors of reference DSL.md:162-166."""
        self.expect_op("{")
        out: list[tuple] = []
        seen: set[str] = set()
        while True:
            key_tok = self.advance()
            if key_tok.kind == "NAME":
                key = key_tok.value
            elif key_tok.kind == "SQSTRING":
                key = _unquote(key_tok)
            elif key_tok.kind == "DSTRING":
                key = json.loads(key_tok.value)
            else:
                raise DSLSyntaxError(
                    f"Expected search-space parameter name at {key_tok.pos},"
                    f" got {key_tok.value!r}"
                )
            if key in seen:
                raise ValueError(
                    f"Search space names parameter {key!r} twice"
                )
            seen.add(key)
            self.expect_op(":")
            kind = self.expect_name("distribution (choice/uniform/log_uniform)")
            self.expect_op("(")
            if kind == "choice":
                values = self.parse_list_literal()
                spec: tuple = ("choice", tuple(values))
            elif kind in {"uniform", "log_uniform"}:
                lo = self.parse_value()
                self.expect_op(",")
                hi = self.parse_value()
                if not isinstance(lo, (int, float)) or not isinstance(
                    hi, (int, float)
                ):
                    raise ValueError(
                        f"{kind} bounds for {key!r} must be numeric"
                    )
                spec = (kind, float(lo), float(hi))
            else:
                raise ValueError(
                    f"Unknown search-space distribution {kind!r} for"
                    f" {key!r}; expected choice, uniform, or log_uniform"
                )
            self.expect_op(")")
            out.append((key, spec))
            if self.accept_op("}"):
                break
            self.expect_op(",")
        return tuple(out)

    def parse_trend_agent(self, name: str) -> "ir.TrendAgent":
        """The reference README's trend agent (README.md:60-63)::

            CREATE AGENT overfitting_monitor
              CHECK MODEL fraud_detector EVERY 10 epochs
              WHEN validation_loss INCREASES FOR 3 consecutive_checks
              THEN stop_training AND rollback_to_best_checkpoint

        Fires after k consecutive moves of the watched metric in the
        stated direction across ``run_agents_once`` ticks; action
        NAMES resolve to registered procedures, else publish
        ``agent.action`` events."""
        self.expect_keyword("CHECK")
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        self.expect_keyword("EVERY")
        every = _require_positive_int(self.parse_value(), "check interval")
        every_unit = self.expect_name("interval unit")
        self.expect_keyword("WHEN")
        metric = self.expect_name("metric name").lower()
        if self.at_keyword("INCREASES"):
            direction = "increases"
        elif self.at_keyword("DECREASES"):
            direction = "decreases"
        else:
            tok = self.peek()
            raise DSLSyntaxError(
                f"Expected INCREASES or DECREASES at {tok.pos}, got"
                f" {tok.value!r}"
            )
        self.advance()
        self.expect_keyword("FOR")
        k = _require_positive_int(
            self.parse_value(), "consecutive-check count"
        )
        self.expect_name("consecutive-checks unit")  # consecutive_checks
        self.expect_keyword("THEN")
        actions = [self.expect_name("action name")]
        while self.at_keyword("AND"):
            self.advance()
            actions.append(self.expect_name("action name"))
        self.expect_eof()
        return ir.TrendAgent(
            name=name,
            model=model,
            metric=metric,
            direction=direction,
            k=k,
            every=every,
            every_unit=every_unit,
            actions=tuple(actions),
        )

    def parse_monitor_body(self) -> ir.MonitorModel:
        """Shared MONITOR MODEL ... tail (used by MONITOR and CREATE AGENT)."""
        self.expect_keyword("MONITOR")
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        if self.at_keyword("FOR"):
            return self.parse_monitor_verbose(model)
        self.expect_keyword("ON")
        source = self.capture_source_until("CHECK", "EVERY", "THEN")
        if not source:
            raise ValueError("Training data source clause cannot be empty")
        checks: list[str] = []
        every = None
        every_unit = None
        while True:
            if self.at_keyword("CHECK"):
                self.advance()
                self.expect_op("(")
                checks.append(self.parse_condition())
                while self.accept_op(","):
                    checks.append(self.parse_condition())
                self.expect_op(")")
            elif self.at_keyword("EVERY"):
                self.advance()
                every = _require_positive_int(self.parse_value(), "monitor interval")
                # the unit lookahead must not swallow a FOLLOWING
                # clause keyword: `EVERY 10 CHECK (...)` previously
                # consumed CHECK as the time unit and orphaned the
                # check clause, though the loop accepts the clauses
                # in either order
                if (
                    self.peek().kind == "NAME"
                    and not self.at_keyword("THEN")
                    and not self.at_keyword("CHECK")
                    and not self.at_keyword("EVERY")
                ):
                    every_unit = self.advance().value
            else:
                break
        return ir.MonitorModel(
            model=model,
            source=source,
            checks=checks,
            every=every,
            every_unit=every_unit,
            source_is_identifier=is_identifier_source(source),
        )

    def parse_monitor_verbose(self, model: str) -> ir.MonitorModel:
        """The reference's verbatim MONITOR (DSL.md:347-351)::

            MONITOR MODEL customer_churn
              FOR drift_detection ON features (age, tenure, monthly_spend)
              AND performance_degradation ON accuracy, f1_score
              CHECK FREQUENCY daily
              ALERT WHEN drift_score > 0.3 OR accuracy < 0.85

        FOR scopes record what is watched; ALERT WHEN clauses are
        stored NEGATED as health checks (alert fires when any holds).
        No source clause: the model's stored TRAIN source serves. The
        ``drift_score`` metric is computed on demand (the PSI drift
        proxy, same as ``data_drift``)."""
        scopes: list[tuple] = []
        self.expect_keyword("FOR")
        while True:
            kind = self.expect_name("monitor scope")
            self.expect_keyword("ON")
            if self.at_keyword("features") or self.at_keyword("FEATURES"):
                self.advance()
                self.expect_op("(")
                cols = [self.expect_name("feature column")]
                while self.accept_op(","):
                    cols.append(self.expect_name("feature column"))
                self.expect_op(")")
            else:
                cols = [self.expect_name("metric name")]
                while self.accept_op(","):
                    cols.append(self.expect_name("metric name"))
            scopes.append((kind, tuple(cols)))
            if self.at_keyword("AND"):
                self.advance()
                continue
            break
        every = None
        every_unit = None
        if self.at_keyword("CHECK"):
            self.advance()
            self.expect_keyword("FREQUENCY")
            every = 1
            every_unit = self.expect_name("frequency")
        checks: list[str] = []
        if self.at_keyword("ALERT"):
            self.advance()
            self.expect_keyword("WHEN")
            checks.append(self.parse_negated_comparison())
            while self.at_keyword("OR"):
                self.advance()
                checks.append(self.parse_negated_comparison())
        self.expect_eof()
        return ir.MonitorModel(
            model=model,
            source=None,
            checks=checks,
            every=every,
            every_unit=every_unit,
            scopes=tuple(scopes),
        )

    def parse_negated_comparison(self) -> str:
        """One ALERT WHEN clause → its NEGATED health condition."""
        name = self.expect_name("metric name")
        op = self.expect_comparison_op()
        neg = {">": "<=", ">=": "<", "<": ">=", "<=": ">"}
        if op not in neg:
            raise DSLSyntaxError(
                f"ALERT WHEN needs an ordering comparison, got {op!r}"
            )
        return f"{name} {neg[op]} {self.parse_value()}"

    # -- RETRAIN MODEL ------------------------------------------------------------------
    def parse_retrain(self) -> ir.RetrainModel:
        self.expect_keyword("RETRAIN")
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        latest_n = None
        latest_unit = "days"
        time_column = None
        if self.at_keyword("USING"):
            self.advance()
            self.expect_keyword("LATEST")
            latest_n = _require_positive_int(self.parse_value(), "retrain window")
            latest_unit = self.expect_name("time unit")
            self.expect_keyword("OF")
            self.expect_keyword("data")
        if self.at_keyword("TIME"):
            self.advance()
            self.expect_keyword("COLUMN")
            time_column = self.expect_name("time column")
        self.expect_eof()
        return ir.RetrainModel(
            model=model,
            latest_n=latest_n,
            latest_unit=latest_unit,
            time_column=time_column,
        )

    # -- SUBSCRIBE TO 'pattern' EXECUTE <statement> (EXTENSIONS.md:213-224) -------
    def parse_subscribe(self) -> ir.WhenRule:
        self.expect_keyword("SUBSCRIBE")
        self.expect_keyword("TO")
        pattern = self.expect_quoted("event pattern")
        self.expect_keyword("EXECUTE")
        if self._at_procedure_call():
            # the reference's handler form (AGENTS.md:49-51):
            # EXECUTE PROCEDURE handle_model_ready() — compiles to a
            # CALL of a host-registered procedure; dotted handlers
            # (agent.method()) are accepted exactly like ON EVENT's.
            # (PROCEDURE followed by a full statement is the repo's
            # original noise-word form and falls through below.)
            self.advance()  # PROCEDURE
            proc = self.parse_dotted_call_name()
            self.expect_eof()
            return ir.WhenRule(
                event_pattern=pattern,
                payload_predicate=None,
                action=f"CALL {proc}()",
            )
        if self.at_keyword("PROCEDURE"):
            self.advance()  # noise word before a statement action
        tok = self.peek()
        if tok.kind == "EOF":
            raise DSLSyntaxError("Expected action statement after EXECUTE")
        action = self.text[tok.pos :].strip()
        while self.peek().kind != "EOF":
            self.advance()
        # validate like parse_when: a BEGIN…END workflow block is a
        # legal action (the fire path runs it; registration-time
        # single-statement parse() wrongly rejected it while the
        # identical WHEN EVENT form accepted it)
        if action.upper().startswith("BEGIN"):
            parse_workflow_block_text(action)
        else:
            parse(action)
        return ir.WhenRule(event_pattern=pattern, payload_predicate=None, action=action)

    # -- PUBLISH EVENT (EXTENSIONS.md:194-210) -----------------------------------
    def parse_publish(self) -> ir.PublishEvent:
        self.expect_keyword("PUBLISH")
        self.expect_keyword("EVENT")
        tok = self.advance()
        if tok.kind == "SQSTRING":
            event_type = _unquote(tok)
        elif tok.kind == "NAME":
            event_type = tok.value
            while self.accept_op("."):
                event_type += "." + self.expect_name("event type part")
        else:
            raise DSLSyntaxError(
                f"Expected event type at {tok.pos}, got {tok.value!r}"
            )
        payload: dict = {}
        if self.at_keyword("WITH"):
            self.advance()
            self.expect_keyword("PAYLOAD")
            payload = self.parse_dict_literal()
        self.expect_eof()
        return ir.PublishEvent(event_type=event_type, payload=payload)

    # -- REGISTER AGENT (AGENTS.md:189-196) ---------------------------------------
    def parse_register(self) -> ir.RegisterAgent:
        self.expect_keyword("REGISTER")
        self.expect_keyword("AGENT")
        name = self.expect_name("agent name")
        capabilities: list[str] = []
        subscribe_to: Any = None
        publish_to: list[str] = []
        priority: Any = None
        limits: dict = {}

        def string_list() -> list:
            # the reference writes bracketed quoted lists
            # (AGENTS.md:191-194: ['training_monitoring', …])
            vals = self.parse_list_literal()
            bad = [v for v in vals if not isinstance(v, str)]
            if bad:
                raise ValueError(
                    f"Expected quoted strings in the list, got {bad!r}"
                )
            return vals

        while self.peek().kind != "EOF":
            if self.at_keyword("WITH"):
                self.advance()
                self.expect_keyword("CAPABILITIES")
                if self.peek().kind == "OP" and self.peek().value == "[":
                    capabilities.extend(string_list())
                else:  # repo short form: CAPABILITIES (name, name)
                    self.expect_op("(")
                    capabilities.append(self.expect_name("capability"))
                    while self.accept_op(","):
                        capabilities.append(self.expect_name("capability"))
                    self.expect_op(")")
            elif self.at_keyword("SUBSCRIBE"):
                self.advance()
                self.expect_keyword("TO")
                if self.peek().kind == "OP" and self.peek().value == "[":
                    subscribe_to = string_list()
                else:
                    subscribe_to = self.expect_quoted("pattern")
            elif self.at_keyword("PUBLISH"):
                self.advance()
                self.expect_keyword("TO")
                publish_to = string_list()
            elif self.at_keyword("PRIORITY"):
                self.advance()
                v = self.parse_value()
                if isinstance(v, str):  # reference: PRIORITY 'high'
                    if v not in ("low", "normal", "high", "critical"):
                        raise ValueError(
                            f"Unknown priority {v!r}; accepted: low,"
                            " normal, high, critical (or an integer)"
                        )
                    priority = v
                else:
                    priority = _require_positive_int(v, "agent priority")
            elif self.at_keyword("RESOURCE_LIMITS"):
                self.advance()
                limits = self.parse_dict_literal()
            else:
                tok = self.peek()
                raise DSLSyntaxError(f"Unexpected input {tok.value!r} at {tok.pos}")
        return ir.RegisterAgent(
            name=name,
            capabilities=capabilities,
            subscribe_to=subscribe_to,
            publish_to=publish_to,
            priority=priority,
            resource_limits=limits,
        )

    # -- EVALUATE MODEL -------------------------------------------------------
    def parse_evaluate(self) -> ir.EvaluateModel:
        self.expect_keyword("EVALUATE")
        self.expect_keyword("MODEL")
        model = self.expect_name("model name")
        self.expect_keyword("ON")
        source = self.capture_source_until("METRICS")
        if not source:
            raise ValueError("Training data source clause cannot be empty")
        metrics: list[str] = []
        if self.at_keyword("METRICS"):
            self.advance()
            self.expect_op("(")
            metrics.append(self.expect_name("metric name"))
            while self.accept_op(","):
                metrics.append(self.expect_name("metric name"))
            self.expect_op(")")
        self.expect_eof()
        return ir.EvaluateModel(
            model=model,
            source=source,
            metrics=metrics,
            source_is_identifier=is_identifier_source(source),
        )

    # -- RESIZE (multimodal DSL twin, SURVEY §2.11) ------------------------
    def parse_resize(self) -> "ir.ResizeMedia":
        """``RESIZE <source> TO <w> x <h> USING <codec>
        [PAYLOAD COLUMN c] [ID COLUMN c]`` — re-encode media at a
        target geometry (operators/multimodal.py::resize_image). The
        ``x``/``BY`` separator is read in any case, which no syntax
        line slot does."""
        self.expect_keyword("RESIZE")
        source = self.capture_source_until("TO")
        if not source:
            raise ValueError("RESIZE source cannot be empty")
        self.expect_keyword("TO")
        width = _require_positive_int(self.parse_value(), "RESIZE width")
        sep = self.advance()
        if not (
            sep.kind == "NAME" and sep.value.lower() in ("x", "by")
        ):
            raise DSLSyntaxError(
                f"Expected 'x' between RESIZE dimensions, got {sep.value!r}"
                f" at {sep.pos}"
            )
        height = _require_positive_int(self.parse_value(), "RESIZE height")
        self.expect_keyword("USING")
        codec = self.expect_name("codec name")
        # [PAYLOAD COLUMN c] [ID COLUMN c] in either order, each at most once
        columns = {"PAYLOAD": "payload", "ID": "media_id"}
        seen: set = set()
        while self.peek().value in columns.keys() - seen:
            word = self.advance().value
            self.expect_keyword("COLUMN")
            columns[word] = self.expect_name(f"{word.lower()} column")
            seen.add(word)
        self.expect_eof()
        return ir.ResizeMedia(
            source=source,
            width=width,
            height=height,
            codec=codec,
            payload_column=columns["PAYLOAD"],
            id_column=columns["ID"],
            source_is_identifier=is_identifier_source(source),
        )


def _unquote(tok: Token) -> str:
    """A SQSTRING token's text: quotes stripped, ``''`` → ``'``
    (reference: dsl/parser.py:135)."""
    return tok.value[1:-1].replace("''", "'")


def _require_positive_int(value: Any, what: str) -> int:
    """Validate positive integers, accepting integral floats (``5.0``).

    Mirrors reference validation (dsl/parser.py:418-456, 486-499):
    ``{what} must be a positive integer``.
    """
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise ValueError(f"{what} must be a positive integer")
    if isinstance(value, float):
        if not value.is_integer():
            raise ValueError(f"{what} must be a positive integer")
        value = int(value)
    if value <= 0:
        raise ValueError(f"{what} must be a positive integer")
    return value


def _syntax_items(part: str) -> list:
    """One part of a syntax line as items: literal keywords (``str``),
    ``(field, kind)`` slots and choices — ``{leading keyword: branch}``,
    keyed ``None`` for the branch a slot leads."""
    items: list = []
    for words, choice in _re.findall(r"([^{}]+)|\{([^}]*)\}", part):
        if choice:
            branches = [_syntax_items(b) for b in choice.split("|")]
            items.append(
                {b[0] if isinstance(b[0], str) else None: b for b in branches}
            )
        else:
            items += [
                tuple(w[1:-1].split(":")) if w[0] == "<" else w
                for w in words.split()
            ]
    return items


def _slots(items: list):
    """Every ``(field, kind)`` slot among ``items``, choices included."""
    for item in items:
        if isinstance(item, dict):
            for branch in item.values():
                yield from _slots(branch)
        elif isinstance(item, tuple):
            yield item


class _Syntax:
    """A statement read from one syntax line (see the module
    docstring): UPPERCASE literal keywords, ``<field:kind>`` slots and
    ``{…|…}`` choices, then ``[optional clauses]`` in any order, the
    last occurrence winning. Only the fields the statement names reach
    ``cls``, so the IR dataclass holds every default and every value
    check."""

    def __init__(self, cls: type, line: str):
        required, *clauses = [
            _syntax_items(part)
            for part in _re.split(r"\s*[\[\]]\s*", line)
            if part.strip()
        ]
        self.cls = cls
        self.required = required
        self.clauses = {clause[0]: clause for clause in clauses}
        # the statement's name in errors: its words before a slot or FROM
        self.head = " ".join(
            takewhile(lambda w: isinstance(w, str) and w != "FROM", required)
        )
        # a source slot may read nothing where the IR field has a default
        self.defaults = {
            f.name
            for f in dataclasses.fields(cls)
            if f.default is not dataclasses.MISSING
        }

    def __call__(self, parser: _Parser) -> Statement:
        fields: dict[str, Any] = {}
        self._read(parser, self.required, fields)
        while parser.peek().kind == "NAME" and parser.peek().value in self.clauses:
            clause = self.clauses[parser.peek().value]
            self._read(parser, clause, fields)
            if len(clause) == 1:  # a keyword-only clause sets its flag
                fields[clause[0].lower()] = True
        parser.expect_eof()
        return self.cls(**fields)

    def _read(self, p: _Parser, items: list, fields: dict) -> None:
        keyword = ""
        for j, item in enumerate(items):
            if isinstance(item, str):
                keyword = p.expect_keyword(item).value
                continue
            if isinstance(item, dict):
                # the next keyword picks the branch, else the slot-led
                # one, else none; a re-read choice forgets the last one
                for name, _ in _slots([item]):
                    fields.pop(name, None)
                branch = item.get(p.peek().value) or item.get(None, [])
                self._read(p, branch, fields)
                continue
            name, kind = item
            what = name.replace("_", " ")
            if kind == "source":
                # up to the next keyword (a choice's leading keywords),
                # else to any clause
                stops = items[j + 1] if j + 1 < len(items) else self.clauses
                value = p.capture_source_until(
                    *([stops] if isinstance(stops, str) else filter(None, stops))
                )
                if not value:
                    if name in self.defaults:
                        continue
                    raise ValueError(f"{self.head} {name} cannot be empty")
                fields[f"{name}_is_identifier"] = is_identifier_source(value)
            elif kind == "name":
                value = p.expect_name(what)
            elif kind == "names":
                value = [p.expect_name(what)]
                while p.accept_op(","):
                    value.append(p.expect_name(what))
            elif kind == "quoted":
                value = p.expect_quoted(what)
            elif kind == "unit":
                tok = p.advance()
                value = tok.value.upper() if tok.kind == "NAME" else ""
            elif kind == "params":
                value = {}
                if p.accept_op("("):
                    value = dict(p.parse_param_list())
                    p.expect_op(")")
            elif kind == "number":
                tok = p.advance()
                if tok.kind != "NUMBER":
                    raise ValueError(f"{keyword} must be a number")
                value = float(_to_number(tok.value))
            elif kind == "int":
                tok = p.advance()
                if tok.kind != "NUMBER":
                    raise ValueError(f"{keyword} must be a positive integer")
                value = _to_number(tok.value)
                if isinstance(value, float) and value.is_integer():
                    value = int(value)
            else:  # floats
                value = []
                while True:
                    tok = p.advance()
                    if tok.kind != "NUMBER":
                        raise ValueError(f"{keyword} must be a list of numbers")
                    value.append(float(_to_number(tok.value)))
                    if not p.accept_op(","):
                        break
            fields[name] = value


def parse_workflow_block_text(text: str) -> "ir.WorkflowBlock":
    """Parse a standalone ``BEGIN … END`` block (a WHEN rule's THEN
    body) — used at registration/validation time and again by the
    engine's workflow runner."""
    return _Parser(text).parse_workflow_block()


def _strip_sql_comments(text: str) -> str:
    """Remove ``--``-to-end-of-line comments (quote-aware: a ``--``
    inside a string literal survives). The CTE prefix embeds into the
    statement's source fragment, whose injection guard rejects raw
    comments — the lexer already skipped them, so stripping here keeps
    the raw slice and the token stream consistent."""
    out: list[str] = []
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            out.append(ch)
            if ch == quote:
                quote = None
            i += 1
        elif ch in ("'", '"'):
            quote = ch
            out.append(ch)
            i += 1
        elif ch == "-" and text[i : i + 2] == "--":
            while i < n and text[i] != "\n":
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _parse_cte_prefixed(parser: "_Parser") -> Statement:
    """``WITH ctes AS (…) <DSL statement>`` (reference DSL.md:396-417:
    'The DSL seamlessly integrates with existing SQL' — standard-SQL
    CTEs prepare the data, the DSL statement consumes it). The CTE
    text becomes part of the statement's SOURCE: the resolved source
    is ``(WITH … SELECT * FROM <original source>) __cte_src``, so
    Catalyst plans data prep and the ML statement as ONE query —
    predicate pushdown and column pruning cross the boundary."""
    depth = 0
    split_tok = None
    last_close = None  # index of the ")" closing the latest CTE
    for j in range(parser.i, len(parser.tokens)):
        tok = parser.tokens[j]
        if tok.kind == "OP" and tok.value == "(":
            depth += 1
        elif tok.kind == "OP" and tok.value == ")":
            depth -= 1
            if depth == 0:
                last_close = j
        elif (
            depth == 0
            and tok.kind == "NAME"
            and {tok.value, f"{tok.value} {parser.tokens[j + 1].value}"}
            & _CTE_HOST_KEYWORDS
        ):
            split_tok = tok
            break
    if split_tok is None:
        raise DSLSyntaxError(
            "Expected a DSL statement after the WITH clause (e.g."
            " WITH features AS (SELECT …) TRAIN MODEL …)"
        )
    if last_close != j - 1:
        # words between the last CTE and the host keyword would
        # otherwise vanish into the CTE text (or into the host's source)
        stray = parser.tokens[j - 1 if last_close is None else last_close + 1]
        raise DSLSyntaxError(
            f"Unexpected {stray.value!r} at {stray.pos} after the WITH"
            " clause: the DSL statement must follow the ')' that closes"
            " the last CTE"
        )
    cte_text = _strip_sql_comments(parser.text[: split_tok.pos]).strip()
    stmt = parse(parser.text[split_tok.pos :])
    source = getattr(stmt, "source", None)
    if not isinstance(source, str) or not source:
        raise DSLSyntaxError(
            f"A WITH prefix cannot feed a"
            f" {type(stmt).__name__} statement (it reads no source)"
        )
    stmt.source = f"({cte_text} SELECT * FROM {source}) __cte_src"
    stmt.source_is_identifier = False
    return stmt


# The statement set, held once: leading keyword, or two where the first
# leads several statements → parse method or syntax line. Each consumes
# its own keyword(s); parse() dispatches here, and _STATEMENT_STARTS,
# _CTE_HOST_KEYWORDS and the unknown-statement error derive from it.
_STATEMENTS = {
    "TRAIN": _Parser.parse_train,
    "TRAIN TOKENIZER": _Syntax(
        ir.TrainTokenizer,
        "TRAIN TOKENIZER <name:name> FROM <source:source> VOCAB <vocab:int>"
        " [TEXT COLUMN <text_column:name>] [STORED AS <stored_as:name>]",
    ),
    "COMPUTE": _Parser.parse_compute,
    "PREDICT": _Parser.parse_predict,
    "EVALUATE": _Parser.parse_evaluate,
    "CREATE": _Parser.parse_create,
    "CREATE INDEX": _Syntax(
        ir.CreateIndex,
        "CREATE INDEX <name:name> ON <source:source> USING <method:name>"
        " <params:params> [STORED AS <stored_as:name>]",
    ),
    "DEPLOY": _Parser.parse_deploy,
    "MONITOR": _Parser.parse_monitor,
    "RETRAIN": _Parser.parse_retrain,
    "WHEN": _Parser.parse_when,
    "EXPLAIN": _Parser.parse_explain,
    "REGISTER": _Parser.parse_register,
    "PUBLISH": _Parser.parse_publish,
    "SUBSCRIBE": _Parser.parse_subscribe,
    "DEDUPLICATE": _Syntax(
        ir.Deduplicate,
        "DEDUPLICATE <source:source> USING <method:name> <params:params>"
        " [ON <column:name>] [THRESHOLD <threshold:number>]",
    ),
    "SEARCH": _Syntax(
        ir.SimilaritySearch,
        "SEARCH SIMILAR <source:source>"
        " [USING {INDEX <index:name> | <method:name>} <params:params>]"
        " [TOP <k:int>]",
    ),
    "SAMPLE": _Syntax(
        ir.SampleCorpus,
        "SAMPLE <source:source>"
        " {RATE <rate:number> | TOP <top_n:int> WEIGHT BY <weight_column:name>}"
        " [ON <column:name>]",
    ),
    "SAMPLE FRAMES": _Syntax(
        ir.SampleFrames,
        "SAMPLE FRAMES FROM <source:source> EVERY <every:int>"
        " [USING <codec:name>] [PAYLOAD COLUMN <payload_column:name>]"
        " [ID COLUMN <id_column:name>]",
    ),
    "DECODE": _Syntax(
        ir.DecodeMedia,
        "DECODE <source:source> USING <codec:name> [WINDOWS <windows:int>]"
        " [PAYLOAD COLUMN <payload_column:name>] [ID COLUMN <id_column:name>]",
    ),
    "RESIZE": _Parser.parse_resize,
    "LOAD": _Syntax(
        ir.LoadMedia,
        "LOAD MEDIA FROM <path:quoted> [GLOB <glob:quoted>] [RECURSIVE]"
        " [PARTITIONED] [AS <view:name>]",
    ),
    "DECONTAMINATE": _Syntax(
        ir.Decontaminate,
        "DECONTAMINATE <source:source> AGAINST <benchmark:source>"
        " [ON <column:name>] [THRESHOLD <threshold:int>]",
    ),
    "PACK": _Syntax(
        ir.PackSequences,
        "PACK <source:source> INTO <context:int> TOKEN CHUNKS"
        " [BUCKETS <buckets:int>] [ON <column:name>]",
    ),
    "REDACT": _Syntax(
        ir.RedactPII,
        "REDACT <source:source> [ON <column:name>]",
    ),
    "CHUNK": _Syntax(
        ir.ChunkWindows,
        "CHUNK <source:source> INTO <win:int> TOKEN WINDOWS"
        " [STRIDE <stride:int>] [ON <column:name>]",
    ),
    "SESSIONIZE": _Syntax(
        ir.Sessionize,
        "SESSIONIZE <source:source> BY <key:name>"
        " [GAP <gap_value:int> <gap_unit:unit>] [ON <ts_column:name>]"
        " [VALUE <value_column:name>]",
    ),
    "QUANTIZE": _Syntax(
        ir.QuantizeEmbeddings,
        "QUANTIZE EMBEDDINGS <source:source> [ON <column:name>]"
        " [ID <id_column:name>]",
    ),
    "MIX": _Syntax(
        ir.MixCorpus,
        "MIX <source:source> [BY <by:name>] [TEMPERATURE <temperature:int>]",
    ),
    "PROFILE": _Syntax(
        ir.ProfileTable,
        "PROFILE <source:source> ON <columns:names>",
    ),
    "DETECT": _Syntax(
        ir.DetectAnomalies,
        "DETECT ANOMALIES <source:source> [BY <key:name>]"
        " [ON <ts_column:name>] [WINDOW <window:int>]",
    ),
    "SHARD": _Syntax(
        ir.ShardCorpus,
        "SHARD <source:source> INTO <n_shards:int> SHARDS"
        " [BY <id_column:name>]",
    ),
    "COMPACT": _Syntax(
        ir.CompactTable,
        "COMPACT <source:source> TARGET <target_bytes:int> BYTES"
        " [PARTITION BY <part_column:name>] [FILE BY <file_column:name>]"
        " [SIZE BY <bytes_column:name>]",
    ),
    "SHUFFLE": _Syntax(
        ir.ShuffleCorpus,
        "SHUFFLE <source:source> EPOCHS <epochs:int> [SHARDS <n_shards:int>]"
        " [BY <id_column:name>]",
    ),
    "SCORE": _Syntax(
        ir.ScoreQuality,
        "SCORE QUALITY <source:source> [BUCKETS <buckets:int>]"
        " [ON <text_column:name>]",
    ),
    "WEIGH": _Syntax(
        ir.WeighCorpus,
        "WEIGH <source:source> AGAINST <target_value:quoted>"
        " [ON <target_column:name>] [BUCKETS <buckets:int>]",
    ),
    "AUDIT": _Syntax(
        ir.AuditAnonymity,
        "AUDIT ANONYMITY <source:source> ON <columns:names> [RISK <risk:int>]",
    ),
    "CALIBRATE": _Syntax(
        ir.CalibrateDedup,
        "CALIBRATE DEDUP <source:source> [THRESHOLDS <thresholds:floats>]"
        " [ON <text_column:name>]",
    ),
    "DROP INDEX": _Syntax(ir.DropIndex, "DROP INDEX <name:name>"),
    "DROP TOKENIZER": _Syntax(ir.DropTokenizer, "DROP TOKENIZER <name:name>"),
    "REFRESH": _Syntax(ir.RefreshIndex, "REFRESH INDEX <name:name>"),
    "SELECT": _Parser.parse_select_function,
    "WITH": _parse_cte_prefixed,
    "NOTIFY": _Parser.parse_notify,
    "ALERT": _Parser.parse_notify,
    "ARCHIVE": _Parser.parse_archive,
    "CALL": _Parser.parse_call,
    "EXECUTE": _Parser.parse_call,
    "ON": _Parser.parse_on_event,
    "SET": _Parser.parse_set,
    "SCHEDULE": _Parser.parse_schedule,
    "TOKENIZE": _Syntax(
        ir.Tokenize,
        "TOKENIZE <source:source> USING <tokenizer:name>"
        " [TEXT COLUMN <text_column:name>]",
    ),
}

# Keywords that BEGIN a statement or a THEN-chain action — the
# chain-AND splitter consults this so a statement's own conjunctions
# never split the chain. ROLLBACK and BEGIN only open chain actions.
_STATEMENT_STARTS = frozenset(k.split()[0] for k in _STATEMENTS) | {
    "ROLLBACK",
    "BEGIN",
}

# The statement keys a WITH prefix can feed: every syntax line with a
# source slot, plus the hand-written statements that read a source.
_CTE_HOST_KEYWORDS = frozenset(
    k
    for k, v in _STATEMENTS.items()
    if isinstance(v, _Syntax)
    and any(kind == "source" for _, kind in _slots(v.required))
) | {"TRAIN", "PREDICT", "EVALUATE", "DEPLOY", "MONITOR", "RETRAIN", "EXPLAIN",
     "RESIZE"}


def parse(text: str) -> Statement:
    """Parse one DSL statement into its IR dataclass."""
    parser = _Parser(text)
    tok, nxt = parser.peek(), parser.peek(1)
    if tok.kind != "NAME":
        raise DSLSyntaxError(f"Expected statement keyword, got {tok.value!r}")
    # a two-word head first: SAMPLE FRAMES before SAMPLE
    method = _STATEMENTS.get(f"{tok.value} {nxt.value}") or _STATEMENTS.get(
        tok.value
    )
    if method is None:
        seconds = [
            k.split()[1] for k in _STATEMENTS if k.startswith(f"{tok.value} ")
        ]
        if seconds:  # DROP leads only two-word heads
            raise DSLSyntaxError(
                f"Expected keyword {' or '.join(seconds)}, got {nxt.value!r}"
                f" at {nxt.pos}"
            )
        raise DSLSyntaxError(
            f"Unknown statement {tok.value!r}; expected one of:"
            f" {', '.join(dict.fromkeys(k.split()[0] for k in _STATEMENTS))}"
        )
    return method(parser)


def split_statements(text: str) -> list[str]:
    """Split a script into top-level statements on ``;``.

    Quote-aware (semicolons inside single/double-quoted literals and
    JSON payloads don't split) — the reference compiles one statement
    per call (reference: dsl/cli.py:14-46) but its design docs write
    multi-statement workflows (reference: DSL.md:123-144), so the
    script form accepts both. The source-fragment injection guard
    still rejects ``;`` *inside* a statement's FROM fragment, so a
    top-level semicolon is unambiguous.
    """
    parts: list[str] = []
    quote: str | None = None
    escaped = False
    begin_depth = 0  # BEGIN…END nesting: a ';' inside doesn't split
    paren_depth = 0
    prev_word = ""
    start = 0
    n = len(text)
    i = 0

    def next_nonspace(j: int) -> str:
        while j < n and text[j].isspace():
            j += 1
        return text[j] if j < n else ""

    def next_word(j: int) -> str:
        while j < n and text[j].isspace():
            j += 1
        k = j
        while k < n and (text[k].isalnum() or text[k] == "_"):
            k += 1
        return text[j:k]

    while i < n:
        ch = text[i]
        if quote:
            if escaped:
                escaped = False
            elif quote == '"' and ch == "\\":
                # the lexer's DSTRING accepts \" escapes — a \" must
                # not close the literal here or a ; inside it splits
                # the statement (single-quoted strings have no
                # escapes, matching the lexer)
                escaped = True
            elif ch == quote:
                quote = None
            i += 1
        elif ch == "-" and i + 1 < n and text[i + 1] == "-":
            # SQL `--`-to-newline comment (the lexer skips them like
            # whitespace): a ';' or block keyword inside one must not
            # split/track — previously any semicolon in a comment (or
            # a trailing comment after the final ';') broke
            # parse_script
            while i < n and text[i] != "\n":
                i += 1
            prev_word = ""
        elif ch in ("'", '"'):
            quote = ch
            prev_word = ""
            i += 1
        elif ch.isalpha() or ch == "_":
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            word = text[i:j]
            # Block tracking is PAREN-AWARE: a CASE…END or IF(…) inside
            # a parenthesized subquery/expression never touches the
            # depth. At the top level: BEGIN opens; a workflow IF opens
            # (only inside a block, never the IF of an `END IF`, never
            # Spark's IF(cond, a, b) function call); END closes — but
            # only in statement-final position (followed by ';', 'IF',
            # or end of text), so a top-level `CASE … END = 1` filter
            # can't close a surrounding block.
            if paren_depth == 0:
                if word == "BEGIN":
                    begin_depth += 1
                elif word == "END":
                    # statement-final END only: followed by ';', end of
                    # text, or the IF of an `END IF` — a `CASE … END = 1`
                    # or `… END AS x` is an expression's END
                    nxt_c = next_nonspace(j)
                    if nxt_c in (";", "") or next_word(j) == "IF":
                        begin_depth = max(0, begin_depth - 1)
                elif (
                    word == "IF"
                    and begin_depth >= 1
                    and prev_word != "END"
                    and next_nonspace(j) != "("
                ):
                    begin_depth += 1
            prev_word = word
            i = j
        elif ch == "(":
            paren_depth += 1
            prev_word = ""
            i += 1
        elif ch == ")":
            paren_depth = max(0, paren_depth - 1)
            prev_word = ""
            i += 1
        elif ch == ";" and begin_depth == 0:
            stmt = text[start:i].strip()
            if stmt and not _comment_only(stmt):
                parts.append(stmt)
            start = i + 1
            prev_word = ""
            i += 1
        else:
            if not ch.isspace():
                prev_word = ""
            i += 1
    stmt = text[start:].strip()
    if stmt and not _comment_only(stmt):
        parts.append(stmt)
    return parts


def _comment_only(stmt: str) -> bool:
    """True when a split chunk holds no tokens (whitespace/comments
    only) — e.g. the text after a final ';' followed by a trailing
    `-- done` comment."""
    from declarativeml_spark.dsl.lexer import tokenize

    try:
        toks = tokenize(stmt)
    except Exception:  # noqa: BLE001 — let parse() raise the real error
        return False
    return not toks or toks[0].kind == "EOF"


def parse_script(text: str) -> list[Statement]:
    """Parse a multi-statement script (see ``split_statements``)."""
    return [parse(stmt) for stmt in split_statements(text)]
