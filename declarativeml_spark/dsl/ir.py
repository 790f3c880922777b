"""Statement IR for the declarative ML DSL.

The dataclass shapes and field names deliberately match the
reference's public IR (reference: dsl/parser.py:261-284 —
``TrainModel`` / ``ComputeKernel`` and the option dataclasses at
dsl/parser.py:225-258), because the reference exposes the IR as
public API (reference: dsl/__init__.py:3-5) and its test-suite
constructs these directly. Validation invariants are identical,
including error messages, so the reference's negative tests port
verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from math import isclose
from typing import Any, Dict, List, Optional, Tuple


def _require_positive(what: str, v: Any, noun: str = "integer") -> None:
    """The one positive-count check: ``v`` must be an ``int`` (not a
    ``bool``) above zero, else ``{what} must be a positive {noun}``."""
    if not isinstance(v, int) or isinstance(v, bool) or v <= 0:
        raise ValueError(f"{what} must be a positive {noun}")


@dataclass
class DataSplit:
    """Named split ratios; each in [0,1], summing to 1.0 (±1e-6)."""

    ratios: Dict[str, float]

    def __post_init__(self) -> None:
        for value in self.ratios.values():
            if not 0 <= value <= 1:
                raise ValueError("split ratios must be between 0 and 1")
        total = sum(self.ratios.values())
        if not isclose(total, 1.0, abs_tol=1e-6):
            raise ValueError("data split ratios must sum to 1.0")


@dataclass
class ValidationOption:
    """VALIDATE USING method(params) | VALIDATE ON dataset."""

    method: Optional[str] = None
    params: Optional[List[Tuple[str, Any]]] = None
    on: Optional[str] = None


@dataclass
class OptimizeOption:
    metric: str


@dataclass
class BalanceOption:
    method: str


@dataclass
class CheckpointOption:
    interval: int
    unit: Optional[str] = None


@dataclass
class FallbackOption:
    """``WITH FALLBACK (ON err RETRY WITH params, ...) MAX RETRIES n``
    (reference DSL.md:372-383)."""

    retries: List[Tuple[str, List[Tuple[str, Any]]]]  # (error_kind, overrides)
    max_retries: int = 1


@dataclass
class TrainModel:
    """IR for ``TRAIN MODEL`` statements."""

    name: str
    algorithm: str
    params: List[Tuple[str, Any]]
    source: str
    target: str
    features: List[str]
    source_is_identifier: bool = True
    split: Optional[DataSplit] = None
    validate: Optional[ValidationOption] = None
    optimize_metric: Optional[str] = None
    stop_condition: Optional[str] = None
    balance_method: Optional[str] = None
    checkpoint: Optional[CheckpointOption] = None
    fallback: Optional[FallbackOption] = None


# step units the forecaster understands (ml/forecast.py::_UNIT_STEPS
# must cover exactly these — asserted in tests) — validated HERE so a
# bad `FORECAST 3 months AHEAD` fails at parse time, not after a full
# model fit
FORECAST_UNITS = frozenset(
    {"hour", "hours", "day", "days", "week", "weeks"}
)


@dataclass
class ForecastModel:
    """IR for ``TRAIN MODEL … FORECAST`` time-series statements
    (reference DSL.md:297-313: seasonality, trend, time column)."""

    name: str
    algorithm: str
    params: List[Tuple[str, Any]]
    source: str
    target: str
    time_column: str
    horizon: int = 7
    seasonal: Optional[str] = None  # e.g. 'weekday'
    trend: Optional[str] = None  # e.g. 'linear'
    lags: List[int] = field(default_factory=lambda: [1, 7])
    source_is_identifier: bool = True
    # reference DSL.md:297-313 verbose form extensions
    exog: List[str] = field(default_factory=list)  # exogenous regressors
    seasonal_terms: List[str] = field(default_factory=list)
    confidence_levels: List[float] = field(default_factory=list)
    horizon_unit: Optional[str] = None  # 'days'/'weeks'/'hours'

    def __post_init__(self) -> None:
        # direct IR construction must enforce the same invariant the
        # parser's _require_positive_int guards — a zero/negative
        # horizon otherwise fails only AFTER a full model fit
        if not isinstance(self.horizon, int) or self.horizon < 1:
            raise ValueError(
                f"FORECAST horizon must be a positive integer,"
                f" got {self.horizon!r}"
            )
        if self.horizon_unit is not None and (
            self.horizon_unit not in FORECAST_UNITS
        ):
            raise ValueError(
                f"Unknown forecast unit {self.horizon_unit!r}; expected"
                f" one of {sorted(FORECAST_UNITS)}"
            )
        # any unknown token after TREND would otherwise be silently
        # modelled as linear — reject like SEASONAL rejects typos
        if self.trend is not None and self.trend != "linear":
            raise ValueError(
                f"Unknown trend type {self.trend!r}; expected 'linear'"
            )
        if not self.lags:
            raise ValueError(
                "FORECAST needs at least one lag (LAGS [] would train"
                " on no autoregressive features and crash at forecast"
                " time)"
            )


@dataclass
class ComputeKernel:
    """IR for ``COMPUTE`` statements."""

    name: str
    kernel: str
    inputs: Optional[List[str]] = None
    output: Optional[str] = None
    schedule_ticks: Optional[int] = None
    options: Optional[Dict[str, Any]] = None


@dataclass
class PredictModel:
    """IR for ``PREDICT USING MODEL`` (spec'd in the reference at
    DSL.md:69-72; implemented here as a first-class statement)."""

    model: str
    source: str
    sink: Optional[str] = None
    batch_size: Optional[int] = None
    source_is_identifier: bool = True


@dataclass
class EvaluateModel:
    """IR for ``EVALUATE MODEL`` (reference DSL.md:215-233
    ``evaluate_model`` built-in, promoted to a statement)."""

    model: str
    source: str
    metrics: List[str] = field(default_factory=list)
    source_is_identifier: bool = True


@dataclass
class FeatureTransformer:
    """IR for ``CREATE FEATURE TRANSFORMER name AS SELECT ...``
    (reference DSL.md:79-86, spec-only there)."""

    name: str
    select_sql: str


@dataclass
class Ensemble:
    """IR for ``CREATE ENSEMBLE`` (reference DSL.md:320-327)."""

    name: str
    models: List[Tuple[str, float]]  # (model_name, weight)
    method: str = "weighted_average"
    validate_on: Optional[str] = None


@dataclass
class DeployModel:
    """IR for ``DEPLOY MODEL`` (reference DSL.md:57-66)."""

    model: str
    version: Optional[int] = None
    config: Dict[str, Any] = field(default_factory=dict)


@dataclass
class DeployABTest:
    """IR for ``DEPLOY MODELS (a, b) ... TRAFFIC SPLIT`` (DSL.md:330-334)."""

    models: List[str]
    endpoint: Optional[str] = None
    split: List[float] = field(default_factory=list)  # percentages
    track_metrics: List[str] = field(default_factory=list)
    promote: Optional[str] = None
    promote_after: Optional[int] = None


@dataclass
class MonitorModel:
    """IR for ``MONITOR MODEL`` (reference DSL.md:347-351).

    ``source=None`` (the reference's ``CREATE AGENT … FOR MODEL``
    form names no data) means: monitor on the model's own stored
    TRAIN-statement source, resolved at run time like RETRAIN does."""

    model: str
    source: Optional[str]
    checks: List[str] = field(default_factory=list)  # condition strings
    every: Optional[int] = None
    every_unit: Optional[str] = None
    source_is_identifier: bool = True
    # verbose-form watch scopes (DSL.md:348-349), e.g.
    # (("drift_detection", ("age", "tenure")), ("performance_degradation",
    #  ("accuracy", "f1_score"))) — recorded metadata
    scopes: Tuple = ()


@dataclass
class PublishEvent:
    """IR for ``PUBLISH EVENT type WITH PAYLOAD {json}``
    (reference EXTENSIONS.md:194-210)."""

    event_type: str
    payload: Dict[str, Any] = field(default_factory=dict)


@dataclass
class RegisterAgent:
    """IR for ``REGISTER AGENT`` (reference AGENTS.md:189-196):
    catalog registration with capabilities, subscriptions, priority,
    and resource limits."""

    name: str
    capabilities: List[str] = field(default_factory=list)
    # one pattern (repo short form) or the reference's bracket list
    subscribe_to: Optional[Any] = None
    publish_to: List[str] = field(default_factory=list)
    # integer rank (repo short form) or the reference's 'high'/'low'
    priority: Optional[Any] = None
    resource_limits: Dict[str, Any] = field(default_factory=dict)


@dataclass
class ScheduleRetraining:
    """IR for ``SCHEDULE retraining IN n unit FOR <model>`` — the
    reference README's post-deploy clause (README.md:57). Advisory
    registry metadata: records when the model is due; RETRAIN
    executes it."""

    model: str
    n: int
    unit: str


@dataclass
class TrendAgent:
    """IR for the reference README's trend-watching agent
    (README.md:60-63)::

        CREATE AGENT overfitting_monitor
          CHECK MODEL fraud_detector EVERY 10 epochs
          WHEN validation_loss INCREASES FOR 3 consecutive_checks
          THEN stop_training AND rollback_to_best_checkpoint

    ``run_agents_once`` appends the watched metric to the agent's
    history each tick and fires after ``k`` consecutive moves in the
    watched direction; fired action NAMES call a registered procedure
    of that name if one exists, else publish an ``agent.action``
    event."""

    name: str
    model: str
    metric: str
    direction: str  # "increases" | "decreases"
    k: int
    every: int
    every_unit: str
    actions: Tuple[str, ...]


@dataclass
class SetConfig:
    """IR for ``SET <dotted.key> = <value>`` (reference
    EXTENSIONS.md:371-374) — runtime configuration, mapped onto the
    Spark session conf (arbitrary dotted keys are legal there)."""

    key: str
    value: Any


@dataclass
class CallProcedure:
    """IR for ``CALL <name>()`` — invoke a host-registered procedure
    (``Engine.register_procedure``); the compile target for the
    reference's ``SUBSCRIBE TO '…' EXECUTE PROCEDURE <name>()``
    (AGENTS.md:49-51)."""

    name: str


@dataclass
class ExplainPrediction:
    """IR for both EXPLAIN forms:

    * repo: ``EXPLAIN PREDICTION FOR MODEL m FROM src [TOP n FEATURES]``
    * reference verbatim (DSL.md:341-345): ``EXPLAIN PREDICTION m
      FOR TRANSACTION col = v USING shap_values SHOW TOP n features``
      — ``source=None`` means the model's stored TRAIN source;
      ``row_filter`` selects the explained row(s); ``method`` records
      the requested attribution family (shap_values/saabas — both
      resolve to the engine's exact additive explainer).
    """

    model: str
    source: Optional[str]
    top_k: int = 3
    source_is_identifier: bool = True
    row_filter: Optional[Tuple[str, Any]] = None  # (column, value)
    method: Optional[str] = None


@dataclass
class CreateType:
    """IR for ``CREATE TYPE <name> AS (field type, …)`` — the
    reference's ML data-model composites (DSL.md:177-210: ml_model,
    feature_vector, ml_dataset). PostgreSQL types map to Spark:
    VARCHAR(n)/TEXT → string, INTEGER → int, BIGINT → long,
    FLOAT → double, TIMESTAMP → timestamp, JSONB → string (JSON
    text — Spark's JSON functions operate on strings), ``T[]`` →
    array<T>. The engine registers the resolved StructType by name
    (``Engine.types``) so sources and UDFs can reference it."""

    name: str
    fields: Tuple[Tuple[str, str], ...]  # (field_name, sql_type_text)


@dataclass
class IfStep:
    """One ``IF <expr> <op> <expr> THEN <actions…>; END IF`` inside a
    workflow block (reference DSL.md:139-142). Operands are feature
    expressions over the block's RESULT CONTEXT — after a RETRAIN
    step, ``retraining_<metric>`` holds the new fit's metrics and
    ``previous_<metric>`` the pre-retrain version's. Actions are the
    AND-chain: tagged micro-actions (``("rollback",)``, ``("alert",
    target, message)``) or full statements (``("stmt", text)``)."""

    lhs: str
    op: str
    rhs: str
    actions: Tuple[Tuple, ...]


@dataclass
class WorkflowBlock:
    """IR for ``BEGIN <stmt>; [IF …; END IF;] … END`` — the reference's
    complex-conditional workflow body (DSL.md:135-143), executed
    statement by statement with a result context (engine.py::
    _run_workflow)."""

    steps: Tuple  # of ("stmt", text) | IfStep


@dataclass
class Notify:
    """IR for ``NOTIFY <target>('message')`` / ``ALERT <target>('…')``
    (reference DSL.md:129/140) — publishes a ``notification`` event on
    the bus; WHEN-rules or external consumers deliver it."""

    target: str
    message: str


@dataclass
class ArchiveVersion:
    """IR for ``ARCHIVE previous_version [OF <model>]`` (reference
    DSL.md:128) — mark the model's previous registry version
    ``archived`` (it stops serving as a rollback target)."""

    model: str
    which: str = "previous_version"


@dataclass
class SelectFunction:
    """IR for the reference's built-in function calls (DSL.md:213-233)
    — PostgreSQL named-argument syntax promoted to engine calls::

        SELECT evaluate_model(model_name := 'x', test_data := 't',
                              metrics := ARRAY['accuracy', 'f1']);
        SELECT feature_importance(model_name := 'x', method := 'shap',
                                  sample_size := 1000);
        SELECT compare_models(models := ARRAY['a', 'b'],
                              test_data := 't',
                              primary_metric := 'accuracy');
    """

    func: str
    kwargs: Dict[str, Any]


@dataclass
class WhenRule:
    """IR for ``WHEN ... THEN <statement>`` reactive workflows
    (reference DSL.md:123-144, spec-only there).

    Two source forms normalize into one event subscription:
    * ``WHEN EVENT 'pattern' [WHERE <payload predicate>] THEN ...``
    * ``WHEN model_metrics.<metric> <op> <value> THEN ...`` — sugar
      for a ``model.metrics`` event with a payload predicate.
    """

    event_pattern: str
    payload_predicate: Optional[str]
    action: str  # a full DSL statement, validated at parse time


@dataclass
class Agent:
    """IR for ``CREATE AGENT`` (reference DSL.md:150-171,
    AGENTS.md:59-143): a named scheduled monitor with an optional
    reactive action.

    Two grammars build it: the repo's ``MONITOR MODEL … ON <src>``
    form (action = a full DSL statement), and the reference's
    verbatim ``FOR MODEL … CHECK METRICS EVERY n unit WHEN
    m DROPS BELOW v OR m EXCEEDS v THEN TRIGGER w AND NOTIFY p``
    form — WHEN clauses are stored NEGATED as health checks (the
    agent fires when any fails), and TRIGGER/NOTIFY publish
    ``workflow.trigger`` / ``notification`` events on the bus."""

    name: str
    monitor: "MonitorModel"
    action: Optional[str] = None
    trigger: Optional[str] = None
    notify: Optional[str] = None


@dataclass
class TunerAgent:
    """IR for the hyperparameter-search agent (reference
    DSL.md:158-171)::

        CREATE AGENT hyperparameter_tuner
          FOR MODEL recommendation_engine
          OPTIMIZE USING bayesian_optimization
          SEARCH SPACE {
            'learning_rate': log_uniform(0.001, 0.1),
            'embedding_dim': choice([64, 128, 256, 512]),
            'dropout_rate': uniform(0.1, 0.5)
          }
          MAXIMIZE recall
          WITH BUDGET 50 trials
          PARALLEL EXECUTION 4 workers

    ``space`` holds one ``(param, spec)`` pair per entry, where spec is
    ``("choice", (v, …))``, ``("uniform", lo, hi)`` or
    ``("log_uniform", lo, hi)``. The search itself is Spark-first: a
    deterministic budget-capped trial lattice fit through
    ``TrainValidationSplit`` with ``parallelism=workers``
    (ml/tuning.py) — the ``method`` name is recorded metadata; every
    accepted method resolves to that deterministic search (a true
    sequential Bayesian loop would serialize the trials the statement
    asks to parallelize).
    """

    name: str
    model: str
    method: str
    space: Tuple[Tuple[str, tuple], ...]
    metric: str
    maximize: bool = True
    budget: int = 20
    workers: int = 1

    def __post_init__(self) -> None:
        if not self.space:
            raise ValueError("SEARCH SPACE cannot be empty")
        if not isinstance(self.budget, int) or self.budget < 1:
            raise ValueError("BUDGET must be a positive integer trial count")
        if not isinstance(self.workers, int) or self.workers < 1:
            raise ValueError(
                "PARALLEL EXECUTION must be a positive integer worker count"
            )
        for pname, spec in self.space:
            kind = spec[0]
            if kind == "choice":
                if not spec[1]:
                    raise ValueError(
                        f"choice([]) for {pname!r} has no values"
                    )
            elif kind in {"uniform", "log_uniform"}:
                lo, hi = spec[1], spec[2]
                if not (lo < hi):
                    raise ValueError(
                        f"{kind}({lo}, {hi}) for {pname!r} needs lo < hi"
                    )
                if kind == "log_uniform" and lo <= 0:
                    raise ValueError(
                        f"log_uniform bounds for {pname!r} must be positive"
                    )
            else:  # pragma: no cover - parser restricts the set
                raise ValueError(f"Unknown search-space spec {kind!r}")


@dataclass
class RetrainModel:
    """IR for ``RETRAIN MODEL ... USING LATEST n days OF data``
    (reference DSL.md:136-142, incl. rollback semantics)."""

    model: str
    latest_n: Optional[int] = None
    latest_unit: str = "days"
    time_column: Optional[str] = None
    rollback_ratio: float = 0.95  # keep old model if new metric < 95% of old


@dataclass
class Deduplicate:
    """IR for ``DEDUPLICATE <source> USING <method>[(params)] [ON col]
    [THRESHOLD f]`` — the north-star dedup operators exposed in the
    reference's grammar family (SURVEY.md §7.5; the reference itself
    has no dedup surface — this is beyond-parity).

    Methods: ``exact`` (fingerprint groups), ``minhash`` (LSH banded
    near-dup pairs), ``simhash`` (per-doc signature), ``ngram``
    (blocked Jaccard pairs), ``embedding`` (blocked cosine pairs).
    """

    source: str
    method: str
    params: Dict[str, Any] = field(default_factory=dict)
    column: Optional[str] = None
    threshold: Optional[float] = None
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        self.method = self.method.lower()
        allowed = {
            "exact",
            "minhash",
            "simhash",
            "ngram",
            "containment",
            "embedding",
            "clusters",
            "semantic",
        }
        if self.method not in allowed:
            raise ValueError(
                f"Unknown dedup method {self.method!r};"
                f" expected one of {sorted(allowed)}"
            )
        if self.threshold is not None and not (0.0 < self.threshold <= 1.0):
            raise ValueError("THRESHOLD must be in (0, 1]")


@dataclass
class SimilaritySearch:
    """IR for ``SEARCH SIMILAR <source> [USING method[(params)]]
    [TOP k]`` — ANN over an embedding column (SURVEY.md §7.5).

    Methods: ``cosine`` (brute-force top-k, the oracle-checkable
    baseline), ``lsh`` (bucketed scale path), ``ivf`` (coarse-
    quantizer cells scale path), and ``index`` (``USING INDEX name``
    — serve from a persisted index built by ``CREATE INDEX``; the
    source may be omitted, it is the index's source).
    """

    source: str = ""
    method: str = "cosine"
    params: Dict[str, Any] = field(default_factory=dict)
    #: None = no TOP clause; top-k methods default to 10, lsh returns
    #: the full threshold-governed pair set
    k: Optional[int] = None
    source_is_identifier: bool = True
    #: USING INDEX <name> — sets method to "index"
    index: Optional[str] = None

    def __post_init__(self) -> None:
        if not self.source and self.index is None:
            raise ValueError("SEARCH SIMILAR source cannot be empty")
        self.method = "index" if self.index is not None else self.method.lower()
        if self.method not in {"cosine", "lsh", "ivf", "ivf_mllib", "index"}:
            raise ValueError(
                f"Unknown similarity method {self.method!r};"
                " expected 'cosine', 'lsh', 'ivf', 'ivf_mllib'"
                " or INDEX <name>"
            )
        if self.method == "index" and self.index is None:
            raise ValueError("USING INDEX requires an index name")
        if self.k is not None:
            _require_positive("TOP", self.k)


@dataclass
class Decontaminate:
    """IR for ``DECONTAMINATE <source> AGAINST <benchmark> [ON col]
    [THRESHOLD n]`` — benchmark decontamination in the reference's
    grammar family (SURVEY.md §2.11; beyond-parity, like DEDUPLICATE).

    Flags every source document sharing at least ``threshold`` word
    4-gram fingerprints with any benchmark document (see
    operators/corpus.py::benchmark_overlap for the broadcast-join
    plan and queries/pipeline2.py for the oracle-checked twin).
    """

    source: str
    benchmark: str
    column: Optional[str] = None
    threshold: int = 3
    source_is_identifier: bool = True
    benchmark_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("THRESHOLD", self.threshold)


@dataclass
class PackSequences:
    """IR for ``PACK <source> INTO <n> TOKEN CHUNKS [BUCKETS b]
    [ON col]`` — concatenate-and-chunk sequence packing (SURVEY.md
    §2.11; beyond-parity).

    Assigns each document a (bucket, chunk_id, offset) position in
    fixed ``context``-token windows; ``buckets`` independent packing
    streams keep the running-sum window partitioned (see
    operators/corpus.py::pack_chunks).
    """

    source: str
    context: int = 512
    buckets: int = 8
    column: Optional[str] = None
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("INTO", self.context)
        _require_positive("BUCKETS", self.buckets)


@dataclass
class SampleCorpus:
    """IR for ``SAMPLE <source> RATE f [ON col]`` (rate form) and
    ``SAMPLE <source> TOP n WEIGHT BY wcol [ON col]`` (weighted form)
    — deterministic sampling for training-data mixing (SURVEY.md
    §7.5/§2.11 family).

    Rate form: keep rows whose Lehmer hash of the id column clears
    the rate threshold — reproducible run-to-run and
    engine-to-engine, restart-safe, shuffle-free (see
    queries/pipeline.py::corpus_mix_sample for the oracle-checked
    aggregate form). Weighted form: Efraimidis-Spirakis sampling
    without replacement — keep the ``top_n`` rows with the smallest
    ``-ln(u)/w`` key (see queries/pipeline2.py::corpus_weighted_sample
    for the oracle-checked form).
    """

    source: str
    rate: Optional[float] = None
    column: Optional[str] = None
    top_n: Optional[int] = None
    weight_column: Optional[str] = None
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if (self.rate is None) == (self.top_n is None):
            raise ValueError("SAMPLE needs RATE f or TOP n WEIGHT BY col")
        if self.rate is not None:
            if not isinstance(self.rate, (int, float)) or isinstance(
                self.rate, bool
            ):
                raise ValueError("RATE must be a number in (0, 1]")
            if not (0.0 < float(self.rate) <= 1.0):
                raise ValueError("RATE must be in (0, 1]")
        if self.top_n is not None:
            _require_positive("TOP", self.top_n)
            if not self.weight_column:
                raise ValueError("SAMPLE … TOP requires WEIGHT BY <column>")


@dataclass
class RedactPII:
    """IR for ``REDACT <source> [ON col]`` — PII scrubbing in the
    reference's grammar family (SURVEY.md §2.11; beyond-parity).

    Masks emails / IPv4s / SSNs / phone-shaped digit runs in the
    text column and reports per-class match counts (see
    operators/pii.py for the engine-portable pattern set and
    queries/pipeline3.py::text_pii_redaction for the oracle-checked
    twin).
    """

    source: str
    column: Optional[str] = None
    source_is_identifier: bool = True


@dataclass
class ChunkWindows:
    """IR for ``CHUNK <source> INTO <w> TOKEN WINDOWS [STRIDE s]
    [ON col]`` — overlapping context-window chunking (SURVEY.md
    §2.11; beyond-parity).

    Slices each document into stride-``stride`` windows of ``win``
    tokens (see operators/corpus.py::chunk_windows;
    queries/pipeline3.py::text_chunk_windows is the oracle-checked
    twin).
    """

    source: str
    win: int = 32
    #: None = no STRIDE clause: windows abut (stride = win)
    stride: Optional[int] = None
    column: Optional[str] = None
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if self.stride is None:
            self.stride = self.win
        _require_positive("INTO", self.win)
        _require_positive("STRIDE", self.stride)
        if self.stride > self.win:
            raise ValueError("STRIDE must be <= the window size")


@dataclass
class Sessionize:
    """IR for ``SESSIONIZE <source> BY <key> [GAP n MINUTES|HOURS]
    [ON ts_col] [VALUE val_col]`` — per-key session aggregation in
    the reference's grammar family (SURVEY.md §2.9; beyond-parity).

    Merges a key's events into sessions while gaps stay under the
    threshold (native ``session_window``; see streaming/pipeline.py::
    session_window_stats; queries/relational6.py::events_user_sessions
    is the oracle-checked twin).
    """

    source: str
    key: str = "user_id"
    gap_value: int = 30
    gap_unit: str = "MINUTES"
    ts_column: Optional[str] = None
    value_column: Optional[str] = None
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("GAP", self.gap_value)
        if self.gap_unit not in ("MINUTES", "HOURS", "SECONDS"):
            raise ValueError("GAP unit must be SECONDS, MINUTES or HOURS")


@dataclass
class QuantizeEmbeddings:
    """IR for ``QUANTIZE EMBEDDINGS <source> [ON vec_col] [ID id_col]``
    — int8 scalar quantization of an embedding column (SURVEY.md
    §2.11; beyond-parity).

    Per-dimension global ranges, 8-bit codes, per-vector
    reconstruction MSE (see operators/dedup.py::quantize_int8;
    queries/pipeline4.py::embedding_quantize_int8 is the
    oracle-checked twin).
    """

    source: str
    column: Optional[str] = None
    id_column: Optional[str] = None
    source_is_identifier: bool = True


@dataclass
class MixCorpus:
    """IR for ``MIX <source> [BY col] [TEMPERATURE t]`` —
    temperature-scaled mixing weights per group (SURVEY.md §2.11;
    beyond-parity, like SAMPLE).

    Emits per-group natural share, temperature weight p_i^(1/T), and
    oversampling boost (see operators/corpus.py::temperature_mix;
    queries/pipeline5.py::corpus_temperature_mix is the
    oracle-checked twin). Only T = 2 (sqrt) is supported: IEEE sqrt
    is correctly rounded, an arbitrary pow() is not — the restriction
    keeps results engine-reproducible.
    """

    source: str
    by: str = "source"
    temperature: int = 2
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if self.temperature != 2:
            raise ValueError(
                "TEMPERATURE must be 2 (sqrt scaling; other exponents"
                " are not engine-reproducible)"
            )


@dataclass
class ProfileTable:
    """IR for ``PROFILE <source> ON col1, col2, ...`` — numeric
    column profiling (SURVEY.md §2.11; beyond-parity).

    Per-column count/min/max/mean + 10-bucket equi-width histogram
    (see operators/profile.py::numeric_profile;
    queries/pipeline5.py::lineitem_numeric_profile is the
    oracle-checked twin).
    """

    source: str
    columns: List[str] = field(default_factory=list)
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if not self.columns:
            raise ValueError("PROFILE requires at least one column after ON")


@dataclass
class DetectAnomalies:
    """IR for ``DETECT ANOMALIES <source> [BY key] [ON ts_col]
    [WINDOW n]`` — trailing-window rate-anomaly detection
    (SURVEY.md §2.11; beyond-parity).

    Per (key, hour) z-scores against the preceding ``window`` hourly
    buckets (see operators/anomaly.py::rate_anomalies;
    queries/pipeline5.py::events_rate_anomalies is the oracle-checked
    twin).
    """

    source: str
    key: str = "event_type"
    ts_column: Optional[str] = None
    window: int = 24
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("WINDOW", self.window)


@dataclass
class ShardCorpus:
    """IR for ``SHARD <source> INTO <n> SHARDS [BY id_col]`` —
    balanced output sharding by exact round-robin over a
    deterministic hash order (SURVEY.md §2.11; beyond-parity).

    Adds a ``shard`` column in [0, n); row counts balance exactly
    (±1), payload mass statistically (see
    operators/layout.py::shard_round_robin;
    queries/pipeline6.py::corpus_shard_assignment is the
    oracle-checked audit twin).
    """

    source: str
    n_shards: int
    id_column: str = "doc_id"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("INTO", self.n_shards, "shard count")


@dataclass
class CompactTable:
    """IR for ``COMPACT <source> TARGET <n> BYTES [PARTITION BY col]
    [FILE BY col] [SIZE BY col]`` — small-file compaction planning
    over a file manifest (SURVEY.md §2.11; beyond-parity).

    Assigns each manifest row a merge group by next-fit over the
    running byte sum within its partition (see
    operators/layout.py::compaction_groups;
    queries/pipeline6.py::lakehouse_compaction_plan is the
    oracle-checked twin).
    """

    source: str
    target_bytes: int
    part_column: str = "part"
    file_column: str = "file_id"
    bytes_column: str = "bytes"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("TARGET", self.target_bytes, "byte count")


@dataclass
class ShuffleCorpus:
    """IR for ``SHUFFLE <source> EPOCHS <n> [SHARDS <m>] [BY id_col]``
    — deterministic per-epoch global shuffle + shard assignment for
    training-order generation (SURVEY.md §2.11; beyond-parity).

    Adds (epoch, skey, shard) columns; the permutation is a pure
    function of the id, so restarts reproduce it bit-for-bit (see
    operators/layout.py::epoch_shuffle;
    queries/pipeline8.py::corpus_epoch_shuffle is the oracle-checked
    balance-audit twin).
    """

    source: str
    epochs: int = 3
    n_shards: int = 8
    id_column: str = "doc_id"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("EPOCHS", self.epochs, "epoch count")
        _require_positive("SHARDS", self.n_shards, "shard count")


@dataclass
class ScoreQuality:
    """IR for ``SCORE QUALITY <source> [BUCKETS <b>] [ON text_col]``
    — fastText-shaped linear quality margin per document over hashed
    token buckets (SURVEY.md §2.11; beyond-parity).

    Deterministic weight table (engine-portable); see
    operators/textops.py::quality_margin;
    queries/pipeline8.py::quality_linear_margin is the oracle-checked
    rollup twin.
    """

    source: str
    buckets: int = 512
    text_column: str = "text"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        _require_positive("BUCKETS", self.buckets, "bucket count")


@dataclass
class WeighCorpus:
    """IR for ``WEIGH <source> AGAINST '<value>' [ON col]
    [BUCKETS <b>]`` — DSIR importance weights per document against
    the target domain ``col == value`` (SURVEY.md §2.11;
    beyond-parity).

    See operators/corpus.py::dsir_weights;
    queries/pipeline8.py::dsir_importance_weights is the
    oracle-checked top-k twin.
    """

    source: str
    target_value: str
    target_column: str = "source"
    buckets: int = 512
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if not self.target_value:
            raise ValueError("AGAINST must name a non-empty target value")
        _require_positive("BUCKETS", self.buckets, "bucket count")


@dataclass
class AuditAnonymity:
    """IR for ``AUDIT ANONYMITY <source> ON col[, col...] [RISK k]``
    — k-anonymity equivalence-class report over the named
    quasi-identifier columns (SURVEY.md §2.11; beyond-parity).

    See operators/privacy.py::k_anonymity_report;
    queries/pipeline8.py::events_k_anonymity is the oracle-checked
    behavioural-profile twin.
    """

    source: str
    columns: list[str] = field(default_factory=list)
    risk: int = 5
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if not self.columns:
            raise ValueError(
                "AUDIT ANONYMITY needs at least one ON column"
            )
        _require_positive("RISK", self.risk, "class-size threshold")


@dataclass
class CalibrateDedup:
    """IR for ``CALIBRATE DEDUP <source> [THRESHOLDS f[, f...]]
    [ON text_col]`` — the threshold calibration curve from one
    minhash-gated pair materialization (SURVEY.md §2.11;
    beyond-parity).

    See operators/dedup.py::threshold_sweep;
    queries/pipeline8.py::dedup_threshold_sweep is the oracle-checked
    twin.
    """

    source: str
    thresholds: list[float] = field(
        default_factory=lambda: [0.05, 0.1, 0.15, 0.2, 0.3, 0.4, 0.5, 0.75]
    )
    text_column: str = "text"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        if not self.thresholds:
            raise ValueError(
                "CALIBRATE DEDUP needs at least one threshold"
            )
        for t in self.thresholds:
            if (
                not isinstance(t, (int, float))
                or isinstance(t, bool)
                or not (0.0 < float(t) <= 1.0)
            ):
                raise ValueError(
                    f"THRESHOLDS must be in (0, 1], got {t!r}"
                )


@dataclass
class TrainTokenizer:
    """IR for ``TRAIN TOKENIZER <name> FROM <source> VOCAB n
    [TEXT COLUMN col]`` — BPE-merge tokenizer training (SURVEY.md
    §2.11; beyond-parity — the reference has no tokenizer surface).

    ``VOCAB n`` is the target vocabulary size: the engine learns
    ``n − |base alphabet|`` merge rules (the base alphabet is the
    corpus's distinct single characters, counted at train time).
    See operators/bpe.py; queries/pipeline9.py::tokenizer_bpe_merges
    is the oracle-checked twin.
    """

    name: str
    source: str
    vocab: int
    text_column: str = "text"
    source_is_identifier: bool = True
    # STORED AS <table>: persist the learned merge table so TOKENIZE
    # can load it in a fresh session (mirrors CreateIndex.stored_as)
    stored_as: Optional[str] = None

    def __post_init__(self) -> None:
        if (
            not isinstance(self.vocab, int)
            or isinstance(self.vocab, bool)
            or self.vocab < 2
        ):
            raise ValueError("VOCAB must be an integer vocabulary size >= 2")


@dataclass
class Tokenize:
    """IR for ``TOKENIZE <source> USING <tokenizer> [TEXT COLUMN c]``
    — the APPLY side of TRAIN TOKENIZER (SURVEY.md §2.11): encode a
    corpus with a trained tokenizer's merge rules, composed into one
    map-side fold chain (operators/bpe.py::bpe_tokens_expr). The
    tokenizer resolves to a session-trained name first, then to a
    ``STORED AS`` merge table in the catalog (cross-session path)."""

    source: str
    tokenizer: str
    text_column: str = "text"
    source_is_identifier: bool = True


@dataclass
class DropTokenizer:
    """IR for ``DROP TOKENIZER <name>`` — forget a session tokenizer
    and drop its ``STORED AS`` merge table (if this session wrote
    one)."""

    name: str


@dataclass
class DecodeMedia:
    """IR for ``DECODE <source> USING <codec> [PAYLOAD COLUMN c]
    [ID COLUMN c]`` — the DSL twin of
    operators/multimodal.py::decode_features (SURVEY §2.11 multimodal
    family; beyond-parity — the reference has no media surface, its
    thesis is 'declarative statement in, engine does the work',
    reference README.md:6). ``codec`` is one of the engine-shipped
    real parsers (``wav``/``ppm``/``y4m``), the deterministic
    ``fake`` stub, or any name plugged in via ``register_codec`` —
    unknown codecs fail loudly at execution with the library they'd
    need. Output: one (media_id, features) row per payload.

    ``WINDOWS n`` switches to windowed analysis
    (operators/multimodal.py::window_energy): one
    (media_id, window_id, n_samples, energy) row per ``n``-sample
    window of the DECODED samples — the codec needs a registered
    ``samples`` capability (``wav`` ships one; ``fake`` windows raw
    bytes by design)."""

    source: str
    codec: str
    payload_column: str = "payload"
    id_column: str = "media_id"
    source_is_identifier: bool = True
    windows: Optional[int] = None

    def __post_init__(self) -> None:
        self.codec = self.codec.lower()
        if self.windows is not None:
            _require_positive("WINDOWS", self.windows, "integer sample count")


@dataclass
class SampleFrames:
    """IR for ``SAMPLE FRAMES FROM <source> EVERY n [USING <codec>]
    [PAYLOAD COLUMN c] [ID COLUMN c]`` — the DSL twin of
    operators/multimodal.py::sample_frames: every ``n``-th frame of
    each video payload as (media_id, frame_no, frame) rows. Default
    codec ``y4m`` (the real container parser); ``fake`` keeps the
    fixed-stride byte stub."""

    source: str
    every: int
    codec: str = "y4m"
    payload_column: str = "payload"
    id_column: str = "media_id"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        self.codec = self.codec.lower()
        _require_positive("EVERY", self.every, "integer frame stride")


@dataclass
class ResizeMedia:
    """IR for ``RESIZE <source> TO <w> x <h> USING <codec>
    [PAYLOAD COLUMN c] [ID COLUMN c]`` — the DSL twin of
    operators/multimodal.py::resize_image: re-encoded payloads at the
    target geometry via the codec's registered resize capability
    (``ppm`` ships a real nearest-neighbor resampler; codecs without
    one fail loudly at execution)."""

    source: str
    width: int
    height: int
    codec: str = "ppm"
    payload_column: str = "payload"
    id_column: str = "media_id"
    source_is_identifier: bool = True

    def __post_init__(self) -> None:
        self.codec = self.codec.lower()
        _require_positive("RESIZE width", self.width)
        _require_positive("RESIZE height", self.height)


@dataclass
class LoadMedia:
    """IR for ``LOAD MEDIA FROM '<path>' [GLOB '<pattern>']
    [RECURSIVE | PARTITIONED] [AS <view>]`` — the filesystem on-ramp
    for the multimodal family: a ``binaryFile`` scan shaped into the
    standard ``(media_id, media_path, payload, meta)`` frame
    (sources/io.py::read_media), optionally registered as a temp view
    so later DECODE / SAMPLE FRAMES / RESIZE statements can name it.
    ``PARTITIONED`` reads a Hive-style lake layout (``year=…/month=…``)
    whose directory keys become prunable columns. Beyond-parity: the
    reference has no media surface at all; this is the first step of
    any real 100 TB multimodal pipeline."""

    path: str
    glob: Optional[str] = None
    recursive: bool = False
    view: Optional[str] = None
    partitioned: bool = False

    def __post_init__(self) -> None:
        if not self.path:
            raise ValueError("LOAD MEDIA path cannot be empty")
        if self.partitioned and self.recursive:
            raise ValueError(
                "LOAD MEDIA: RECURSIVE and PARTITIONED are mutually"
                " exclusive (recursive lookup disables partition"
                " discovery)"
            )


@dataclass
class CreateIndex:
    """IR for ``CREATE INDEX <name> ON <source> USING <method>[(params)]``
    — build a persisted similarity index once and serve repeated
    ``SEARCH SIMILAR … USING INDEX <name>`` statements from it
    (SURVEY.md §7.5; beyond-parity).

    Methods: ``ivf`` (materialized cell assignment + checkpointed
    pinned-Lloyd centroids) and ``lsh`` (materialized banded bucket
    table). The index is a SNAPSHOT of the source at build time —
    re-run CREATE INDEX after the source changes.

    ``STORED AS <table>`` additionally writes the index to BUCKETED
    managed tables (lsh: bucket table bucketed by bkey, so the
    candidate self-join runs shuffle-free; ivf: corpus bucketed by
    cell + a centroid table) and serves searches from them — the
    durable, executor-loss-safe variant; the in-memory form trades
    that for zero write cost.
    """

    name: str
    source: str
    method: str
    params: Dict[str, Any] = field(default_factory=dict)
    source_is_identifier: bool = True
    stored_as: Optional[str] = None

    def __post_init__(self) -> None:
        self.method = self.method.lower()
        if self.method not in {"ivf", "lsh"}:
            raise ValueError(
                f"Unknown index method {self.method!r};"
                " expected 'ivf' or 'lsh'"
            )


@dataclass
class DropIndex:
    """IR for ``DROP INDEX <name>`` — release a persisted similarity
    index's storage (cached corpus blocks + checkpointed centroids)."""

    name: str


@dataclass
class RefreshIndex:
    """IR for ``REFRESH INDEX <name>`` — incremental index
    maintenance: re-read the index's source, assign ONLY the new rows
    (anti-join on the id column) to the existing structure — frozen
    IVF cells / deterministic LSH bucket keys — and append them
    (bucketed append for ``STORED AS`` indexes, so the candidate join
    stays co-located). The quantizer never moves: an LSH refresh is
    exactly equal to a cold rebuild on the unioned source; an IVF
    refresh keeps the snapshot's centroids (drift warrants a rebuild,
    which is the documented trade of the dedup_incremental_delta
    pattern this applies)."""

    name: str
