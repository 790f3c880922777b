"""Engine facade: execute DSL statements against a SparkSession.

The reference's executable surface is ``python -m dsl.cli`` → SQL
text for PostgreSQL to run (reference: dsl/cli.py:14-46). Our engine
executes directly: parse → IR → plan build → Spark action. One class,
one ``execute`` entry point, statement-type dispatch.
"""

from __future__ import annotations

import importlib
from typing import Any, Callable, NamedTuple, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.dsl import ir
from declarativeml_spark.dsl.parser import parse
from declarativeml_spark.indexes import (
    MERGE_TABLE_COLUMNS,
    IndexStore,
    is_merge_table,
    top_pairs,
)
from declarativeml_spark.ml.models import (
    registry_load,
    registry_meta,
    registry_previous,
    rollback_version,
    stored_train_statement,
)
from declarativeml_spark.ml.training import TrainedModel, train
from declarativeml_spark.plans.builder import resolve_source


class _SourceOp(NamedTuple):
    """A statement that resolves its source relation(s) and forwards
    IR fields to one operator. ``target`` is ``module:function`` under
    the package, imported on first use so that importing the engine
    loads no operator module; ``args`` maps the statement to the
    operator's keyword arguments; ``sources`` names the IR fields
    resolved (each with its ``<field>_is_identifier`` flag) into the
    operator's leading DataFrame arguments."""

    target: str
    args: Callable[[Any], dict]
    sources: tuple = ("source",)

    def __call__(self, engine: "Engine", stmt) -> DataFrame:
        module, name = self.target.split(":")
        op = getattr(importlib.import_module(f"declarativeml_spark.{module}"), name)
        frames = [
            resolve_source(
                engine.spark, getattr(stmt, f), getattr(stmt, f"{f}_is_identifier")
            )
            for f in self.sources
        ]
        return op(*frames, **self.args(stmt))


class Engine:
    def __init__(self, spark: SparkSession, model_dir: Optional[str] = None):
        self.spark = spark
        self.model_dir = model_dir
        self._bus = None
        self.agents: dict[str, ir.Agent] = {}
        # hyperparameter-search agents (CREATE AGENT … SEARCH SPACE);
        # registration stores the spec, run_tuner executes the search
        self.tuners: dict[str, ir.TunerAgent] = {}
        # learned BPE merge tables by tokenizer name (TRAIN TOKENIZER)
        self.tokenizers: dict[str, DataFrame] = {}
        # named composite types (CREATE TYPE) → Spark StructType
        self.types: dict[str, Any] = {}
        # host-registered procedures for CALL / SUBSCRIBE … EXECUTE
        # PROCEDURE (AGENTS.md:49-51): name → callable(engine)
        self.procedures: dict[str, Any] = {}
        # trend-agent metric histories (README.md:60-63 agents)
        self._trend_history: dict[str, list] = {}
        # advisory retraining schedules (SCHEDULE retraining IN n unit)
        self.retrain_schedules: dict[str, dict] = {}
        # similarity indexes (CREATE INDEX) and every table the engine
        # writes: index storage, the index registry, tokenizer tables
        self.store = IndexStore(spark)
        # DataFrames persisted by the PREVIOUS statement's operators
        # (dedup/ANN cache LSH tables, normed bases, …). Released when
        # the next statement starts, or explicitly via release() — so a
        # long-lived session's storage memory is bounded by one
        # statement's working set instead of growing until LRU pressure.
        self._persisted: list[DataFrame] = []
        # raw text of the statement being executed: TRAIN stores it in
        # the registry so RETRAIN can re-parse it (read on handler
        # entry, before a nested execute can replace it)
        self._text: Optional[str] = None

    def release(self) -> None:
        """Unpersist every DataFrame cached by the last statement.

        Safe at any time: results built on those frames lazily
        recompute from source if re-collected afterwards.
        """
        from declarativeml_spark.operators.caching import release_all

        release_all(self._persisted)

    @property
    def bus(self):
        """Lazily-created event bus; WHEN rules and agents attach here."""
        if self._bus is None:
            from declarativeml_spark.streaming.events import EventBus

            self._bus = EventBus(self.spark)
        return self._bus

    def execute_script(self, text: str) -> list:
        """Run a multi-statement script (``;``-separated, quote-aware
        — see ``dsl.parser.split_statements``); returns one result per
        statement, in order."""
        from declarativeml_spark.dsl.parser import split_statements

        return [self.execute(stmt) for stmt in split_statements(text)]

    def execute(self, text: str) -> Union[TrainedModel, DataFrame, dict]:
        from declarativeml_spark.operators.caching import capture

        # one cache scope per statement: drop the previous statement's
        # operator persists, collect this one's for the next release.
        # The finally-extend (not assign) matters twice: a statement
        # failing AFTER its operator persisted frames must still hand
        # them to the next release(), and a re-entrant execute (a
        # WHEN-rule action firing inside PUBLISH EVENT) must not have
        # its frames overwritten by the outer call's list.
        self.release()
        with capture() as frames:
            try:
                out = self._execute(text)
            finally:
                self._persisted.extend(frames)
        return out

    def _execute(self, text: str) -> Union[TrainedModel, DataFrame, dict]:
        stmt = parse(text)
        handler = self._HANDLERS.get(type(stmt))
        if handler is None:
            raise ValueError(f"Unsupported statement: {type(stmt).__name__}")
        self._text = text
        return handler(self, stmt)

    def _train_model(self, stmt: ir.TrainModel) -> TrainedModel:
        trained = train(
            self.spark, stmt, model_dir=self.model_dir, statement=self._text
        )
        self._publish_converged(trained)
        return trained

    def _compute(self, stmt: ir.ComputeKernel):
        from declarativeml_spark.functions.kernels import execute_compute

        return execute_compute(stmt)

    def _ensemble(self, stmt: ir.Ensemble) -> dict:
        from declarativeml_spark.ml.ensemble import create_ensemble

        record = create_ensemble(
            self.spark, stmt.name, stmt.models, stmt.method, base=self.model_dir
        )
        if stmt.validate_on:
            # the parsed VALIDATE ON clause was previously dropped
            # on the floor — the user believed the ensemble was
            # scored on the holdout while nothing ran
            record["validation_metrics"] = self._validate_ensemble(
                stmt.models, stmt.validate_on
            )
        return record

    def _deploy_model(self, stmt: ir.DeployModel) -> dict:
        from declarativeml_spark.ml.ensemble import deploy_model

        return deploy_model(
            self.spark, stmt.model, stmt.version, stmt.config, base=self.model_dir
        )

    def _forecast(self, stmt: ir.ForecastModel) -> TrainedModel:
        from declarativeml_spark.ml.forecast import train_forecast

        trained, forecast_df = train_forecast(
            self.spark, stmt, model_dir=self.model_dir
        )
        trained.forecast = forecast_df  # type: ignore[attr-defined]
        return trained

    def _publish_event(self, stmt: ir.PublishEvent):
        self.bus.publish(stmt.event_type, stmt.payload)
        # deliver immediately so WHEN rules react in-session
        return self.bus.dispatch_batch()

    def _notify(self, stmt: ir.Notify) -> dict:
        self.bus.publish(
            "notification",
            {"recipient": stmt.target, "message": stmt.message},
        )
        self.bus.dispatch_batch()  # deliver to WHEN-rules in-session
        return {"notified": stmt.target, "message": stmt.message}

    def _set_config(self, stmt: ir.SetConfig) -> dict:
        # the reference's extension configuration → session conf
        self.spark.conf.set(stmt.key, str(stmt.value))
        return {"set": stmt.key, "value": stmt.value}

    def _call_procedure(self, stmt: ir.CallProcedure):
        fn = self.procedures.get(stmt.name)
        if fn is None:
            raise ValueError(
                f"Unknown procedure {stmt.name!r}; register one with"
                " Engine.register_procedure(name, fn) — registered:"
                f" {', '.join(sorted(self.procedures)) or 'none'}"
            )
        return fn(self)

    # -- TRAIN TOKENIZER (beyond-parity, SURVEY §2.11) -----------------------
    def _train_tokenizer(self, stmt: "ir.TrainTokenizer") -> DataFrame:
        """BPE-merge training (operators/bpe.py): ``VOCAB n`` is the
        target vocabulary size, so the engine learns
        ``n − |base alphabet|`` merges (the alphabet is counted on
        BPE's own vocabulary-sized word-type frame — the corpus scans
        exactly once). The learned merge table is kept on the engine
        (``tokenizers[name]``, a handful of rows) for reuse;
        ``STORED AS <t>`` additionally persists it as a managed table
        (claimed by the same rule as CREATE INDEX … STORED AS:
        indexes.py::IndexStore.claim), so ``TOKENIZE … USING <t>``
        works in a FRESH session — unlike the session dict, the table
        survives."""
        from declarativeml_spark.operators.bpe import bpe_merges

        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        if stmt.text_column not in df.columns:
            raise ValueError(
                f"TRAIN TOKENIZER: source has no column"
                f" {stmt.text_column!r}"
            )
        # storage-target validation BEFORE the (expensive) learn, and
        # before anything about the existing same-name tokenizer is
        # touched — a failing statement leaves the working one intact
        if stmt.stored_as is not None:
            self.store.claim([stmt.stored_as], ("tokenizer", stmt.name))
        merges = bpe_merges(df, stmt.text_column, vocab=stmt.vocab)
        # Target resolution: an explicit STORED AS wins; a retrain of a
        # tokenizer that already HAS a durable table keeps that table
        # in sync (otherwise the stored form would silently serve the
        # OLD merges to fresh sessions while this session uses the new
        # ones — the name owns the table, so retraining refreshes it).
        t = stmt.stored_as or self.store.tokenizer_tables.get(stmt.name)
        if t is not None:
            merges = self.store.store_tokenizer(stmt.name, merges, t)
        self.tokenizers[stmt.name] = merges
        return merges

    # -- TOKENIZE (apply side, beyond-parity, SURVEY §2.11) ------------------
    def _tokenize(self, stmt: "ir.Tokenize") -> DataFrame:
        """Encode a corpus with a trained tokenizer: all learned merge
        rules compose into ONE map-side fold chain added as a projected
        ``tokens`` column (operators/bpe.py::bpe_tokens_expr) — no
        shuffle, no UDF, no per-rule corpus pass. The tokenizer
        resolves to a session-trained name first, then to a STORED AS
        merge table in the catalog (the fresh-session path)."""
        from declarativeml_spark.operators.bpe import bpe_tokens_expr

        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        if stmt.text_column not in df.columns:
            raise ValueError(
                f"TOKENIZE: source has no column {stmt.text_column!r}"
            )
        merges = self.tokenizers.get(stmt.tokenizer)
        if merges is not None:
            t = self.store.tokenizer_tables.get(stmt.tokenizer)
            if t is not None and self.spark.catalog.tableExists(t):
                # the session frame serves from the durable table;
                # another live session's rewrite replaces its part
                # files and the bound frame's resolved file listing
                # goes stale (the relation cache is per session — same
                # reason the index registry read refreshes
                # unconditionally). REFRESH alone is not enough: the
                # already-analyzed DataFrame keeps its frozen file
                # index, so re-bind from the catalog too.
                self.spark.sql(f"REFRESH TABLE {t}")
                merges = self.spark.table(t)
                self.tokenizers[stmt.tokenizer] = merges
        if merges is None:
            # a prior session's crash may have stranded the merges in
            # the swap (see indexes.py::IndexStore.recover_swap)
            self.store.recover_swap(stmt.tokenizer, is_merge_table)
            if not self.spark.catalog.tableExists(stmt.tokenizer):
                raise ValueError(
                    f"Unknown tokenizer {stmt.tokenizer!r}; train one with"
                    " TRAIN TOKENIZER, or reference a STORED AS merge"
                    " table by its table name"
                )
            self.spark.sql(f"REFRESH TABLE {stmt.tokenizer}")
            merges = self.spark.table(stmt.tokenizer)
            missing = MERGE_TABLE_COLUMNS - set(merges.columns)
            if missing:
                raise ValueError(
                    f"Table {stmt.tokenizer!r} is not a tokenizer merge"
                    f" table (missing column(s) {', '.join(sorted(missing))})"
                )
        # rule order matters: BPE applies merges in learning order
        rules = [
            (r.lhs, r.rhs)
            for r in merges.select("merge_round", "lhs", "rhs")
            .orderBy("merge_round")
            .collect()  # bounded: vocab − alphabet rows
        ]
        from declarativeml_spark.operators.bpe import (
            MAX_CODEGEN_RULES,
            bpe_tokenize_map,
        )

        if len(rules) <= MAX_CODEGEN_RULES:
            # small vocab: one composed codegen fold — pure JVM
            out = df.withColumn(
                "tokens", F.expr(bpe_tokens_expr(stmt.text_column, rules))
            )
        else:
            # large vocab: the nested expression exceeds Catalyst's
            # parser complexity limit — encode in an Arrow batch with
            # identical greedy semantics (operators/bpe.py, tested
            # equal); still map-only
            out = bpe_tokenize_map(df, stmt.text_column, rules)
        return out.withColumn("n_tokens", F.size("tokens").cast("long"))

    def _drop_tokenizer(self, stmt: "ir.DropTokenizer") -> dict:
        if (
            stmt.name not in self.tokenizers
            and stmt.name not in self.store.tokenizer_tables
        ):
            raise ValueError(f"Unknown tokenizer {stmt.name!r}")
        self.tokenizers.pop(stmt.name, None)
        t = self.store.tokenizer_tables.pop(stmt.name, None)
        if t:
            self.store.drop_storage(t)
        return {"dropped": stmt.name}

    # -- DECODE / SAMPLE FRAMES / RESIZE (multimodal DSL twins) ------------
    @staticmethod
    def _ensure_builtin_codec(codec: str) -> None:
        """Auto-register the engine-shipped real parsers by name so a
        DSL user can say ``USING wav`` without an API call first;
        unknown names fall through to operators/multimodal.py's loud
        NotImplementedError (register_codec is the plug-in point)."""
        from declarativeml_spark.operators import multimodal as M

        if codec == "wav":
            M.register_wav_codec()
        elif codec == "ppm":
            M.register_ppm_codec()
        elif codec == "y4m":
            M.register_y4m_codec()

    def _load_media(self, stmt: "ir.LoadMedia") -> DataFrame:
        from declarativeml_spark.sources.io import read_media

        df = read_media(
            self.spark,
            stmt.path,
            glob=stmt.glob,
            recursive=stmt.recursive,
            partitioned=stmt.partitioned,
        )
        if stmt.view:
            df.createOrReplaceTempView(stmt.view)
        return df

    @staticmethod
    def _quoted_media_path(source: str) -> "Optional[str]":
        """A single-quoted source clause is a filesystem path/glob
        (``DECODE 'clips/*.wav' USING wav``), not a relation."""
        import re as _re

        m = _re.fullmatch(r"'((?:''|[^'])*)'", source.strip())
        return m.group(1).replace("''", "'") if m else None

    def _media_source(self, stmt) -> DataFrame:
        path = self._quoted_media_path(stmt.source)
        if path is not None:
            from declarativeml_spark.sources.io import read_media

            df = read_media(self.spark, path)
        else:
            df = resolve_source(
                self.spark, stmt.source, stmt.source_is_identifier
            )
        for label, col in (
            ("PAYLOAD COLUMN", stmt.payload_column),
            ("ID COLUMN", stmt.id_column),
        ):
            if col not in df.columns:
                raise ValueError(
                    f"{type(stmt).__name__}: source has no {label} {col!r}"
                )
        return df

    def _decode_media(self, stmt: "ir.DecodeMedia") -> DataFrame:
        from declarativeml_spark.operators.multimodal import (
            decode_features,
            window_energy,
        )

        self._ensure_builtin_codec(stmt.codec)
        df = self._media_source(stmt)
        if stmt.windows is not None:
            # windowed analysis over the codec's DECODED samples
            return window_energy(
                df,
                payload_col=stmt.payload_column,
                id_col=stmt.id_column,
                codec=stmt.codec,
                window_samples=stmt.windows,
            )
        return decode_features(
            df,
            payload_col=stmt.payload_column,
            id_col=stmt.id_column,
            codec=stmt.codec,
        )

    def _sample_frames(self, stmt: "ir.SampleFrames") -> DataFrame:
        from declarativeml_spark.operators.multimodal import sample_frames

        self._ensure_builtin_codec(stmt.codec)
        df = self._media_source(stmt)
        return sample_frames(
            df,
            payload_col=stmt.payload_column,
            id_col=stmt.id_column,
            every_n=stmt.every,
            codec=stmt.codec,
        )

    def _resize_media(self, stmt: "ir.ResizeMedia") -> DataFrame:
        from declarativeml_spark.operators.multimodal import resize_image

        self._ensure_builtin_codec(stmt.codec)
        df = self._media_source(stmt)
        return resize_image(
            df,
            payload_col=stmt.payload_column,
            width=stmt.width,
            height=stmt.height,
            codec=stmt.codec,
            id_col=stmt.id_column,
        )

    # -- DEDUPLICATE / SEARCH SIMILAR (beyond-parity, SURVEY §7.5) ----------
    def _deduplicate(self, stmt: ir.Deduplicate) -> DataFrame:
        from declarativeml_spark.operators import dedup as D

        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        p = dict(stmt.params)
        # the column can arrive as ON <col> or column => "..."; pop the
        # param unconditionally (leaving it in p turns **p into a raw
        # TypeError) and give ON precedence
        col_param = p.pop("column", None)
        if stmt.column and col_param and stmt.column != col_param:
            raise ValueError(
                "DEDUPLICATE got two different columns: ON"
                f" {stmt.column!r} vs column => {col_param!r}"
            )
        chosen_col = stmt.column or col_param
        text_col = chosen_col or "text"
        id_param = p.pop("id_col", None)
        id_col = id_param or "doc_id"
        if stmt.method in ("exact", "simhash"):
            # these methods take no tuning surface — reject leftovers
            # loudly instead of silently ignoring them (every other
            # option surface here raises on unknown options, and a
            # user who wrote THRESHOLD believes a cutoff was applied)
            if p:
                raise ValueError(
                    f"DEDUPLICATE USING {stmt.method} does not accept"
                    f" option(s) {', '.join(sorted(p))}; accepted:"
                    " column, id_col"
                )
            if stmt.threshold is not None:
                raise ValueError(
                    f"DEDUPLICATE USING {stmt.method} does not accept"
                    " THRESHOLD (exact grouping / signature emission"
                    " has no similarity cutoff)"
                )
        if stmt.method == "exact":
            return D.exact_duplicates(df, id_col=id_col, text_col=text_col)
        if stmt.method == "simhash":
            return D.simhash_signatures(df, id_col=id_col, text_col=text_col)
        if stmt.method == "minhash":
            return D.minhash_pairs(
                df,
                id_col=id_col,
                text_col=text_col,
                threshold=stmt.threshold if stmt.threshold is not None else 0.5,
                **p,
            )
        if stmt.method == "ngram":
            return D.ngram_jaccard_pairs(
                df,
                id_col=id_col,
                text_col=text_col,
                threshold=stmt.threshold if stmt.threshold is not None else 0.15,
                **p,
            )
        if stmt.method == "containment":
            # asymmetric quote/subset detection (oracle-checked twin:
            # dedup_ngram_containment)
            return D.ngram_containment_pairs(
                df,
                id_col=id_col,
                text_col=text_col,
                threshold=stmt.threshold if stmt.threshold is not None else 0.5,
                **p,
            )
        if stmt.method == "semantic":
            # SemDeDup: deterministic k-means cells + within-cell
            # cosine domination over an embedding column
            return D.semdedup(
                df,
                id_col=id_param or "vec_id",
                vec_col=chosen_col or "embedding",
                threshold=stmt.threshold if stmt.threshold is not None else 0.35,
                **p,
            )
        if stmt.method == "clusters":
            # minhash pairs -> connected components (one canonical doc
            # per near-dup cluster; see operators/dedup.py)
            pairs = D.minhash_pairs(
                df,
                id_col=id_col,
                text_col=text_col,
                threshold=stmt.threshold if stmt.threshold is not None else 0.5,
                **p,
            ).select("id_a", "id_b")
            return D.connected_components(pairs)
        # embedding near-dup: ON names the vector column
        return D.embedding_pairs(
            df,
            id_col=id_param or "vec_id",
            vec_col=chosen_col or "embedding",
            threshold=stmt.threshold if stmt.threshold is not None else 0.35,
            **p,
        )

    # -- REDACT (corpus prep; SURVEY §2.11) --------------------------------
    def _redact(self, stmt: "ir.RedactPII") -> DataFrame:
        """Mask PII in the text column in place; append per-class
        match counts so the caller can audit what was scrubbed."""
        from declarativeml_spark.operators.pii import pii_counts, pii_redact

        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        col = stmt.column or "text"
        counts = pii_counts(col)
        return df.select(
            *[c for c in df.columns if c != col],
            *counts,
            pii_redact(col).alias(col),
        )

    # -- SAMPLE (deterministic hash sampling; SURVEY §7.5 family) ----------
    def _sample(self, stmt: ir.SampleCorpus) -> DataFrame:
        """RATE form: keep ``rate`` of rows, chosen by a Lehmer hash of
        the id column — reproducible and restart-safe, unlike rand();
        see queries/pipeline.py::corpus_mix_sample for the
        overflow-safe arithmetic and its DuckDB-checked oracle form.

        TOP form: Efraimidis-Spirakis weighted sampling without
        replacement — the ``top_n`` smallest ``-ln(u)/w`` keys win,
        with u from the same Lehmer hash and w the weight column; see
        queries/pipeline2.py::corpus_weighted_sample for the
        oracle-checked form. Rows with non-positive weight are
        excluded (their inclusion probability is zero)."""
        from pyspark.sql import functions as F

        from declarativeml_spark.operators.layout import LEHMER_ID

        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        col = stmt.column or "doc_id"
        # the SHARED Lehmer text (two wrap steps: one multiply maps a
        # small consecutive id range onto a small prefix of [0, m), the
        # second actually mixes). LEHMER_ID's BIGINT cast matters: an
        # INT-typed id column would overflow the *48271 in 32-bit
        # arithmetic (ANSI abort, silent wrap otherwise) and diverge
        # from every other Lehmer consumer
        h = F.expr(LEHMER_ID.format(id=col))
        if stmt.rate is not None:
            return df.filter(h < F.lit(float(stmt.rate) * 2147483647.0))
        w = F.col(stmt.weight_column).cast("double")
        skey = -F.log((h + 1.0) / 2147483648.0) / w
        return (
            df.filter(w > 0)
            .withColumn("__skey", skey)
            .orderBy(F.asc("__skey"), F.asc(col))
            .limit(stmt.top_n)
            .drop("__skey")
        )

    def _similarity_search(self, stmt: ir.SimilaritySearch) -> DataFrame:
        import inspect

        from declarativeml_spark.operators import dedup as D

        p = dict(stmt.params)
        if "k" in p:
            # a k => param would collide with TOP's keyword argument
            # as a raw 'multiple values for k' TypeError
            raise ValueError(
                "SEARCH SIMILAR takes its result size from the TOP"
                " clause, not a k => option"
            )
        k = stmt.k if stmt.k is not None else 10
        if stmt.method == "index":
            return self.store.search(stmt, p, k)
        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        if stmt.method == "lsh":
            fn, kw = D.lsh_topk_pairs, p
        elif stmt.method == "ivf":
            # The deterministic pinned-Lloyd's quantizer IS the DSL
            # path (hash-checked vs the DuckDB oracle, query
            # ann_ivf_topk); the MLlib k-means|| variant stays
            # reachable as 'ivf_mllib' for init-quality comparisons
            # (tests/test_dedup_dsl.py).
            fn, kw = D.ivf_native_topk, dict(k=k, **p)
        elif stmt.method == "ivf_mllib":
            fn, kw = D.ivf_topk, dict(k=k, **p)
        else:
            fn, kw = D.cosine_topk, dict(k=k, **p)
        # validate option names HERE so an unsupported option is the
        # DSL's typed error, not a raw TypeError from **kw — e.g.
        # seed/max_iter are k-means|| knobs that the deterministic
        # 'ivf' quantizer does not have (use ivf_mllib for those)
        # cache_key is an internal memo handle for immutable bench
        # inputs (operators/dedup.py::native_cells) — exposing it to
        # the DSL would let two statements alias different/changed
        # sources to one frozen quantizer
        accepted = set(inspect.signature(fn).parameters) - {"df", "cache_key"}
        unknown = sorted(set(kw) - accepted)
        if unknown:
            raise ValueError(
                f"SEARCH SIMILAR USING {stmt.method} does not accept "
                f"option(s) {', '.join(unknown)!s}; accepted: "
                f"{', '.join(sorted(accepted))}"
                + (
                    " (seed/max_iter are k-means|| options — use"
                    " USING ivf_mllib)"
                    if stmt.method == "ivf"
                    and {"seed", "max_iter"} & set(unknown)
                    else ""
                )
            )
        out = fn(df, **kw)
        if stmt.method == "lsh" and stmt.k is not None:
            # honor an explicit TOP for the pair join too: the k
            # closest pairs, deterministic tiebreak — silently
            # returning the full threshold set ignored the clause
            out = top_pairs(out, stmt.k)
        return out

    # -- REGISTER AGENT (catalog row + subscription, AGENTS.md:189-196) -------
    def _register_agent_catalog(self, stmt: ir.RegisterAgent) -> dict:
        from declarativeml_spark.ml.ensemble import _append_record

        record = {
            "name": stmt.name,
            "algorithm": "agent",
            "version": 1,
            "capabilities": stmt.capabilities,
            "subscribe_to": stmt.subscribe_to,
            "publish_to": stmt.publish_to,
            "priority": stmt.priority,
            "resource_limits": stmt.resource_limits,
            "status": "registered",
        }
        _append_record(self.model_dir, record)
        patterns = (
            stmt.subscribe_to
            if isinstance(stmt.subscribe_to, list)
            else [stmt.subscribe_to]
            if stmt.subscribe_to
            else []
        )
        for i, pat in enumerate(patterns):
            # matched events are recorded for the agent's queue; one
            # subscription NAME per pattern, or dispatch_batch's
            # per-subscription counts would overwrite each other
            self.bus.subscribe(
                pat, lambda df: None, name=f"agent:{stmt.name}:{i}"
            )
        return record

    # -- EXPLAIN PREDICTION ----------------------------------------------------
    def _explain(self, stmt: ir.ExplainPrediction) -> DataFrame:
        from declarativeml_spark.ml.evaluate import explain_predictions

        meta = self._model_meta(stmt.model)
        df = self._model_frame(meta, stmt.source, stmt.source_is_identifier)
        background = None
        if stmt.row_filter is not None:
            col, value = stmt.row_filter
            if col not in df.columns:
                raise ValueError(
                    f"EXPLAIN selector column {col!r} is not in the"
                    f" source (columns: {', '.join(df.columns)})"
                )
            # the UNFILTERED source is the SHAP background: the
            # filtered single row's own mean is the row itself, so
            # every linear contribution collapsed to coef*(x-x)=0 —
            # a vacuous all-zero explanation
            background = df
            df = df.filter(F.col(col) == F.lit(value))
        return explain_predictions(
            self.spark,
            stmt.model,
            df,
            feature_names=meta["features"],
            top_k=stmt.top_k,
            base=self.model_dir,
            background_df=background,
        )

    # -- CREATE TYPE (reference DSL.md:177-210) -------------------------------
    _PG_TO_SPARK = {
        "TEXT": "string",
        "VARCHAR": "string",
        "CHAR": "string",
        "JSONB": "string",  # JSON text; Spark's JSON fns take strings
        "JSON": "string",
        "INTEGER": "int",
        "INT": "int",
        "SMALLINT": "short",
        "BIGINT": "long",
        "FLOAT": "double",
        "REAL": "float",
        "DOUBLE": "double",
        "NUMERIC": "decimal(38,12)",
        "BOOLEAN": "boolean",
        "TIMESTAMP": "timestamp",
        "DATE": "date",
    }

    def _create_type(self, stmt: "ir.CreateType") -> DataFrame:
        """Register a named composite: PG types resolve to a Spark
        StructType kept on the engine (``types[name]``); the result
        DataFrame describes the mapping (one row per field)."""
        from pyspark.sql import types as T

        rows = []
        struct_fields = []
        for fname, ftype in stmt.fields:
            base = ftype
            is_array = base.endswith("[]")
            if is_array:
                base = base[:-2]
            base = base.split("(")[0]  # VARCHAR(100) → VARCHAR
            spark_type = self._PG_TO_SPARK.get(base)
            if spark_type is None:
                raise ValueError(
                    f"Unsupported type {ftype!r} for field {fname!r};"
                    f" supported: {', '.join(sorted(self._PG_TO_SPARK))}"
                    " (plus [] array suffixes)"
                )
            if is_array:
                spark_type = f"array<{spark_type}>"
            struct_fields.append(
                T.StructField(
                    fname, T._parse_datatype_string(spark_type), True
                )
            )
            rows.append((stmt.name, fname, ftype, spark_type))
        self.types[stmt.name] = T.StructType(struct_fields)
        return self.spark.createDataFrame(
            rows,
            "type_name string, field string, declared string,"
            " spark_type string",
        )

    # -- SELECT <builtin_fn>(…) (reference DSL.md:213-233) -------------------
    def _select_function(self, stmt: "ir.SelectFunction"):
        """Route the reference's built-in function statements to the
        evaluation library: evaluate_model → the EVALUATE path;
        feature_importance → native importances (method recorded —
        'shap' resolves to the same exact attribution family EXPLAIN
        uses; sample_size is accepted and unused, importances are
        closed-form not sampled); compare_models → ranked metric table
        with each model evaluated on its OWN feature expressions."""
        from declarativeml_spark.ml import evaluate as E
        from declarativeml_spark.plans.builder import build_features

        kw = dict(stmt.kwargs)

        def need(key: str):
            if key not in kw:
                raise ValueError(
                    f"{stmt.func} requires argument {key!r}"
                )
            return kw.pop(key)

        if stmt.func == "evaluate_model":
            model = need("model_name")
            source = need("test_data")
            metrics = kw.pop("metrics", []) or []
            if isinstance(metrics, str):
                # a scalar 'accuracy' iterated char-wise would filter
                # every metric out and silently return {}
                metrics = [metrics]
            self._reject_extra_args(stmt.func, kw)
            return self._evaluate(
                ir.EvaluateModel(
                    model=model, source=source, metrics=list(metrics)
                )
            )
        if stmt.func == "feature_importance":
            model = need("model_name")
            method = kw.pop("method", None)
            kw.pop("sample_size", None)  # accepted per the reference
            self._reject_extra_args(stmt.func, kw)
            if method not in (None, "shap", "native", "impurity"):
                raise ValueError(
                    f"Unknown feature_importance method {method!r};"
                    " accepted: shap, native, impurity"
                )
            meta = self._model_meta(model)
            return E.feature_importance(
                self.spark, model, meta["features"], base=self.model_dir
            )
        # compare_models
        models = kw.pop("models", None)
        trials_agent = kw.pop("trials", None)
        source = need("test_data")
        primary = need("primary_metric")
        self._reject_extra_args(stmt.func, kw)
        if models is None and trials_agent is None:
            raise ValueError(
                "compare_models needs models := ARRAY['m1', 'm2', …]"
                " and/or trials := 'tuner_agent'"
            )
        if models is not None and (
            not isinstance(models, (list, tuple)) or not models
        ):
            raise ValueError(
                "compare_models needs models := ARRAY['m1', 'm2', …]"
            )
        df = resolve_source(self.spark, source, True)
        specs = []
        frames = {}
        for m in models or ():
            meta = self._model_meta(m)
            specs.append(
                {
                    "name": m,
                    "algorithm": meta["algorithm"],
                    "target": meta["target"],
                }
            )
            frames[m] = build_features(df, meta["features"]).df
        # trials := 'agent' ranks the tuner's RECORDED search alongside
        # the models on the same surface (one ranked table, one primary
        # metric). Trial values come from the recorded search split —
        # the trial models themselves are not persisted, so they cannot
        # be re-evaluated on test_data; the name marks them as trials.
        extra = []
        ascending = None
        if trials_agent is not None:
            from declarativeml_spark.ml.models import trial_log_read

            rec = trial_log_read(trials_agent, base=self.model_dir)
            if rec is None:
                raise ValueError(
                    f"No recorded search for tuner agent {trials_agent!r}"
                    " — run the tuner first"
                )
            if rec["metric"] != primary:
                raise ValueError(
                    f"Tuner {trials_agent!r} recorded metric"
                    f" {rec['metric']!r}, not {primary!r} — compare on"
                    " the recorded metric"
                )
            if rec.get("maximize") is not None:
                rec_asc = not bool(rec["maximize"])
                from declarativeml_spark.ml.evaluate import LOWER_IS_BETTER

                heuristic_asc = primary in LOWER_IS_BETTER
                if specs and rec_asc != heuristic_asc:
                    raise ValueError(
                        f"Tuner {trials_agent!r} ranks {primary!r}"
                        f" {'ascending' if rec_asc else 'descending'} but"
                        " model comparison ranks it"
                        f" {'ascending' if heuristic_asc else 'descending'}"
                        " — rank trials alone or pick a consistent metric"
                    )
                ascending = rec_asc
            for t in rec["trials"]:
                val = float(t[rec["metric"]])
                extra.append(
                    (
                        f"{trials_agent}/trial{int(t['trial'])}",
                        rec["method"],
                        val,
                        {rec["metric"]: val},
                    )
                )
        return E.compare_models(
            self.spark,
            specs,
            frames,
            primary,
            base=self.model_dir,
            extra_rows=extra,
            ascending=ascending,
        )

    @staticmethod
    def _reject_extra_args(func: str, kw: dict) -> None:
        if kw:
            raise ValueError(
                f"{func} does not accept argument(s):"
                f" {', '.join(sorted(kw))}"
            )

    # -- ARCHIVE previous_version OF <model> ----------------------------------
    def _archive_version(self, stmt: "ir.ArchiveVersion") -> dict:
        """Mark the model's previous registry version ``archived``
        (bookkeeping status — the current version keeps serving, and a
        pinned load of the archived version still works)."""
        from declarativeml_spark.ml.models import mark_version_status

        meta = self._model_meta(stmt.model)
        prev = registry_previous(stmt.model, meta["version"], self.model_dir)
        if not prev:
            return {"model": stmt.model, "archived": None,
                    "note": "no previous version"}
        mark_version_status(stmt.model, prev["version"], "archived", self.model_dir)
        return {"model": stmt.model, "archived": prev["version"]}

    # -- WHEN ... THEN <statement(s)> -----------------------------------------
    def _register_rule(self, stmt: ir.WhenRule):
        """Attach a reactive rule to the event bus: when a matching
        event arrives, the action executes (DSL.md:123-144). The
        action may be a SCRIPT (the reference's AND-chained THEN
        actions join with ';'), executed statement by statement."""
        from declarativeml_spark.dsl.parser import (
            parse_workflow_block_text,
            split_statements,
        )

        def fire(matched_df: DataFrame) -> None:
            txt = stmt.action.strip()
            if txt.upper().startswith("BEGIN"):
                self._run_workflow(parse_workflow_block_text(txt))
            else:
                for s in split_statements(txt):
                    self.execute(s)

        return self.bus.when(stmt.event_pattern, stmt.payload_predicate or "TRUE", fire)

    # -- BEGIN … END workflow execution (reference DSL.md:135-143) -------------
    def _run_workflow(self, block: "ir.WorkflowBlock") -> dict:
        """Execute a workflow block with a RESULT CONTEXT: after a
        (RE)TRAIN step, ``retraining_<metric>`` holds the fresh fit's
        metrics and ``previous_<metric>`` the prior registry version's
        — the variables the reference's IF guard reads
        (``IF retraining_accuracy < previous_accuracy * 0.95``).
        Model-implicit IF actions (ROLLBACK) bind to the version the
        block's latest (RE)TRAIN step produced."""
        context: dict[str, float] = {}
        subject: Optional[TrainedModel] = None
        log: dict[str, Any] = {"steps": [], "conditions": []}
        for step in block.steps:
            if isinstance(step, ir.IfStep):
                fired = self._eval_workflow_cond(step, context)
                log["conditions"].append(
                    {
                        "condition": f"{step.lhs} {step.op} {step.rhs}",
                        "fired": fired,
                    }
                )
                if not fired:
                    continue
                for act in step.actions:
                    if act[0] == "rollback":
                        if subject is None:
                            raise ValueError(
                                "ROLLBACK TO previous_version needs a"
                                " prior (RE)TRAIN step in the block to"
                                " bind the model"
                            )
                        # a version RETRAIN's own guard already rolled
                        # back stays the only one rolled back
                        done = rollback_version(
                            subject.name, subject.version, self.model_dir
                        )
                        log["steps"].append(
                            f"rollback {subject.name} v{subject.version}"
                            + ("" if done else " (already rolled back)")
                        )
                    elif act[0] == "alert":
                        self.bus.publish(
                            "notification",
                            {"recipient": act[1], "message": act[2]},
                        )
                        log["steps"].append(f"alert {act[1]}")
                    else:  # ("stmt", text)
                        self.execute(act[1])
                        log["steps"].append(act[1].splitlines()[0][:60])
                continue
            _, text = step
            result = self.execute(text)
            log["steps"].append(text.splitlines()[0][:60])
            if isinstance(result, TrainedModel):
                subject = result
                prev = registry_previous(
                    result.name, result.version, self.model_dir
                )
                for prefix, metrics in (
                    ("retraining", result.metrics),
                    ("previous", prev.get("performance_metrics") or {}),
                ):
                    for k, v in metrics.items():
                        if isinstance(v, (int, float)):
                            context[f"{prefix}_{k}"] = float(v)
        if self._bus is not None and self._bus._published:
            self._bus.dispatch_batch()
        return log

    def _eval_workflow_cond(self, step: "ir.IfStep", context: dict) -> bool:
        import operator as _op

        from declarativeml_spark.dsl.features import parse_feature_expr

        ops = {
            ">": _op.gt, ">=": _op.ge, "<": _op.lt,
            "<=": _op.le, "!=": _op.ne, "=": _op.eq,
        }
        lhs = self._eval_workflow_expr(parse_feature_expr(step.lhs), context)
        rhs = self._eval_workflow_expr(parse_feature_expr(step.rhs), context)
        return bool(ops[step.op](lhs, rhs))

    def _eval_workflow_expr(self, node, context: dict) -> float:
        from declarativeml_spark.dsl import features as FT

        if isinstance(node, FT.NumberLit):
            return float(node.value)
        if isinstance(node, FT.Identifier):
            key = ".".join(node.parts)
            if key not in context:
                avail = ", ".join(sorted(context)) or (
                    "none — did a (RE)TRAIN step run first?"
                )
                raise ValueError(
                    f"Unknown workflow variable {key!r}; available:"
                    f" {avail}"
                )
            return float(context[key])
        if isinstance(node, FT.Group):
            return self._eval_workflow_expr(node.inner, context)
        if isinstance(node, FT.Neg):
            return -self._eval_workflow_expr(node.operand, context)
        if isinstance(node, FT.BinOp):
            left = self._eval_workflow_expr(node.left, context)
            right = self._eval_workflow_expr(node.right, context)
            if node.op == "+":
                return left + right
            if node.op == "-":
                return left - right
            if node.op == "*":
                return left * right
            if right == 0:
                raise ValueError(
                    "Division by zero in workflow IF condition"
                )
            return left / right
        raise ValueError(
            f"Unsupported expression in workflow IF:"
            f" {type(node).__name__}"
        )

    # -- CREATE AGENT ---------------------------------------------------------
    def _register_agent(self, stmt: ir.Agent) -> ir.Agent:
        """Register an autonomous monitor agent (DSL.md:150-171). The
        schedule is advisory metadata; ``run_agents_once`` is the tick."""
        self.agents[stmt.name] = stmt
        return stmt

    def _register_tuner(self, stmt: ir.TunerAgent) -> ir.TunerAgent:
        """Register a hyperparameter-search agent (reference
        DSL.md:158-171). Registration validates the target model and
        method eagerly (a tuner for a model that was never trained is
        a statement error, not a deferred runtime surprise); the
        search itself runs on ``run_tuner`` — trials are full
        distributed fits, too expensive to fire as a statement side
        effect."""
        from declarativeml_spark.ml.tuning import _KNOWN_METHODS

        if stmt.method not in _KNOWN_METHODS:
            raise ValueError(
                f"Unknown optimization method {stmt.method!r}; accepted:"
                f" {', '.join(sorted(_KNOWN_METHODS))}"
            )
        stored_train_statement(self._model_meta(stmt.model))
        self.tuners[stmt.name] = stmt
        return stmt

    def run_tuner(self, name: str) -> DataFrame:
        """Execute a registered tuner agent's search: a deterministic
        budget-capped trial lattice fit through TrainValidationSplit
        with ``parallelism`` = the statement's worker count
        (ml/tuning.py). The best trial's model registers as a new
        version of the base model; per-trial metrics append to the
        registry audit log (``tuning_trials``). Returns the ranked
        trials DataFrame."""
        from declarativeml_spark.ml.tuning import run_search

        tuner = self.tuners.get(name)
        if tuner is None:
            raise ValueError(f"Unknown tuner agent {name!r}")
        trials_df, _best = run_search(
            self.spark, tuner, self._model_meta(tuner.model), model_dir=self.model_dir
        )
        return trials_df

    def tuning_trials(self, agent: str) -> DataFrame:
        """The latest recorded search for an agent as a DataFrame —
        one row per trial ranked by the objective (the registry
        audit-log surface of DSL.md:215-233's model-inspection
        family)."""
        from declarativeml_spark.ml.models import trial_log_read

        rec = trial_log_read(agent, base=self.model_dir)
        if rec is None:
            raise ValueError(
                f"No recorded search for tuner agent {agent!r} — run"
                " Engine.run_tuner first"
            )
        metric = rec["metric"]
        # the recorded direction is authoritative — a fresh session has
        # no tuner registry, and a wrong default would rank a MINIMIZE
        # search worst-first; the session registry is only a fallback
        # for logs written before the field existed
        maximize = rec.get("maximize")
        if maximize is None:
            tuner = self.tuners.get(agent)
            maximize = tuner.maximize if tuner is not None else True
        trials = sorted(
            rec["trials"], key=lambda t: t[metric], reverse=maximize
        )
        rows = [
            (
                rank + 1,
                int(t["trial"]),
                {k: str(v) for k, v in t["params"].items()},
                float(t[metric]),
                t["trial"] == rec["best_trial"],
            )
            for rank, t in enumerate(trials)
        ]
        return self.spark.createDataFrame(
            rows,
            f"rank int, trial int, params map<string,string>,"
            f" {metric} double, best boolean",
        )

    def _schedule_retraining(self, stmt: "ir.ScheduleRetraining") -> dict:
        """Record when the model is due for retraining (README.md:57's
        post-deploy clause). ADVISORY metadata: it does not fire a
        RETRAIN by itself — a host scheduler reads
        ``Engine.retrain_schedules`` (this session) or the persisted
        ``retrain_schedule`` registry records (any session) and issues
        the RETRAIN statement when due."""
        import time as _time

        from declarativeml_spark.ml.ensemble import _append_record

        self._model_meta(stmt.model)
        rec = {
            "model": stmt.model,
            "in_n": stmt.n,
            "unit": stmt.unit,
            "scheduled_at": _time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()
            ),
        }
        self.retrain_schedules[stmt.model] = rec
        # durable form: survives the session like all model metadata
        _append_record(
            self.model_dir,
            {"name": stmt.model, "record": "retrain_schedule", **rec},
        )
        return {"scheduled": "retraining", **rec}

    # -- trend agents (reference README.md:60-63) -------------------------------
    def _register_trend_agent(self, stmt: "ir.TrendAgent") -> "ir.TrendAgent":
        self._model_meta(stmt.model)
        # validate the WATCHED METRIC eagerly: an unknown metric is a
        # statement error at registration, not a surprise on every
        # subsequent tick (one monitor evaluation — registration is
        # rare; its value also seeds nothing, the history starts empty)
        res = self._monitor(
            ir.MonitorModel(model=stmt.model, source=None, checks=[])
        )
        if stmt.metric not in res["metrics"]:
            raise ValueError(
                f"Metric {stmt.metric!r} is not computed for"
                f" {stmt.model!r}; available:"
                f" {', '.join(sorted(res['metrics']))}"
            )
        self.agents[stmt.name] = stmt
        self._trend_history.pop(stmt.name, None)  # re-registration resets
        return stmt

    def _run_trend_agent(self, name: str, agent: "ir.TrendAgent") -> dict:
        """One tick: evaluate the watched metric on the model's stored
        TRAIN source, append to the agent's history, fire after k
        consecutive moves in the watched direction. Fired action names
        call registered procedures, else publish ``agent.action``."""
        res = self._monitor(
            ir.MonitorModel(model=agent.model, source=None, checks=[]),
            bus=self.bus,
        )
        value = res["metrics"].get(agent.metric)
        if value is None:
            raise ValueError(
                f"Metric {agent.metric!r} is not computed for"
                f" {agent.model!r}; available:"
                f" {', '.join(sorted(res['metrics']))}"
            )
        hist = self._trend_history.setdefault(name, [])
        hist.append(float(value))
        del hist[: -(agent.k + 1)]  # a window of k moves needs k+1 points
        moves = list(zip(hist, hist[1:]))
        if agent.direction == "increases":
            fired = len(hist) == agent.k + 1 and all(b > a for a, b in moves)
        else:
            fired = len(hist) == agent.k + 1 and all(b < a for a, b in moves)
        if fired:
            for act in agent.actions:
                fn = self.procedures.get(act)
                if fn is not None:
                    fn(self)
                else:
                    self.bus.publish(
                        "agent.action",
                        {"agent": name, "action": act, "model": agent.model},
                    )
            hist.clear()  # re-arm: a fresh streak is needed to re-fire
        return {
            "healthy": not fired,
            "fired": fired,
            "metric": agent.metric,
            agent.metric: float(value),
            "history_len": len(hist),
        }

    def _publish_converged(self, trained: TrainedModel) -> None:
        """Announce a successful fit as a ``model.converged`` event —
        the trigger for the reference's ``WHEN MODEL m CONVERGED``
        rules (README.md:54). Delivery also dispatches queued rules;
        nested publishes from fired actions queue for the NEXT
        dispatch (one snapshot per pass — a self-retriggering rule
        advances one step per dispatch, never recurses unboundedly)."""
        payload: dict[str, Any] = {
            "model": trained.name,
            "version": trained.version,
        }
        payload.update(
            {
                k: float(v)
                for k, v in trained.metrics.items()
                if isinstance(v, (int, float))
            }
        )
        self.bus.publish("model.converged", payload)
        self.bus.dispatch_batch()

    def register_procedure(self, name: str, fn) -> None:
        """Register a host callable for ``CALL <name>()`` and
        ``SUBSCRIBE TO '…' EXECUTE PROCEDURE <name>()`` — the
        extension point for event handlers the DSL can't express
        (AGENTS.md:49-51). The callable receives this engine."""
        if not callable(fn):
            raise TypeError(f"procedure {name!r} must be callable")
        self.procedures[name] = fn

    def run_agents_once(self) -> dict[str, dict]:
        """Run every registered agent's monitor; execute THEN actions
        for unhealthy models, publish alerts to the bus."""
        results: dict[str, dict] = {}
        # snapshot: an agent's THEN action may itself be CREATE AGENT
        # (or fire a rule that registers one) — mutating self.agents
        # mid-iteration would abort the whole tick with a RuntimeError
        for name, agent in list(self.agents.items()):
            if isinstance(agent, ir.TrendAgent):
                try:
                    results[name] = self._run_trend_agent(name, agent)
                except Exception as e:  # noqa: BLE001 — isolate agents
                    # one broken agent must not disable every OTHER
                    # agent's tick (or swallow their queued events)
                    results[name] = {"healthy": False, "error": str(e)}
                continue
            try:
                res = self._monitor(agent.monitor, bus=self.bus)
            except Exception as e:  # noqa: BLE001 — isolate agents
                # same isolation as the trend branch: a monitor whose
                # stored source vanished must not disable other
                # agents' ticks or strand their queued events
                results[name] = {"healthy": False, "error": str(e)}
                continue
            results[name] = res
            if not res["healthy"]:
                if agent.action:
                    self.execute(agent.action)
                # the reference form's THEN TRIGGER / AND NOTIFY
                # clauses publish bus events: a WHEN-rule (or an
                # external consumer) subscribes and runs the workflow
                if agent.trigger:
                    self.bus.publish(
                        "workflow.trigger",
                        {
                            "workflow": agent.trigger,
                            "agent": name,
                            "model": agent.monitor.model,
                        },
                    )
                if agent.notify:
                    self.bus.publish(
                        "notification",
                        {
                            "recipient": agent.notify,
                            "agent": name,
                            "model": agent.monitor.model,
                            "failed_checks": [
                                c for c, ok in res["checks"].items()
                                if not ok
                            ],
                        },
                    )
        # deliver any alert events to WHEN-rules
        if self._bus is not None and self._bus._published:
            self._bus.dispatch_batch()
        return results

    # -- CREATE FEATURE TRANSFORMER ------------------------------------------
    def _feature_transformer(self, stmt: ir.FeatureTransformer) -> DataFrame:
        """Named reusable feature view (DSL.md:79-86): the SELECT body
        becomes a temp view resolvable as a FROM source anywhere."""
        df = self.spark.sql(stmt.select_sql)
        df.createOrReplaceTempView(stmt.name)
        return df

    # -- DEPLOY MODELS (A/B) -----------------------------------------------------
    def _validate_ensemble(self, members: list, source: str) -> dict:
        """Score a freshly created ensemble on its VALIDATE ON source
        and return the standard metric set (keyed by the first
        member's algorithm family — create_ensemble enforces a shared
        feature spec, and members of one ensemble share a target)."""
        from declarativeml_spark.ml.ensemble import score_ensemble
        from declarativeml_spark.ml.registry import get_algorithm
        from declarativeml_spark.ml.training import _compute_metrics

        meta = self._model_meta(members[0][0])
        spec = get_algorithm(meta["algorithm"])
        if spec.kind == "clustering":
            # score_ensemble keeps only input columns + the combined
            # prediction, so the members' assembled 'features' vector
            # (which ClusteringEvaluator needs) is gone by the time
            # metrics run — and a weighted average of cluster INDICES
            # is not a cluster assignment, so silhouette over it would
            # be meaningless even if the vector survived. Fail loudly
            # instead of returning {} (the "user believes the holdout
            # was scored while nothing ran" failure this clause is
            # here to prevent).
            raise ValueError(
                "VALIDATE ON is unsupported for clustering ensembles:"
                " averaged cluster indices have no silhouette —"
                " validate each member with EVALUATE MODEL instead"
            )
        df = self._model_frame(meta, source, True)
        # clustering raised above, so a label always exists here
        label_col = "label"
        ttype = dict(df.dtypes).get(meta["target"])
        if not (spec.kind == "classification" and ttype == "string"):
            df = df.withColumn(
                label_col, F.col(meta["target"]).cast("double")
            )
        scored = score_ensemble(
            self.spark, members, df, base=self.model_dir
        )
        return _compute_metrics(None, df, spec, label_col, scored=scored)

    def _deploy_ab(self, stmt: ir.DeployABTest) -> dict:
        from declarativeml_spark.ml.ensemble import _append_record

        for m in stmt.models:
            self._model_meta(m)
        record = {
            "name": stmt.endpoint or "__ab__" + "_".join(stmt.models),
            "algorithm": "ab_test",
            "ab_models": stmt.models,
            "traffic_split": stmt.split or [100.0 / len(stmt.models)] * len(stmt.models),
            "track_metrics": stmt.track_metrics,
            "promote": stmt.promote,
            "promote_after": stmt.promote_after,
            "status": "deployed",
            "version": 1,
        }
        _append_record(self.model_dir, record)
        return record

    # -- MONITOR MODEL -------------------------------------------------------------
    def _monitor(self, stmt: ir.MonitorModel, bus=None) -> dict:
        from declarativeml_spark.ml.ensemble import monitor_model

        meta = self._model_meta(stmt.model)
        df = self._model_frame(meta, stmt.source, stmt.source_is_identifier)
        return monitor_model(
            self.spark,
            stmt.model,
            df,
            target=meta["target"],
            algorithm=meta["algorithm"],
            checks=stmt.checks,
            base=self.model_dir,
            bus=bus,
        )

    # -- RETRAIN MODEL (with rollback, DSL.md:136-142) ---------------------------------
    def _retrain(self, stmt: ir.RetrainModel) -> TrainedModel:
        meta = self._model_meta(stmt.model)
        train_stmt = stored_train_statement(meta)
        if stmt.latest_n is not None:
            if not stmt.time_column:
                raise ValueError(
                    "RETRAIN ... USING LATEST requires TIME COLUMN <col>"
                )
            # window the source relative to its own newest timestamp so
            # historical test data behaves like a live feed
            filt = (
                f"{stmt.time_column} >= (SELECT max({stmt.time_column})"
                f" FROM {train_stmt.source}) - INTERVAL {stmt.latest_n}"
                f" {stmt.latest_unit}"
            )
            if train_stmt.source_is_identifier:
                train_stmt.source = f"{train_stmt.source} WHERE {filt}"
                train_stmt.source_is_identifier = False
            else:
                # wrap, never splice: string-scanning for WHERE breaks
                # on subquery fragments ('(SELECT ... WHERE ...) s'
                # would get AND appended after the alias) and on
                # newline-separated clauses; double-nesting keeps the
                # result a pure '(SELECT ...) alias' fragment — valid
                # around ANY source resolve_source accepts, including
                # ones carrying their own WHERE tail
                train_stmt.source = (
                    f"(SELECT * FROM (SELECT * FROM {train_stmt.source})"
                    f" __retrain_inner WHERE {filt}) __retrain_window"
                )

        new = train(
            self.spark, train_stmt, model_dir=self.model_dir, statement=meta["statement"]
        )
        old_metrics = meta.get("performance_metrics") or {}
        rolled_back = False
        for key in ("accuracy", "f1", "r2"):  # higher-better metrics
            if key in old_metrics and key in new.metrics:
                if new.metrics[key] < stmt.rollback_ratio * old_metrics[key]:
                    rolled_back = True
                break
        else:
            if "rmse" in old_metrics and "rmse" in new.metrics:
                if new.metrics["rmse"] * stmt.rollback_ratio > old_metrics["rmse"]:
                    rolled_back = True
        if rolled_back:
            rollback_version(stmt.model, new.version, self.model_dir)
            new.stop_satisfied = False
        else:
            # a rolled-back retrain did NOT produce a serving model —
            # announcing convergence would trigger deploy rules on it
            self._publish_converged(new)
        return new

    # -- PREDICT USING MODEL m FROM src [STORE RESULTS IN t] ----------------
    def _predict(self, stmt: ir.PredictModel) -> DataFrame:
        meta = self._model_meta(stmt.model)
        if meta["algorithm"] == "ensemble":
            from declarativeml_spark.ml.ensemble import score_ensemble

            members = [
                (m["model"], m["weight"]) for m in meta["ensemble_members"]
            ]
            # members share one feature spec (create_ensemble checks)
            df = self._model_frame(
                self._model_meta(members[0][0]),
                stmt.source,
                stmt.source_is_identifier,
            )
            scored = score_ensemble(self.spark, members, df, base=self.model_dir)
        else:
            # the artifact of the very version whose record built the
            # features
            model = registry_load(
                self.spark, stmt.model, version=meta["version"], base=self.model_dir
            )
            scored = model.transform(
                self._model_frame(meta, stmt.source, stmt.source_is_identifier)
            )
        if stmt.sink:
            self._write_prediction_sink(scored, stmt.sink)
        return scored

    _PREDICTION_SINK_PROP = "declml.prediction_sink"

    def _write_prediction_sink(self, scored: DataFrame, sink: str) -> None:
        """Never-clobber sink write (the same discipline as
        CREATE INDEX/TRAIN TOKENIZER … STORED AS): overwrite only a name this
        path itself created (marked ``declml.prediction_sink``) or a
        name that does not exist. An unguarded overwrite-saveAsTable
        could silently destroy the index registry, a live index's
        bucketed storage, a tokenizer merge table, or any user
        table."""
        if sink == self.store.INDEX_REGISTRY_TABLE:
            # refused by NAME, not catalog existence — a fresh
            # catalog over a shared warehouse would otherwise pass
            # the exists check and clobber (or collide with) the
            # on-disk registry location
            raise ValueError(
                f"STORE RESULTS IN {sink!r}: that name is the"
                " engine's index registry — choose another name"
            )
        if self.spark.catalog.tableExists(sink):
            if self.store.is_index_storage(sink):
                raise ValueError(
                    f"STORE RESULTS IN {sink!r}: that table is engine"
                    " index storage — choose another name"
                )
            if not self.store.has_table_prop(sink, self._PREDICTION_SINK_PROP):
                raise ValueError(
                    f"STORE RESULTS IN {sink!r}: table exists and was"
                    " not created by a previous STORE RESULTS —"
                    " refusing to overwrite; DROP TABLE it first or"
                    " choose a new name"
                )
        scored.write.mode("overwrite").saveAsTable(sink)
        self.spark.sql(
            f"ALTER TABLE {sink} SET TBLPROPERTIES"
            f" ('{self._PREDICTION_SINK_PROP}'='1')"
        )

    def _evaluate(self, stmt: ir.EvaluateModel) -> dict:
        # delegate to the ONE evaluator (ml/evaluate.py): this body
        # used to be a verbatim copy whose label handling drifted —
        # the EVALUATE statement and the evaluate_model built-in must
        # stay behaviorally identical
        from declarativeml_spark.ml.evaluate import evaluate_model

        meta = self._model_meta(stmt.model)
        df = self._model_frame(meta, stmt.source, stmt.source_is_identifier)
        return evaluate_model(
            self.spark,
            stmt.model,
            df,
            metrics=stmt.metrics,
            algorithm=meta["algorithm"],
            target=meta["target"],
            base=self.model_dir,
        )

    def _model_meta(self, name: str) -> dict[str, Any]:
        """The registry record of the model's live version — the one
        version rule lives in ml/models.py, shared with registry_load
        and the streaming serving path."""
        rec = registry_meta(name, base=self.model_dir)
        if not rec:
            raise ValueError(f"No registered model named {name!r}")
        return rec

    def _model_frame(
        self, meta: dict, source: Optional[str], is_identifier: bool
    ) -> DataFrame:
        """``source`` — or, when the statement names none, the model's
        stored TRAIN source — with the model's feature columns built."""
        from declarativeml_spark.plans.builder import build_features

        if source is None:
            train_stmt = stored_train_statement(meta)
            source, is_identifier = train_stmt.source, train_stmt.source_is_identifier
        df = resolve_source(self.spark, source, is_identifier)
        return build_features(df, meta["features"]).df

    # One handler per statement kind — the keys are exactly the
    # parser's Statement union (tests/test_parser.py asserts it). The
    # table holds methods and lazily imported operators, never a
    # module-level function object such as ``train`` or ``parse``, so
    # code that rebinds those at run time (timing shims) sees every call.
    _HANDLERS: dict = {
        ir.TrainModel: _train_model,
        ir.ComputeKernel: _compute,
        ir.PredictModel: _predict,
        ir.EvaluateModel: _evaluate,
        ir.FeatureTransformer: _feature_transformer,
        ir.Ensemble: _ensemble,
        ir.DeployModel: _deploy_model,
        ir.DeployABTest: _deploy_ab,
        ir.MonitorModel: _monitor,
        ir.RetrainModel: _retrain,
        ir.WhenRule: _register_rule,
        ir.Agent: _register_agent,
        ir.TunerAgent: _register_tuner,
        ir.TrendAgent: _register_trend_agent,
        ir.ScheduleRetraining: _schedule_retraining,
        ir.ForecastModel: _forecast,
        ir.ExplainPrediction: _explain,
        ir.RegisterAgent: _register_agent_catalog,
        ir.PublishEvent: _publish_event,
        ir.Notify: _notify,
        ir.SetConfig: _set_config,
        ir.CallProcedure: _call_procedure,
        ir.ArchiveVersion: _archive_version,
        ir.SelectFunction: _select_function,
        ir.CreateType: _create_type,
        ir.Deduplicate: _deduplicate,
        ir.SimilaritySearch: _similarity_search,
        ir.SampleCorpus: _sample,
        ir.RedactPII: _redact,
        ir.TrainTokenizer: _train_tokenizer,
        ir.Tokenize: _tokenize,
        ir.DropTokenizer: _drop_tokenizer,
        ir.DecodeMedia: _decode_media,
        ir.SampleFrames: _sample_frames,
        ir.ResizeMedia: _resize_media,
        ir.LoadMedia: _load_media,
        ir.CreateIndex: lambda self, stmt: self.store.create(stmt),
        ir.DropIndex: lambda self, stmt: self.store.drop(stmt),
        ir.RefreshIndex: lambda self, stmt: self.store.refresh(stmt),
        # corpus prep (SURVEY §2.11); a trailing comment names the
        # entry's oracle-checked twin query
        ir.Decontaminate: _SourceOp(
            "operators.corpus:benchmark_overlap",
            lambda s: dict(text_col=s.column or "text", min_overlap=s.threshold),
            sources=("source", "benchmark"),
        ),
        ir.PackSequences: _SourceOp(
            "operators.corpus:pack_chunks",
            lambda s: dict(
                text_col=s.column or "text", context=s.context, buckets=s.buckets
            ),
        ),
        ir.ChunkWindows: _SourceOp(
            "operators.corpus:chunk_windows",
            lambda s: dict(text_col=s.column or "text", win=s.win, stride=s.stride),
        ),
        ir.MixCorpus: _SourceOp(  # corpus_temperature_mix
            "operators.corpus:temperature_mix", lambda s: dict(by_col=s.by)
        ),
        ir.WeighCorpus: _SourceOp(  # dsir_importance_weights
            "operators.corpus:dsir_weights",
            lambda s: dict(
                target_col=s.target_column,
                target_value=s.target_value,
                buckets=s.buckets,
            ),
        ),
        ir.ScoreQuality: _SourceOp(  # quality_linear_margin
            "operators.textops:quality_margin",
            lambda s: dict(buckets=s.buckets, text_col=s.text_column),
        ),
        ir.QuantizeEmbeddings: _SourceOp(  # embedding_quantize_int8
            "operators.dedup:quantize_int8",
            lambda s: dict(
                id_col=s.id_column or "vec_id", vec_col=s.column or "embedding"
            ),
        ),
        ir.CalibrateDedup: _SourceOp(  # dedup_threshold_sweep
            "operators.dedup:threshold_sweep",
            lambda s: dict(thresholds=s.thresholds, text_col=s.text_column),
        ),
        ir.ShardCorpus: _SourceOp(  # corpus_shard_assignment
            "operators.layout:shard_round_robin",
            lambda s: dict(n_shards=s.n_shards, id_col=s.id_column),
        ),
        ir.ShuffleCorpus: _SourceOp(  # corpus_epoch_shuffle
            "operators.layout:epoch_shuffle",
            lambda s: dict(epochs=s.epochs, n_shards=s.n_shards, id_col=s.id_column),
        ),
        ir.CompactTable: _SourceOp(  # lakehouse_compaction_plan
            "operators.layout:compaction_groups",
            lambda s: dict(
                target_bytes=s.target_bytes,
                part_col=s.part_column,
                file_col=s.file_column,
                bytes_col=s.bytes_column,
            ),
        ),
        ir.ProfileTable: _SourceOp(  # lineitem_numeric_profile
            "operators.profile:numeric_profile", lambda s: dict(cols=s.columns)
        ),
        ir.AuditAnonymity: _SourceOp(  # events_k_anonymity
            "operators.privacy:k_anonymity_report",
            lambda s: dict(qi_cols=s.columns, risk=s.risk),
        ),
        ir.DetectAnomalies: _SourceOp(  # events_rate_anomalies
            "operators.anomaly:rate_anomalies",
            # min_full scales with the window (half of it, floor 2) so
            # a short WINDOW can still flag — a fixed 12 would make any
            # WINDOW < 12 statement silently never-anomalous
            lambda s: dict(
                key_col=s.key,
                ts_col=s.ts_column or "ts",
                window_size=s.window,
                min_full=max(2, s.window // 2),
            ),
        ),
        ir.Sessionize: _SourceOp(  # events_user_sessions
            "streaming.pipeline:session_window_stats",
            lambda s: dict(
                ts_col=s.ts_column or "ts",
                key_col=s.key,
                value_col=s.value_column or "value",
                gap=f"{s.gap_value} {s.gap_unit.lower()}",
                streaming=False,
            ),
        ),
    }
