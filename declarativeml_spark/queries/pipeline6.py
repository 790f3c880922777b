"""Training-data pipeline operators, part 6 (round 3).

* ``dedup_substring_runs`` — the suffix-array-style exact-substring
  dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
  Language Models Better"), re-expressed as a distributed rolling
  k-token-gram fingerprint pass: a gram shared by ≥2 documents marks
  every position it covers, and consecutive marked positions merge
  into maximal runs per document (islands-and-gaps, windowed *within*
  the document only).
* ``corpus_shard_assignment`` — the balanced-output-writer plan for a
  100 TB corpus: an exact hash-ordered round-robin over documents via
  the two-phase distributed rank (operators/ordered.py — never a
  single-partition global window), audited by per-shard token mass.
* ``lakehouse_compaction_plan`` — next-fit small-file merge groups
  over a (partition, file, bytes) manifest; metadata-plane.
* ``tokenizer_fertility`` — subwords-per-word and bytes-per-subword
  per language, the tokenizer-budget metric multilingual pipelines
  read before fixing a vocab.
* ``embedding_centroid_dispersion`` — per-label centroid (exact
  DECIMAL per-dimension mean) and each vector's cosine to its label
  centroid; the intra-cluster cohesion audit run before semantic
  dedup thresholds are chosen.
* ``events_hourly_corr`` / ``events_top_paths`` — cross-series
  Pearson correlation from exact integer moments; top session entry
  paths per 30-min-gap session.
* ``embedding_pca_power`` — top principal component via
  DECIMAL-exact covariance + fixed-count power iteration.
* ``orders_categorical_profile`` / ``lineitem_winsorized_stats`` —
  categorical entropy/mode profile; percentile-clipped robust means.
* ``customer_rfm_segments`` / ``events_transition_matrix`` — RFM
  quartile segmentation; first-order Markov transitions with lift.
* ``corpus_dedup_survivorship`` / ``text_ngram_novelty`` — keep-best
  survivor selection per dup group; first-seen 4-gram share per doc.
* ``events_time_weighted_value`` / ``orders_seasonality_index`` —
  gauge-correct interval-weighted means; month-of-year indices.
* ``nation_revenue_trend`` / ``referential_integrity_audit`` —
  exact-moment OLS slope per group; FK orphan counts per edge.
* ``part_abc_classification`` / ``part_pair_affinity`` /
  ``events_new_users_cumulative`` — Pareto split on the exact
  cumulative share; basket-bounded co-purchase lift; daily
  new/active/cumulative growth accounting.

Every query is hash-checked against a DuckDB oracle; float handling
follows registry.py (per-row IEEE ops, DECIMAL aggregation,
stable_round), and vector math reuses the left-fold ``aggregate``
↔ ``list_sum`` pairing proven by operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from declarativeml_spark.operators import textops as T
from declarativeml_spark.operators.dedup import _DOT, _NORM
from declarativeml_spark.queries.registry import query, sql_sround, sround
from declarativeml_spark.sources.catalog import epoch_us, load_table

_TOKS_S = T.TOKENS_SPARK.format(text="text")
_TOKS_D = T.TOKENS_DUCK.format(text="text")

# ---------------------------------------------------------------------------
# Cross-document repeated substring runs (k-token grams).

_K = 8  # tokens per gram: long enough that shared runs mean copying


@query(
    "dedup_substring_runs",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_D} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               md5(array_to_string(t[(pos + 1):(pos + {_K})], ' ')) AS fp,
               pos
        FROM (SELECT doc_id, t,
                     unnest(range(0, len(t) - {_K} + 1)) AS pos
              FROM toks WHERE len(t) >= {_K})
    ),
    rep AS (
        SELECT fp FROM grams GROUP BY fp
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN rep USING (fp)),
    runs AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_id, grp,
               CAST(COUNT(*) + {_K} - 1 AS BIGINT) AS run_tokens
        FROM runs GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_tokens) AS BIGINT) AS longest_run_tokens,
           CAST(SUM(run_tokens) AS BIGINT) AS shared_tokens_ub
    FROM spans GROUP BY doc_id
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing token runs that also appear verbatim in at
    least one other document — the exact-substring dedup signal of
    Lee et al. 2022, without building a corpus-wide suffix array.

    Plan: every document emits one 16-byte md5 fingerprint per
    k-token window (k=8). One map-side-combinable aggregation finds
    fingerprints spanning ≥2 documents; a fingerprint-keyed shuffle
    join marks the covered positions; and the maximal-run merge
    (pos − row_number islands) windows *within* each document only —
    no global ordering ever exists. Shuffle volume is O(total tokens)
    × 16 bytes on the gram pass and only the repeated positions
    afterwards; a stop-phrase-hot fingerprint is a skewed join key,
    which AQE skew-split handles (the aggregation side is two-phase
    regardless).

    ``shared_tokens_ub`` is an upper bound on copied tokens per doc
    (runs may overlap by < k tokens at their joints).
    """
    toks = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", F.expr(_TOKS_S).alias("t"))
        .where(F.expr(f"size(t) >= {_K}"))
    )
    from declarativeml_spark.operators.caching import track_persist

    # persisted: the md5-per-window gram emitter feeds BOTH the
    # repeated-fingerprint aggregation and the position join —
    # unpersisted, the tokenize + md5 of every window ran twice (r11
    # plan audit: 2 naked scans each under its own Generate)
    grams = track_persist(
        toks.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(t) - {_K}),"
                    f" i -> md5(concat_ws(' ', slice(t, i + 1, {_K}))))"
                )
            ).alias("pos", "fp"),
        ).select("doc_id", F.col("pos").cast("long").alias("pos"), "fp")
    )

    rep = (
        grams.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("fp")
    )
    hits = grams.join(rep, "fp").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = runs.groupBy("doc_id", "grp").agg(
        (F.count(F.lit(1)) + (_K - 1)).cast("long").alias("run_tokens")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_tokens").alias("longest_run_tokens"),
        F.sum("run_tokens").cast("long").alias("shared_tokens_ub"),
    )


# ---------------------------------------------------------------------------
# Balanced shard assignment: exact round-robin over a deterministic
# hash order, with per-shard token-mass audit.

_N_SHARDS = 16
# The oracle recomputes the operator's hash, so the two can't drift.
from declarativeml_spark.operators.layout import LEHMER_ID as _LEHMER_FMT  # noqa: E402

_LEHMER_DOC = _LEHMER_FMT.format(id="doc_id")


@query(
    "corpus_shard_assignment",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {_LEHMER_DOC} AS h,
               CAST(len({_TOKS_D}) AS BIGINT) AS n_toks
        FROM documents
    ),
    r AS (
        SELECT n_toks,
               ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rnk
        FROM d
    ),
    agg AS (
        SELECT CAST((rnk - 1) % {_N_SHARDS} AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS tok_sum
        FROM r GROUP BY 1
    )
    SELECT shard, n_docs, tok_sum,
           {sql_sround(
               'CAST(tok_sum AS DOUBLE)'
               ' / (SELECT CAST(SUM(tok_sum) AS DOUBLE) FROM agg)', 6)}
             AS tok_share
    FROM agg
    """,
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to one of N output shards by exact
    round-robin over a deterministic Lehmer-hash order, and audit the
    balance by token mass per shard — the plan a 100 TB corpus writer
    follows to emit evenly-sized output files.

    Scale: the global rank comes from the two-phase distributed
    cumsum (``operators/ordered.py``): range-repartition on the hash
    key, per-partition totals (one driver-side row per partition — a
    constant), then a within-partition window. No single-partition
    global sort exists anywhere in the plan. Hash order makes the
    round-robin statistically independent of document length, so
    shards balance in both doc count (exactly, ±1) and token mass
    (statistically); the query output *is* the audit of that claim.
    Restart-safe: the Lehmer hash is a pure function of doc_id, so a
    re-run assigns identical shards (rand() would not).
    """
    from declarativeml_spark.operators.layout import shard_round_robin

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"CAST(size({_TOKS_S}) AS BIGINT)").alias("n_toks"),
    )
    agg = (
        shard_round_robin(d, n_shards=_N_SHARDS, id_col="doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tok_sum"),
        )
    )
    total = agg.agg(F.sum("tok_sum").cast("double").alias("all_toks"))
    return agg.crossJoin(F.broadcast(total)).select(
        "shard",
        "n_docs",
        "tok_sum",
        sround(F.col("tok_sum").cast("double") / F.col("all_toks")).alias(
            "tok_share"
        ),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language.

_BPE_S = r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"
_BPE_D = r"regexp_extract_all(text, '\w+|[^\w\s]')"


@query(
    "tokenizer_fertility",
    oracle=rf"""
    WITH d AS (
        SELECT lang,
               len({_TOKS_D}) AS n_words,
               len({_BPE_D}) AS n_sub,
               strlen(text) AS n_bytes
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_sub) AS BIGINT) AS total_subwords,
           {sql_sround(
               'CAST(SUM(n_sub) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)',
               6)} AS fertility,
           {sql_sround(
               'CAST(SUM(n_bytes) AS DOUBLE) / CAST(SUM(n_sub) AS DOUBLE)',
               6)} AS bytes_per_subword
    FROM d GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens per whitespace word) and
    bytes per subword, per language — the metric a multilingual
    pipeline reads to spot languages a vocab under-serves (high
    fertility = more sequence length spent per word).

    Scale: per-row regex counts (JVM codegen, Java∩RE2-safe ASCII
    classes), integer sums — shuffle carries one row per language.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.expr(f"size({_TOKS_S})").alias("n_words"),
        F.expr(f"size({_BPE_S})").alias("n_sub"),
        F.octet_length("text").alias("n_bytes"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_sub").cast("long").alias("total_subwords"),
        sround(
            F.sum("n_sub").cast("double") / F.sum("n_words").cast("double")
        ).alias("fertility"),
        sround(
            F.sum("n_bytes").cast("double") / F.sum("n_sub").cast("double")
        ).alias("bytes_per_subword"),
    )


# ---------------------------------------------------------------------------
# Lakehouse small-file compaction planner (metadata-plane op).

_FILE_BUCKETS = 97
_TARGET_BYTES = 64 * 4096


@query(
    "lakehouse_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS part,
               CAST(o_orderkey % {_FILE_BUCKETS} AS BIGINT) AS file_id,
               CAST(COUNT(*) * 4096 AS BIGINT) AS bytes
        FROM orders GROUP BY 1, 2
    ),
    seq AS (
        SELECT part, file_id, bytes,
               CAST(SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - bytes AS BIGINT) AS excl_cum
        FROM files
    ),
    g AS (
        SELECT part,
               CAST(floor(CAST(excl_cum AS DOUBLE) / {_TARGET_BYTES})
                    AS BIGINT) AS grp_id,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS grp_bytes
        FROM seq GROUP BY 1, 2
    )
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_files) AS BIGINT) AS n_files,
           CAST(SUM(grp_bytes) AS BIGINT) AS total_bytes,
           CAST(MAX(grp_bytes) AS BIGINT) AS max_group_bytes,
           CAST(MAX(n_files) AS BIGINT) AS max_group_files
    FROM g GROUP BY part
    """,
)
def lakehouse_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: bin-pack each table
    partition's files into merge groups of ~``_TARGET_BYTES`` by
    next-fit over a running byte sum — the OPTIMIZE/maintenance op
    every long-lived lakehouse table needs once streaming writers
    have fragmented it.

    The file inventory is simulated from ``orders`` (one "file" per
    (month, orderkey-bucket), bytes ∝ row count) because the engine's
    contract is the *plan*, not the filesystem: a real deployment
    feeds the table manifest in as this same (part, file_id, bytes)
    frame.

    Scale: this is a metadata-plane operator — input cardinality is
    the file count (~millions of rows for a 100 TB table), not the
    data size. The running sum windows within one table partition
    only (never a global sort), and next-fit means each group
    overshoots the target by at most one file — the same guarantee
    Delta/Iceberg OPTIMIZE bin-packing gives.
    """
    from declarativeml_spark.operators.layout import (
        compaction_groups,
        simulated_file_manifest,
    )

    files = simulated_file_manifest(
        load_table(spark, sf_dir, "orders"), n_buckets=_FILE_BUCKETS
    )
    g = (
        compaction_groups(files, _TARGET_BYTES)
        .groupBy("part", "grp_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("grp_bytes"),
        )
    )
    return g.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_files").cast("long").alias("n_files"),
        F.sum("grp_bytes").cast("long").alias("total_bytes"),
        F.max("grp_bytes").alias("max_group_bytes"),
        F.max("n_files").alias("max_group_files"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroid + cosine dispersion.

_DOT_D = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
)
_NRM_D = "sqrt(list_sum(list_transform({v}, x -> x * x)))"


@query(
    "embedding_centroid_dispersion",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings
    ),
    dims AS (
        SELECT label, CAST(i - 1 AS INTEGER) AS dim, vec[i] AS v
        FROM (SELECT label, vec, unnest(range(1, len(vec) + 1)) AS i
              FROM e)
    ),
    cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
                 AS cd
        FROM dims GROUP BY label, dim
    ),
    carr AS (
        SELECT label, list(cd ORDER BY dim) AS cvec FROM cent GROUP BY label
    ),
    j AS (
        SELECT e.vec_id, e.label,
               {_DOT_D.format(a="e.vec", b="c.cvec")}
                 / ({_NRM_D.format(v="e.vec")} * {_NRM_D.format(v="c.cvec")})
                 AS cos
        FROM e JOIN carr c USING (label)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {sql_sround(
               'CAST(SUM(CAST(cos AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)',
               6)} AS avg_cos,
           {sql_sround('MIN(cos)', 6)} AS min_cos
    FROM j GROUP BY label
    """,
)
def embedding_centroid_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion: mean and minimum cosine of each
    vector to its label centroid — the audit run before choosing a
    semantic-dedup or clustering threshold (a label whose min_cos is
    low holds outliers a threshold would mis-handle).

    Scale: the exploded (label, dim) aggregation shuffles one partial
    per (label, dim) — bounded by labels × dim, not by corpus size —
    and the assembled centroid table (labels rows) broadcasts into
    the scoring join, so corpus vectors never shuffle. Per-dim means
    aggregate through DECIMAL(38,12) (exact, order-free); per-vector
    cosine is the left-fold ``aggregate`` ↔ ``list_sum`` pairing
    proven deterministic cross-engine by operators/dedup.py.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("vec")
    )
    dims = emb.select("label", F.posexplode("vec").alias("dim", "v"))
    cent = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(38,12)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("cd")
    )
    carr = cent.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, cd))), s -> s.cd)"
        ).alias("cvec")
    )
    cos = F.expr(_DOT.format(a="vec", b="cvec")) / (
        F.expr(_NORM.format(a="vec")) * F.expr(_NORM.format(a="cvec"))
    )
    j = emb.join(F.broadcast(carr), "label").withColumn("cos", cos)
    return j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        sround(
            F.sum(F.col("cos").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_cos"),
        sround(F.min("cos")).alias("min_cos"),
    )


# ---------------------------------------------------------------------------
# Cross-series correlation of hourly event-type counts.


@query(
    "events_hourly_corr",
    oracle=f"""
    WITH hourly AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    hours AS (SELECT DISTINCT hour FROM hourly),
    types AS (SELECT DISTINCT event_type FROM hourly),
    grid AS (
        SELECT h.hour, t.event_type, COALESCE(x.n, 0) AS n
        FROM hours h CROSS JOIN types t
        LEFT JOIN hourly x
          ON x.hour = h.hour AND x.event_type = t.event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(a.n) AS BIGINT) AS sx,
               CAST(SUM(b.n) AS BIGINT) AS sy,
               CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
               CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
               CAST(SUM(b.n * b.n) AS BIGINT) AS syy
        FROM grid a JOIN grid b
          ON a.hour = b.hour AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_hours,
           CASE WHEN n_hours * sxx - sx * sx = 0
                  OR n_hours * syy - sy * sy = 0 THEN NULL
                ELSE {sql_sround(
                    'CAST(n_hours * sxy - sx * sy AS DOUBLE)'
                    ' / (sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE))'
                    ' * sqrt(CAST(n_hours * syy - sy * sy AS DOUBLE)))', 6)}
           END AS pearson_r
    FROM pairs
    """,
)
def events_hourly_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event-type hourly
    count series (zero-filled on the dense hour×type grid) — the
    cross-metric co-movement scan behind alerting and capacity
    dashboards.

    All moments (Σx, Σy, Σxy, Σx², Σy²) are exact integer sums, so
    shuffle order cannot perturb them; the correlation itself is a
    handful of IEEE ops on those integers — bit-identical
    cross-engine (built-in ``corr()`` aggregates doubles in shuffle
    order and would not be).

    Scale: the raw table collapses to the (hours × types) count grid
    in one map-side-combinable aggregation; the pair join and the
    corr math run entirely on that aggregate plane.
    """
    # NOT persisted (r12 revert of the r11 persist): the hourly
    # aggregate feeds the hour spine, type spine and grid join, but
    # its consumers are identical subtrees that ReuseExchange dedupes
    # at execution — the sf1 A/B measured the persist 2x slower
    # (on 2.32 s / off 1.20 s median), sf0.1 a wash
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    hours = hourly.select("hour").distinct()
    types = hourly.select("event_type").distinct()
    # the grid is aggregate-plane (hours × types); broadcast the tiny
    # sides so the densify and the pair self-join never sort-merge
    grid = (
        hours.crossJoin(F.broadcast(types))
        .join(F.broadcast(hourly), ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    a = grid.select(
        F.col("hour").alias("h"),
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
    )
    b = grid.select(
        F.col("hour").alias("h"),
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(F.broadcast(b), "h")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("na").cast("long").alias("sx"),
            F.sum("nb").cast("long").alias("sy"),
            F.sum(F.col("na") * F.col("nb")).cast("long").alias("sxy"),
            F.sum(F.col("na") * F.col("na")).cast("long").alias("sxx"),
            F.sum(F.col("nb") * F.col("nb")).cast("long").alias("syy"),
        )
    )
    varx = F.col("n_hours") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n_hours") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (
        F.col("n_hours") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    r = num / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_hours",
        F.when((varx == 0) | (vary == 0), F.lit(None)).otherwise(
            sround(r)
        ).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Top session entry paths (first three event types per session).


@query(
    "events_top_paths",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    ),
    ranked AS (
        SELECT user_id, sid, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn
        FROM sess
    ),
    paths AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM ranked WHERE rn <= 3 GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common session entry paths: the ordered first three event
    types of each 30-min-gap session, ranked by session count — the
    product-analytics path query that tells you how sessions begin.

    Scale: one shuffle on user_id; session assignment, ranking, and
    the first-3 cut all window within the user partition. Only
    (path, 1) pairs leave it, and the final top-20 is a
    TakeOrdered over the tiny path-count aggregate. Ties break on
    the path string, so LIMIT picks identical rows cross-engine.
    """
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", epoch_us("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap > 1_800_000_000, 1)
        .when(F.lag("ts_us").over(w).isNull(), 1)
        .otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    first3 = sess.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("user_id", "sid").agg(
        F.expr(
            "array_join(transform(array_sort("
            "collect_list(struct(ts_us, event_id, event_type))),"
            " s -> s.event_type), '>')"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Top principal component of the embedding corpus via deterministic
# power iteration over the covariance matrix.

_PCA_T = 8  # fixed iteration count: determinism over adaptivity


def _pca_oracle() -> str:
    """Unrolled power iteration in DuckDB, mirroring the Spark loop
    step for step: same DECIMAL(38,12) product sums (exact,
    order-independent), same fixed iteration count, same scalar
    normalizations — so even the eigenvector's sign matches.

    Every multiply-referenced CTE is MATERIALIZED: DuckDB inlines
    plain CTEs per reference, and an 8-deep chain whose steps each
    reference their predecessor twice would otherwise re-expand (and
    re-scan the parquet) exponentially."""
    ctes = []
    prev = "v0"
    for t in range(1, _PCA_T + 1):
        ctes.append(
            f"u{t} AS MATERIALIZED (SELECT c.i,"
            f" CAST(SUM(CAST(c.c * r.val AS DECIMAL(38,12))) AS DOUBLE)"
            f" AS val FROM cov c JOIN {prev} r ON r.i = c.j GROUP BY c.i)"
        )
        ctes.append(
            f"n{t} AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(val * val"
            f" AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM u{t})"
        )
        ctes.append(
            f"v{t} AS MATERIALIZED (SELECT i,"
            f" val / (SELECT nrm FROM n{t}) AS val FROM u{t})"
        )
        prev = f"v{t}"
    loads = ",\n           ".join(
        sql_sround(f"(SELECT val FROM v{_PCA_T} WHERE i = {k})", 6)
        + f" AS load_{k}"
        for k in range(4)
    )
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
    t1 AS MATERIALIZED (SELECT vec, unnest(range(1, len(vec) + 1)) AS i FROM e),
    mu AS MATERIALIZED (
        SELECT CAST(i - 1 AS INTEGER) AS i,
               CAST(CAST(SUM(CAST(floor(vec[i] * 1e12 + 0.5) AS BIGINT))
                         AS BIGINT) AS DOUBLE)
                 / 1e12 / (SELECT n FROM cnt) AS m
        FROM t1 GROUP BY 1
    ),
    t2 AS MATERIALIZED (SELECT vec, i, unnest(range(1, len(vec) + 1)) AS j FROM t1),
    s AS MATERIALIZED (
        SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
               CAST(CAST(SUM(CAST(floor(vec[i] * vec[j] * 1e12 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS DOUBLE)
                 AS sij12
        FROM t2 GROUP BY 1, 2
    ),
    cov AS MATERIALIZED (
        SELECT s.i, s.j,
               s.sij12 / 1e12 / (SELECT n FROM cnt) - mi.m * mj.m AS c
        FROM s JOIN mu mi ON mi.i = s.i JOIN mu mj ON mj.i = s.j
    ),
    v0 AS (
        SELECT i, 1.0 / sqrt((SELECT COUNT(*) FROM mu) * 1.0) AS val
        FROM mu
    ),
    {',' .join(ctes)},
    trace AS (
        SELECT CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE) AS tr
        FROM cov WHERE i = j
    )
    SELECT (SELECT n FROM cnt) AS n_vecs,
           {sql_sround(f'(SELECT nrm FROM n{_PCA_T})', 6)} AS eigenvalue,
           {sql_sround(
               f'(SELECT nrm FROM n{_PCA_T}) / (SELECT tr FROM trace)', 6)}
             AS explained_ratio,
           {loads}
    """


@query("embedding_pca_power", oracle=_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: population
    covariance + fixed-count power iteration, entirely as DataFrame
    ops — the variance-structure probe run before choosing PQ/IVF
    dimensions or spotting collapsed embedding dims.

    Determinism: every aggregation (dim means, covariance products,
    mat-vec contractions, norms) goes through DECIMAL(38,12), the
    iteration count is fixed, and each normalization is a single IEEE
    divide — so the result (down to the eigenvector's sign) is
    bit-reproducible and hash-matches an unrolled DuckDB CTE chain,
    the ``nation_trade_pagerank`` pattern applied to linear algebra.

    Scale: the covariance pass emits dim² partials per partition
    (map-side combined; dim-bounded, not data-bounded) from a
    replicate-free double explode — two aggregation jobs total (dim
    means, dim² product sums), each collecting a constant-size
    result. At 100 TB the covariance pass is the only data-scan; a
    deterministic Lehmer sample (as in corpus_mix_sample) caps it
    when an approximation suffices. Everything after the two
    collects is dim-bounded driver math, the ordered.py convention.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("vec")
    )
    t1 = emb.select("vec", F.posexplode("vec").alias("i", "vi"))
    # Exact-and-fast sums: each term rounds to a 1e-12-scaled BIGINT
    # (floor(x*1e12 + 0.5) — one deterministic IEEE sequence both
    # engines share), and BIGINT sums are exact, order-free, and stay
    # in whole-stage codegen — unlike DECIMAL(38,*) aggregation,
    # whose per-row BigDecimal path measured ~10× slower. Overflow
    # bound: |Σ terms| < 9.2e6 × max|term| vectors — far beyond the
    # documented Lehmer-sample cap for the 100 TB case.
    # job 1: per-dim scaled sums + count (count per dim == n rows)
    mu_rows = (
        t1.groupBy("i")
        .agg(
            F.sum(F.expr("CAST(floor(vi * 1e12 + 0.5) AS BIGINT)")).alias(
                "msum"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    n = int(mu_rows[0]["cnt"])
    # float(int) is the nearest double — the same conversion
    # CAST(BIGINT AS DOUBLE) performs in Spark and DuckDB
    mu = {r["i"]: float(r["msum"]) / 1e12 / n for r in mu_rows}
    # job 2: dim² scaled product sums
    t2 = t1.select("i", "vi", F.posexplode("vec").alias("j", "vj"))
    s_rows = (
        t2.groupBy("i", "j")
        .agg(
            F.sum(
                F.expr("CAST(floor(vi * vj * 1e12 + 0.5) AS BIGINT)")
            ).alias("ssum")
        )
        .collect()
    )
    # population covariance, the oracle's exact IEEE op sequence
    C = {
        (r["i"], r["j"]): float(r["ssum"]) / 1e12 / n
        - mu[r["i"]] * mu[r["j"]]
        for r in s_rows
    }
    # The iteration runs driver-side on the dim²-double matrix. The
    # DECIMAL semantics are replicated exactly with Python's decimal
    # module (shortest-repr Decimal, scale-12 HALF_UP quantize, exact
    # sum, nearest-double conversion) — the same arithmetic Spark's
    # cast(… as decimal(38,12)) and DuckDB's CAST perform (both go
    # through the shortest round-trip decimal string; the exact binary
    # expansion Decimal(float) rounds HALF_UP ties the other way,
    # e.g. 2.5e-12 → 2E-12 vs the engines' 3E-12), so the hash-parity
    # with the unrolled oracle is preserved.
    import decimal
    import math

    dim = max(i for i, _ in C) + 1
    q12 = decimal.Decimal(1).scaleb(-12)

    def dec12(x: float) -> decimal.Decimal:
        return decimal.Decimal(repr(x)).quantize(
            q12, rounding=decimal.ROUND_HALF_UP
        )

    v_vals = {i: 1.0 / math.sqrt(dim * 1.0) for i in range(dim)}
    nrm = None
    for _ in range(_PCA_T):
        u = {
            i: float(
                sum(dec12(C[(i, j)] * v_vals[j]) for j in range(dim))
            )
            for i in range(dim)
        }
        nrm = math.sqrt(float(sum(dec12(u[i] * u[i]) for i in range(dim))))
        v_vals = {i: u[i] / nrm for i in range(dim)}
    tr = float(sum(dec12(C[(i, i)]) for i in range(dim)))
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_vecs"),
        sround(F.lit(nrm)).alias("eigenvalue"),
        sround(F.lit(nrm / tr)).alias("explained_ratio"),
        *[
            sround(F.lit(v_vals[k])).alias(f"load_{k}")
            for k in range(4)
        ],
    )


# ---------------------------------------------------------------------------
# Categorical column profile: cardinality, mode, Shannon entropy.


@query(
    "orders_categorical_profile",
    oracle=f"""
    WITH c AS (
        SELECT 'o_orderstatus' AS column_name, o_orderstatus AS val,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority,
               CAST(COUNT(*) AS BIGINT)
        FROM orders GROUP BY 2
    ),
    t AS (
        SELECT column_name, val, c,
               CAST(SUM(c) OVER (PARTITION BY column_name) AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY column_name
                                  ORDER BY c DESC, val) AS rn
        FROM c
    ),
    e AS (
        SELECT column_name,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(CAST(
                   -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                   AS DECIMAL(38,12))) AS DOUBLE) AS ent
        FROM t GROUP BY column_name
    )
    SELECT e.column_name, e.n_distinct,
           top.val AS top_value, top.c AS top_count,
           {sql_sround('e.ent', 6)} AS entropy_nats
    FROM e JOIN (SELECT column_name, val, c FROM t WHERE rn = 1) top
      USING (column_name)
    """,
)
def orders_categorical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical data-quality profile of the orders dimensions:
    distinct cardinality, modal value, and Shannon entropy (nats) per
    column — the complement to the numeric profiler
    (``lineitem_numeric_profile``) a schema-drift audit reads before
    trusting a column as a partition or stratification key.

    Scale: one counting aggregation per column collapses the table to
    its value histogram; every subsequent op (window rank, entropy
    sum) runs on the values×columns aggregate plane. Entropy terms
    are per-row IEEE (divide, ln, multiply) and aggregate through
    DECIMAL(38,12); ln() is the proven cross-engine op
    (source_length_drift_psi).
    """
    from declarativeml_spark.operators.caching import track_persist

    o = load_table(spark, sf_dir, "orders")
    counts = None
    for col in ("o_orderstatus", "o_orderpriority"):
        part = o.groupBy(F.col(col).alias("val")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ).select(F.lit(col).alias("column_name"), "val", "c")
        counts = part if counts is None else counts.unionByName(part)
    # persisted: the value-histogram plane feeds BOTH the entropy
    # aggregation and the modal-value filter — unpersisted, every
    # per-column counting scan ran twice (4 scans); the cached plane
    # is distinct-values sized
    counts = track_persist(counts)
    wp = Window.partitionBy("column_name")
    t = counts.withColumn(
        "n", F.sum("c").over(wp).cast("long")
    ).withColumn(
        "rn",
        F.row_number().over(wp.orderBy(F.col("c").desc(), "val")),
    )
    p = F.col("c").cast("double") / F.col("n")
    e = t.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum((-p * F.log(p)).cast("decimal(38,12)"))
        .cast("double")
        .alias("ent"),
    )
    top = t.where(F.col("rn") == 1).select(
        "column_name", F.col("val").alias("top_value"),
        F.col("c").alias("top_count"),
    )
    return e.join(F.broadcast(top), "column_name").select(
        "column_name",
        "n_distinct",
        "top_value",
        "top_count",
        sround(F.col("ent")).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Winsorized (percentile-clipped) robust price statistics.


@query(
    "lineitem_winsorized_stats",
    oracle=f"""
    WITH cut AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.01) AS lo,
               quantile_cont(l_extendedprice, 0.99) AS hi
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT l.l_returnflag, l.l_extendedprice AS p, cut.lo, cut.hi
        FROM lineitem l JOIN cut USING (l_returnflag)
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN p < lo OR p > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           {sql_sround(
               'CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)',
               6)} AS mean_raw,
           {sql_sround(
               'CAST(SUM(CAST(least(greatest(p, lo), hi)'
               ' AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)', 6)}
             AS mean_winsorized
    FROM j GROUP BY l_returnflag
    """,
)
def lineitem_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price statistics per return flag: exact p01/p99
    cutoffs, then the mean with tails clipped to them — the robust
    central-tendency readout outlier-heavy value columns need before
    thresholds or budgets are set on their mean.

    Two-pass shape (cf. quality_budget_selection): the cutoff pass
    reduces to one row per group, broadcast back into a shuffle-free
    clip-and-aggregate scan. Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the interpolation definition
    (segment_price_percentiles precedent), and both means aggregate
    through DECIMAL so shuffle order cannot move them.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cut = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    j = li.select("l_returnflag", F.col("l_extendedprice").alias("p")).join(
        F.broadcast(cut), "l_returnflag"
    )
    clipped = F.expr("least(greatest(p, lo), hi)")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("p") < F.col("lo")) | (F.col("p") > F.col("hi")), 1)
            .otherwise(0)
        ).cast("long").alias("n_clipped"),
        sround(
            F.sum(F.col("p").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_raw"),
        sround(
            F.sum(clipped.cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles).


@query(
    "customer_rfm_segments",
    oracle=f"""
    WITH maxd AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
    rfm AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(o_orderdate), (SELECT d0 FROM maxd))
                    AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, recency_days, frequency, monetary,
               NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r,
               NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
               NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
        FROM rfm
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_sround(
               'CAST(SUM(CAST(monetary AS DECIMAL(38,6))) AS DOUBLE)'
               ' / COUNT(*)', 6)} AS avg_monetary
    FROM scored GROUP BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile scores for recency, frequency, and
    monetary value per customer, aggregated to segment counts — the
    standard customer-base health matrix.

    Determinism: every NTILE orders by a unique (metric, custkey)
    pair, so quartile boundaries are identical cross-engine.

    Scale: the per-customer RFM pass is one map-side-combinable
    aggregation. The three quartile scores use ordered.py's
    ``ntile_assign_multi`` — exact NTILE via collected boundary keys
    (two bounded jobs for all three orderings, over one tagged union
    of narrow key projections) and a shuffle-free comparison
    expression. No partition-less WindowExec
    anywhere, and the customer plane itself is never re-shuffled for
    bucket assignment: three NTILEs over three different orderings
    cost zero data-plane exchanges. The segment matrix is 4×4×4.
    """
    from declarativeml_spark.operators.ordered import ntile_assign_multi

    o = load_table(spark, sf_dir, "orders")
    d0 = o.agg(F.max("o_orderdate").alias("d0"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(d0))
        .select(
            "o_custkey",
            F.datediff(F.col("d0"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # Materialize the (one-row-per-customer) aggregate once: the
    # boundary scan's tagged union reads it three times, and an
    # unmaterialized frame would re-derive the orders aggregation
    # per leg. The boundary partitioning inherits the AQE-coalesced
    # partition count of the materialized plane (data-proportional
    # at scale) with a small floor for local task parallelism.
    # lazy: the boundary scan's first job materializes the checkpoint;
    # every later read (the extract pull, the final agg) hits the same
    # frozen blocks — one job fewer than an eager freeze.
    rfm = rfm.localCheckpoint(eager=False)
    scored = ntile_assign_multi(
        rfm,
        [
            ("recency_days", "asc", "r"),
            ("frequency", "desc", "f"),
            ("monetary", "desc", "m"),
        ],
        tie="o_custkey",
        k=4,
        num_partitions=max(8, rfm.rdd.getNumPartitions()),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        sround(
            F.sum(F.col("monetary").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix with lift.


@query(
    "events_transition_matrix",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM trans),
    margins_from AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS nf FROM trans GROUP BY 1
    ),
    margins_to AS (
        SELECT to_type, CAST(SUM(n) AS BIGINT) AS nt FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n,
           {sql_sround(
               'CAST(t.n AS DOUBLE) / mf.nf', 6)} AS p_next,
           {sql_sround(
               '(CAST(t.n AS DOUBLE) / tt.total)'
               ' / ((CAST(mf.nf AS DOUBLE) / tt.total)'
               ' * (CAST(mt.nt AS DOUBLE) / tt.total))', 6)} AS lift
    FROM trans t
    JOIN margins_from mf USING (from_type)
    JOIN margins_to mt USING (to_type)
    CROSS JOIN tot tt
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for each (from, to) event-type pair, the transition
    count, the conditional next-step probability, and the lift
    against independence — the sequence-structure scan behind
    next-action models and funnel design.

    Scale: one shuffle on user_id; LEAD windows within the user
    partition only. Everything downstream (margins, total, lift)
    runs on the types×types aggregate, joined with broadcast margins.
    """
    from declarativeml_spark.operators.caching import track_persist

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    # persisted: the transition counts (full events scan + LEAD
    # window + shuffle) feed total/margins/join — unpersisted the
    # chain ran 4x; the cached plane is the tiny types^2 matrix
    trans = track_persist(
        seq.groupBy("from_type", "to_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    tot = trans.agg(F.sum("n").cast("long").alias("total"))
    mf = trans.groupBy("from_type").agg(F.sum("n").cast("long").alias("nf"))
    mt = trans.groupBy("to_type").agg(F.sum("n").cast("long").alias("nt"))
    j = (
        trans.join(F.broadcast(mf), "from_type")
        .join(F.broadcast(mt), "to_type")
        .crossJoin(F.broadcast(tot))
    )
    p_next = F.col("n").cast("double") / F.col("nf")
    lift = (F.col("n").cast("double") / F.col("total")) / (
        (F.col("nf").cast("double") / F.col("total"))
        * (F.col("nt").cast("double") / F.col("total"))
    )
    return j.select(
        "from_type",
        "to_type",
        "n",
        sround(p_next).alias("p_next"),
        sround(lift).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Dedup survivorship: which copy of each duplicate group to keep.


@query(
    "corpus_dedup_survivorship",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source,
               CAST(len({_TOKS_D}) AS BIGINT) AS n_toks,
               {T.FINGERPRINT_DUCK.format(text="text")} AS f
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, n_toks, f,
               ROW_NUMBER() OVER (PARTITION BY f
                                  ORDER BY n_toks DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY f) AS grp_n
        FROM fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS BIGINT)
             AS dropped_tokens,
           CAST(SUM(CASE WHEN grp_n > 1 AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS contested_survivors
    FROM ranked GROUP BY source
    """,
)
def corpus_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection for exact-duplicate groups: within each
    normalized-text fingerprint group keep the longest copy (ties to
    the lowest doc_id), and report kept/dropped volume per source —
    the policy step between *detecting* duplicates and *writing* the
    deduplicated corpus, where keep-the-best beats keep-the-first.

    Scale: one fingerprint shuffle (16-byte key, like dedup_exact);
    the survivor rank windows within a fingerprint group only.
    ``contested_survivors`` counts groups that actually had a
    contest — the audit number for how much the keep-best policy
    mattered.
    """
    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({_TOKS_S}) AS BIGINT)").alias("n_toks"),
        F.expr(T.FINGERPRINT_SPARK.format(text="text")).alias("f"),
    )
    wf = Window.partitionBy("f")
    ranked = fp.withColumn(
        "rn",
        F.row_number().over(wf.orderBy(F.col("n_toks").desc(), "doc_id")),
    ).withColumn("grp_n", F.count(F.lit(1)).over(wf))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("dropped_tokens"),
        F.sum(
            F.when((F.col("grp_n") > 1) & (F.col("rn") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("contested_survivors"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each document is first-seen vs echo.


@query(
    "text_ngram_novelty",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_D} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               md5(array_to_string(t[(pos + 1):(pos + 4)], ' ')) AS fp
        FROM (SELECT doc_id, t,
                     unnest(range(0, len(t) - 3)) AS pos
              FROM toks WHERE len(t) >= 4)
    ),
    owner AS (
        SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM grams
        GROUP BY fp
    ),
    flags AS (
        SELECT g.doc_id,
               CASE WHEN o.first_doc < g.doc_id THEN 1 ELSE 0 END AS echoed
        FROM grams g JOIN owner o USING (fp)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(echoed) AS BIGINT) AS echoed_grams,
           {sql_sround(
               '1.0 - CAST(SUM(echoed) AS DOUBLE) / COUNT(*)', 6)}
             AS novelty
    FROM flags GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 4-gram novelty against everything that came
    before it (by doc_id order): the share of a document's word
    4-grams whose first corpus occurrence is the document itself —
    the incremental-information curve that tells a crawler when a
    source has stopped contributing new text.

    Scale: same fingerprint economics as dedup_substring_runs — one
    16-byte-key aggregation finds each gram's first owner (MIN is
    map-side combinable), one fingerprint join flags echoes, and the
    per-doc ratio is a counting aggregation. Attribution by MIN
    doc_id is deterministic and order-free, so no global scan order
    exists to coordinate.
    """
    toks = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", F.expr(_TOKS_S).alias("t"))
        .where(F.expr("size(t) >= 4"))
    )
    from declarativeml_spark.operators.caching import track_persist

    # persisted: the md5 4-gram emitter feeds BOTH the first-owner
    # aggregation and the echo join — unpersisted, the tokenize + md5
    # of every gram ran twice (r11 plan audit, the
    # dedup_substring_runs pattern)
    grams = track_persist(
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 4),"
                    " i -> md5(concat_ws(' ', slice(t, i + 1, 4))))"
                )
            ).alias("fp"),
        )
    )
    owner = grams.groupBy("fp").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    flags = grams.join(owner, "fp").select(
        "doc_id",
        F.when(F.col("first_doc") < F.col("doc_id"), 1)
        .otherwise(0)
        .alias("echoed"),
    )
    return flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("echoed").cast("long").alias("echoed_grams"),
        sround(
            F.lit(1.0)
            - F.sum("echoed").cast("double") / F.count(F.lit(1))
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average event value per user (interval arithmetic).


@query(
    "events_time_weighted_value",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, value, epoch_us(ts) AS ts_us,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_us
        FROM events
    ),
    seg AS (
        SELECT user_id, value,
               CAST(next_us - ts_us AS BIGINT) AS gap_us
        FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(gap_us) AS BIGINT) AS span_us,
           {sql_sround(
               'CAST(SUM(CAST(value * CAST(gap_us AS DOUBLE)'
               ' AS DECIMAL(38,6))) AS DOUBLE)'
               ' / CAST(SUM(gap_us) AS DOUBLE)', 6)} AS twa_value
    FROM seg GROUP BY user_id
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's ``value`` signal: every
    reading holds until the next one, so readings are weighted by
    how long they were current — the correct average for sampled
    gauges (utilization, price, balance), where the arithmetic mean
    over-weights bursts of rapid updates.

    Scale: one user_id shuffle; LEAD windows within the user
    partition. Weights are exact integer microsecond gaps; the
    weighted sum goes through DECIMAL so shuffle order cannot move
    it; the final divide is one IEEE op.
    """
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", epoch_us("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.withColumn("next_us", F.lead("ts_us").over(w))
        .where(F.col("next_us").isNotNull())
        .select(
            "user_id",
            "value",
            (F.col("next_us") - F.col("ts_us")).cast("long").alias("gap_us"),
        )
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("gap_us").cast("long").alias("span_us"),
        sround(
            F.sum(
                (F.col("value") * F.col("gap_us").cast("double")).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
            / F.sum("gap_us").cast("double")
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# Seasonal index decomposition of monthly order revenue.


@query(
    "orders_seasonality_index",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
               CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS rev
        FROM orders GROUP BY 1, 2
    ),
    yearly AS (
        SELECT y,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*) AS yavg
        FROM monthly GROUP BY y
    ),
    ratio AS (
        SELECT m.mo, m.y, m.rev / v.yavg AS r, m.rev
        FROM monthly m JOIN yearly v USING (y)
    )
    SELECT mo AS month,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           {sql_sround(
               'CAST(SUM(CAST(r AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)',
               6)} AS seasonal_index,
           {sql_sround(
               'CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)',
               6)} AS avg_revenue
    FROM ratio GROUP BY mo
    """,
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal indices for order revenue: each month's
    revenue relative to its year's monthly average, averaged across
    years — the multiplicative-seasonality readout (index > 1 = a
    strong month) behind demand planning and anomaly baselines.

    Scale: the raw table collapses to (year, month) in one
    map-side-combinable pass; the year-normalization join and the
    index average run on that ~n_years×12-row aggregate. No moving
    window, no global sort — the classic decomposition re-expressed
    as two tiny joins.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("rev")
    )
    yearly = monthly.groupBy("y").agg(
        (
            F.sum(F.col("rev").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("yavg")
    )
    ratio = monthly.join(F.broadcast(yearly), "y").select(
        "mo", (F.col("rev") / F.col("yavg")).alias("r"), "rev"
    )
    return ratio.groupBy(F.col("mo").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_years"),
        sround(
            F.sum(F.col("r").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal_index"),
        sround(
            F.sum(F.col("rev").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_revenue"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS revenue trend (exact-moment linear regression).


@query(
    "nation_revenue_trend",
    oracle=f"""
    WITH monthly AS (
        SELECT n_name,
               CAST(date_part('year', o_orderdate) * 12
                    + date_part('month', o_orderdate) - 1 AS BIGINT) AS mx,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(mx) AS BIGINT) AS sx,
               CAST(SUM(mx * mx) AS BIGINT) AS sxx,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rev * CAST(mx AS DOUBLE) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxy
        FROM monthly GROUP BY n_name
    )
    SELECT n_name, k AS n_months,
           {sql_sround(
               '(k * sxy - sx * sy)'
               ' / CAST(k * sxx - sx * sx AS DOUBLE)', 4)}
             AS slope_per_month,
           {sql_sround('sy / k', 4)} AS avg_monthly_revenue
    FROM m WHERE k * sxx - sx * sx <> 0
    """,
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares revenue trend per customer nation:
    slope of monthly revenue against a month index, from exact
    moments — is this market growing and how fast, the per-group
    regression every BI layer ships.

    Determinism: x moments (Σx, Σx²) are exact integers; y moments
    aggregate through DECIMAL; the slope is a handful of IEEE ops on
    those — the events_hourly_corr recipe applied to regression
    (built-in regr_slope aggregates doubles in shuffle order and
    would not hash-match).

    Scale: the fact join collapses to (nation, month) in one pass
    with broadcast dims; the regression math runs on that
    nations×months aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(na), c.c_nationkey == na.n_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mx"),
        )
        .agg(F.sum(rev).cast("double").alias("rev"))
    )
    m = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("mx").cast("long").alias("sx"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("sxx"),
        F.sum(F.col("rev").cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum(
            (F.col("rev") * F.col("mx").cast("double")).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sxy"),
    )
    det = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / det.cast("double")
    return m.where(det != 0).select(
        "n_name",
        F.col("k").alias("n_months"),
        sround(slope, 4).alias("slope_per_month"),
        sround(F.col("sy") / F.col("k"), 4).alias("avg_monthly_revenue"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit across the fact/dimension graph.


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey))
                AS BIGINT)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each FK
    edge, total rows and rows whose key has no match in the parent —
    the data-quality gate run before trusting joins to be lossless
    (an inner join silently drops orphans; this measures them first).

    Scale: each edge is one LEFT ANTI join counted — small parents
    broadcast, the lineitem→orders edge shuffles only the key
    column. Four edges, four independent counting plans unioned.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")

    def edge(name, child, key, parent, pkey, broadcast_parent):
        # broadcast_parent is True ONLY for true dims (nation);
        # scale-table parents (customer/supplier/orders) pass False —
        # AQE broadcasts them at test scale and falls back to a
        # shuffled anti join at 100 TB instead of aborting.
        p = parent.select(pkey)
        if broadcast_parent:
            p = F.broadcast(p)
        orphans = child.select(key).join(
            p, child[key] == parent[pkey], "left_anti"
        )
        return (
            child.select(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .crossJoin(
                orphans.select(
                    F.count(F.lit(1)).cast("long").alias("n_orphans")
                )
            )
            .select(F.lit(name).alias("fk_edge"), "n_rows", "n_orphans")
        )

    frames = [
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o,
             "o_orderkey", False),
        edge("orders.o_custkey->customer", o, "o_custkey", c,
             "c_custkey", False),
        edge("customer.c_nationkey->nation", c, "c_nationkey", na,
             "n_nationkey", True),
        edge("supplier.s_nationkey->nation", s, "s_nationkey", na,
             "n_nationkey", True),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# ABC classification of parts by cumulative revenue share.


@query(
    "part_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))) * 1000000 AS BIGINT)
                 AS rev_u
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(rev_u) AS BIGINT) AS total FROM rev),
    cum AS (
        SELECT l_partkey, rev_u,
               CAST(SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS c
        FROM rev
    ),
    cls AS (
        SELECT l_partkey, rev_u,
               CASE WHEN CAST(c AS DOUBLE) / tt.total <= 0.8 THEN 'A'
                    WHEN CAST(c AS DOUBLE) / tt.total <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc
        FROM cum CROSS JOIN tot tt
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_u) AS BIGINT) AS rev_micros
    FROM cls GROUP BY abc
    """,
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, split
    at 80% / 95% cumulative share — the Pareto segmentation behind
    stocking policy and catalog pruning.

    Determinism at scale: per-part revenue is DECIMAL-exact and
    scaled to integer micro-units, so the running total is an exact
    BIGINT cumsum — computed with ordered.py's two-phase distributed
    rank (range partitions + broadcast prefix offsets), never a
    single-partition global window; any contiguous range partitioning
    telescopes to the same exact cumsum.
    """
    from declarativeml_spark.operators.ordered import global_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        (
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("rev_u")
    )
    # 8 range partitions: the rank plane is one row per part, tiny
    # next to the lineitem agg that feeds it (values partitioning-
    # independent; scale callers pass more). The grand total is the
    # max cumulative — reading it off the checkpointed cumsum output
    # avoids re-deriving the whole lineitem aggregation for a SUM.
    cum = global_cumsum(
        rev,
        [F.col("rev_u").desc(), F.col("l_partkey")],
        "rev_u",
        out_col="c",
        num_partitions=8,
    )
    tot = cum.agg(F.max("c").cast("long").alias("total"))
    share = F.col("c").cast("double") / F.col("total")
    cls = cum.crossJoin(F.broadcast(tot)).select(
        "rev_u",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc"),
    )
    return cls.groupBy("abc").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_u").cast("long").alias("rev_micros"),
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: part pairs co-ordered, with lift.

_MB_MIN_COUNT = 3
_MB_TOPK = 50


@query(
    "part_pair_affinity",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ),
    freq AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS nf
        FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.pa, p.pb, p.n_both,
           {sql_sround(
               '(CAST(p.n_both AS DOUBLE) / no.n)'
               ' / ((CAST(fa.nf AS DOUBLE) / no.n)'
               ' * (CAST(fb.nf AS DOUBLE) / no.n))', 6)} AS lift
    FROM pairs p
    JOIN freq fa ON fa.l_partkey = p.pa
    JOIN freq fb ON fb.l_partkey = p.pb
    CROSS JOIN n_orders no
    WHERE p.n_both >= {_MB_MIN_COUNT}
    ORDER BY lift DESC, pa, pb
    LIMIT {_MB_TOPK}
    """,
)
def part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs that co-occur in orders,
    ranked by lift over independence (count-floored) — the
    co-purchase signal behind bundling and recommendation baselines.

    Scale: the pair space is Σ items_per_order² — bounded by basket
    size (single digits), NOT corpus-quadratic. r11: pairs are
    generated MAP-SIDE from a per-order sorted item array (one
    orderkey exchange with map-side collect_set dedup) instead of the
    former items self-join — the same pair multiset (sorted array ⇒
    x before y ⇔ pa < pb) for ONE exchange of the heavy plane where
    the old shape paid three (the (ok,pk) distinct shuffle plus both
    self-join sides re-shuffling by ok). Margins join back
    (part-cardinality — AQE picks broadcast at test scale, shuffle at
    real part counts); the final cut is a TakeOrdered over the
    count-floored pair aggregate. Ties break on (pa, pb) so LIMIT
    picks identical rows cross-engine.
    """
    # NOT persisted (r12 revert of the r11 persist): the three
    # consumers sit above the IDENTICAL groupBy(l_orderkey) exchange,
    # which ReuseExchange/AQE stage reuse executes once at runtime —
    # the sf1 A/B measured the persist consistently ~15-25% slower
    # (on 3.6-6.8 s laps vs off 3.0-4.8 s), and caching the
    # order-proportional basket-array plane is exactly the memory
    # pressure guide §5 warns against
    g = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    n_orders = g.agg(F.count(F.lit(1)).cast("long").alias("n"))
    freq = (
        g.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("nf"))
    )
    # within-order pairs from the sorted array: for element i, pair
    # with every later element — basket-size-bounded, no join
    pair_expr = (
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        " y -> struct(x AS pa, y AS pb))))"
    )
    pairs = (
        g.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .where(F.col("n_both") >= _MB_MIN_COUNT)
    )
    j = (
        pairs.join(
            (freq.select(F.col("l_partkey").alias("pa"),
                                    F.col("nf").alias("nfa"))), "pa"
        )
        .join(
            (freq.select(F.col("l_partkey").alias("pb"),
                                    F.col("nf").alias("nfb"))), "pb"
        )
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (F.col("n_both").cast("double") / F.col("n")) / (
        (F.col("nfa").cast("double") / F.col("n"))
        * (F.col("nfb").cast("double") / F.col("n"))
    )
    return (
        j.select("pa", "pb", "n_both", sround(lift).alias("lift"))
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(_MB_TOPK)
    )


# ---------------------------------------------------------------------------
# Growth accounting: daily new / active / cumulative users.


@query(
    "events_new_users_cumulative",
    oracle=f"""
    WITH firstd AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ),
    newd AS (
        SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firstd GROUP BY 1
    ),
    act AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT a.day, COALESCE(n.n_new, 0) AS n_new, a.n_active,
               CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_users
        FROM act a LEFT JOIN newd n ON n.day = a.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_new, n_active, cum_users,
           {sql_sround(
               'CAST(n_new AS DOUBLE) / n_active', 6)} AS pct_new
    FROM cum
    """,
)
def events_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting over the event log: per day, first-seen
    (new) users, distinct active users, the running cumulative user
    base, and the new-user share of activity — the top-of-dashboard
    growth curve.

    Scale: two map-side-combinable aggregations (first-seen day per
    user; distinct actives per day) collapse the log to the day
    plane; the running total is the exact integer two-phase cumsum
    of ordered.py — no single-partition window over data. Days emit
    as ISO strings so both engines hash identical values.
    """
    from declarativeml_spark.operators.ordered import global_cumsum

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    newd = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    act = ev.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("n_active")
    )
    base = act.join(F.broadcast(newd), "day", "left").select(
        "day",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        "n_active",
    )
    cum = global_cumsum(base, [F.col("day")], "n_new", out_col="cum_users")
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        "n_active",
        F.col("cum_users").cast("long").alias("cum_users"),
        sround(F.col("n_new").cast("double") / F.col("n_active")).alias(
            "pct_new"
        ),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud / synthetic-data smell test).


@query(
    "orders_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT c.d AS first_digit, c.n,
           {sql_sround('CAST(c.n AS DOUBLE) / tt.total', 6)}
             AS observed_p,
           {sql_sround(
               'ln(1.0 + 1.0 / c.d) / ln(10.0)', 6)} AS benford_p,
           {sql_sround(
               'CAST(c.n AS DOUBLE) / tt.total'
               ' - ln(1.0 + 1.0 / c.d) / ln(10.0)', 6)} AS deviation
    FROM counts c CROSS JOIN tot tt
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit frequencies against log10(1 + 1/d) — the
    fraud/synthetic-data smell test auditors run on financial
    columns (organic multiplicative data follows Benford; fabricated
    or uniformly-generated data does not).

    Scale: one counting aggregation collapses the table to ≤9 digit
    rows; all probability math runs there. log10 is expressed as
    ln/ln(10) because ln is the proven cross-engine-identical op
    (source_length_drift_psi precedent); log10 itself may differ in
    the last ulp between libms.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("d")
    )
    counts = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    ben = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        "n",
        sround(obs).alias("observed_p"),
        sround(ben).alias("benford_p"),
        sround(obs - ben).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Key-uniqueness audit across the schema's declared primary keys.


@query(
    "key_uniqueness_audit",
    oracle="""
    SELECT 'orders.o_orderkey' AS key_name,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT)
             AS n_distinct
    UNION ALL
    SELECT 'customer.c_custkey',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT c_custkey) FROM customer) AS BIGINT)
    UNION ALL
    SELECT 'part.p_partkey',
           CAST((SELECT COUNT(*) FROM part) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT p_partkey) FROM part) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
                AS BIGINT)
    UNION ALL
    SELECT 'documents.doc_id',
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT doc_id) FROM documents) AS BIGINT)
    """,
)
def key_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit: row count vs distinct key count
    for every declared key — the precondition check for MERGE
    upserts, CDC compaction, and any join that assumes the key is a
    key (a duplicated key silently fans joins out).

    Scale: each check is one two-phase distinct count; shuffles carry
    key columns only. Five keys, five independent counting plans
    unioned.
    """

    def check(name, table, cols):
        t = load_table(spark, sf_dir, table)
        return (
            t.select(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .crossJoin(
                t.select(*cols)
                .distinct()
                .select(F.count(F.lit(1)).cast("long").alias("n_distinct"))
            )
            .select(F.lit(name).alias("key_name"), "n_rows", "n_distinct")
        )

    frames = [
        check("orders.o_orderkey", "orders", ["o_orderkey"]),
        check("customer.c_custkey", "customer", ["c_custkey"]),
        check("part.p_partkey", "part", ["p_partkey"]),
        check(
            "lineitem.(l_orderkey,l_linenumber)",
            "lineitem",
            ["l_orderkey", "l_linenumber"],
        ),
        check("documents.doc_id", "documents", ["doc_id"]),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# Deterministic multivariate OLS: price ~ quantity + discount,
# trained from exact moments via shared-text Cramer expressions.

# The closed-form solve is emitted from ONE set of expression strings
# used verbatim by both engines, so every IEEE op sequence is
# identical by construction (not by convention).
_OLS_NF = "CAST(n AS DOUBLE)"
_OLS_DET = (
    "({a00})*(({a11})*({a22})-({a12})*({a21}))"
    " - ({a01})*(({a10})*({a22})-({a12})*({a20}))"
    " + ({a02})*(({a10})*({a21})-({a11})*({a20}))"
)


def _ols_exprs() -> dict[str, str]:
    A = [[_OLS_NF, "sq", "sd"], ["sq", "sqq", "sqd"], ["sd", "sqd", "sdd"]]
    b = ["sy", "sqy", "sdy"]

    def det(m):
        return _OLS_DET.format(
            a00=m[0][0], a01=m[0][1], a02=m[0][2],
            a10=m[1][0], a11=m[1][1], a12=m[1][2],
            a20=m[2][0], a21=m[2][1], a22=m[2][2],
        )

    def repl(col):
        return [
            [b[r] if c == col else A[r][c] for c in range(3)]
            for r in range(3)
        ]

    dA = det(A)
    b0 = f"({det(repl(0))}) / ({dA})"
    b1 = f"({det(repl(1))}) / ({dA})"
    b2 = f"({det(repl(2))}) / ({dA})"
    sse = f"syy - (({b0})*sy + ({b1})*sqy + ({b2})*sdy)"
    sst = f"syy - sy*sy/{_OLS_NF}"
    return {
        "intercept": b0,
        "coef_quantity": b1,
        "coef_discount": b2,
        "r2": f"1.0 - ({sse}) / ({sst})",
    }


_OLS_MOMENTS_DUCK = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sqq,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sqd,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sdd,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sqy,
           CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sdy,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM lineitem
"""


def _ols_oracle() -> str:
    e = _ols_exprs()
    return f"""
    WITH m AS ({_OLS_MOMENTS_DUCK})
    SELECT n AS n_rows,
           {sql_sround(e['intercept'], 4)} AS intercept,
           {sql_sround(e['coef_quantity'], 4)} AS coef_quantity,
           {sql_sround(e['coef_discount'], 4)} AS coef_discount,
           {sql_sround(e['r2'], 6)} AS r2
    FROM m
    """


@query("lineitem_price_ols", oracle=_ols_oracle())
def lineitem_price_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS trained in-engine: extendedprice regressed on
    quantity and discount via the normal equations, solved in closed
    form (Cramer) — a model fit whose coefficients hash-match an
    independent engine, the strongest verification an ML training
    path can have.

    Determinism: all ten moments aggregate through DECIMAL (exact,
    order-free); the solve is emitted from ONE set of expression
    strings shared verbatim by the Spark select and the DuckDB
    oracle, so the IEEE op sequences are identical by construction.

    Scale: training is ONE map-side-combinable aggregation pass over
    the fact table (10 partials per partition) + constant driver-free
    math on the single moment row — the textbook "ML on the
    aggregate plane" shape; features scale this by p², never by rows.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def dsum6(expr):
        return F.sum(F.expr(expr).cast("decimal(38,6)")).cast("double")

    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum6("l_quantity").alias("sq"),
        dsum6("l_discount").alias("sd"),
        dsum6("l_extendedprice").alias("sy"),
        dsum6("l_quantity * l_quantity").alias("sqq"),
        dsum6("l_quantity * l_discount").alias("sqd"),
        dsum6("l_discount * l_discount").alias("sdd"),
        dsum6("l_quantity * l_extendedprice").alias("sqy"),
        dsum6("l_discount * l_extendedprice").alias("sdy"),
        dsum6("l_extendedprice * l_extendedprice").alias("syy"),
    )
    e = _ols_exprs()
    return m.select(
        F.col("n").alias("n_rows"),
        sround(F.expr(e["intercept"]), 4).alias("intercept"),
        sround(F.expr(e["coef_quantity"]), 4).alias("coef_quantity"),
        sround(F.expr(e["coef_discount"]), 4).alias("coef_discount"),
        sround(F.expr(e["r2"])).alias("r2"),
    )
