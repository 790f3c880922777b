"""Training-data pipeline operators: dedup, similarity search, text
analysis — over the ``documents`` and ``embeddings`` tables.

These go beyond the reference's own surface (BASELINE.json north
star): the operators a 100 TB LLM-data pipeline needs. Each is
registered with a DuckDB oracle so correctness is hash-checked.

Scale design notes (per operator docstrings):
* dedup joins happen on *hash keys* (band signatures, fingerprints) —
  equi-joins that AQE can re-plan; raw text never shuffles.
* pair generation always constrains ``a < b`` inside the join
  condition so the pair space never materializes twice.
* brute-force similarity paths are blocked (label/source/lang
  partitions) — the same shape as an IVF coarse quantizer; the LSH
  variants are the unblocked scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from declarativeml_spark.operators import textops as T
from declarativeml_spark.queries.registry import QUERIES, query, sql_sround, sround
from declarativeml_spark.sources.catalog import load_table

_TOKS_S = T.TOKENS_SPARK.format(text="text")
_TOKS_D = T.TOKENS_DUCK.format(text="text")
_SHINGLES_D = T.SHINGLES_DUCK.format(toks="toks")


# ---------------------------------------------------------------------------
@query(
    "text_token_stats",
    oracle=f"""
    WITH d AS (SELECT source, {_TOKS_D} AS toks FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM d GROUP BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (whitespace tokenizer).

    Scale: pure map + partial agg; shuffle carries one row per source.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("toks", F.expr(_TOKS_S))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("toks")).cast("long").alias("total_tokens"),
            (F.sum(F.size("toks")) / F.count("*")).cast("double").alias("avg_tokens"),
        )
    )


# ---------------------------------------------------------------------------
@query(
    "text_bpe_token_stats",
    oracle=r"""
    WITH d AS (SELECT doc_id, source,
                      regexp_extract_all(text, '\w+|[^\w\s]') AS toks
               FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_subwords,
           CAST(SUM(len(list_filter(toks,
                t -> NOT regexp_matches(t, '^\w')))) AS BIGINT) AS punct_tokens,
           CAST(SUM(len(list_filter(toks,
                t -> len(t) > 8))) AS BIGINT) AS long_tokens
    FROM d GROUP BY source
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: GPT-2-style pre-tokenizer regex
    (word runs | single non-word-non-space) instead of whitespace
    splitting — the token-budget estimator for an LLM data pipeline.

    Scale: per-row regex + integer counts, shuffle carries one row
    per source. Java and RE2 agree on ASCII \\w/\\s classes, so the
    counts hash-match the oracle exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"
    return (
        docs.select(
            "source",
            F.expr(f"size({toks})").alias("n_toks"),
            F.expr(
                f"size(filter({toks}, t -> NOT (t rlike '^\\\\w')))"
            ).alias("n_punct"),
            F.expr(f"size(filter({toks}, t -> length(t) > 8))").alias("n_long"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_subwords"),
            F.sum("n_punct").cast("long").alias("punct_tokens"),
            F.sum("n_long").cast("long").alias("long_tokens"),
        )
    )


# ---------------------------------------------------------------------------
def _lang_confusion_oracle() -> str:
    hits = {
        lang: T.lang_hits_duck("toks", lang) for lang in T.LANG_ORDER
    }
    hit_cols = {lang: f"h_{lang}" for lang in T.LANG_ORDER}
    hit_select = ", ".join(f"{hits[lang]} AS h_{lang}" for lang in T.LANG_ORDER)
    case = T.predicted_lang_case(hit_cols)
    return f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS_D} AS toks FROM documents),
    scored AS (SELECT doc_id, lang, {hit_select} FROM d),
    pred AS (SELECT doc_id, lang, {case} AS predicted FROM scored)
    SELECT lang, predicted, COUNT(*) AS n_docs FROM pred GROUP BY lang, predicted
    """


@query("text_language_id", oracle=_lang_confusion_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-overlap scoring; output = confusion
    matrix of labeled lang × predicted lang.

    Scale: per-row scoring (codegen'd array filter), agg on ≤25 keys.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("toks", F.expr(_TOKS_S))
    hit_cols = {}
    for lang in T.LANG_ORDER:
        col = f"h_{lang}"
        docs = docs.withColumn(col, F.expr(T.lang_hits_spark("toks", lang)))
        hit_cols[lang] = col
    docs = docs.withColumn("predicted", F.expr(T.predicted_lang_case(hit_cols)))
    return docs.groupBy("lang", "predicted").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
@query(
    "text_quality_scores",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_TOKS_D} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           {T.quality_duck('toks', 'text', T.lang_hits_duck('toks', 'en'))} AS quality
    FROM d
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score: length, word-shape, stopword ratio.

    Scale: shuffle-free map; at 100 TB this is a single scan-project.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("toks", F.expr(_TOKS_S))
    return docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.expr(
            T.quality_spark("toks", "text", T.lang_hits_spark("toks", "en"))
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
@query(
    "corpus_mix_sample",
    oracle=f"""
    WITH d AS (
        SELECT source, {_TOKS_D} AS toks,
               CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                    THEN 1.0 ELSE 0.4 END AS rate,
               (((((doc_id % 2147483647) + 2147483647) % 2147483647)
                 * 48271 % 2147483647) * 48271) % 2147483647 AS h
        FROM documents
    )
    SELECT source, rate,
           CAST(COUNT(CASE WHEN h < rate * 2147483647 THEN 1 END) AS BIGINT)
               AS kept_docs,
           CAST(COALESCE(SUM(CASE WHEN h < rate * 2147483647
                                  THEN len(toks) END), 0) AS BIGINT)
               AS kept_tokens
    FROM d GROUP BY source, rate
    """,
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing by deterministic hash sampling: each source keeps
    a target fraction of docs (here: even-numbered sources 1.0,
    odd 0.4 — the stand-in for a trained mixture-weights table),
    selected by a Lehmer hash of doc_id, NOT rand().

    The sampling predicate applies the Lehmer step ``x -> x * 48271
    mod 2^31-1`` TWICE to the id (one step maps a small consecutive
    id range onto a small prefix of [0, m), passing every threshold;
    the second wrap mixes) and keeps rows with ``h < rate * 2^31-1``
    — pure integer/double arithmetic: reproducible run-to-run,
    engine-to-engine (hash-checked), and restart-safe, which rand()
    is not. The id is reduced mod 2^31-1 FIRST so the multiply never
    overflows int64 for any bigint id (Spark would silently wrap
    where DuckDB errors); pmod / the +m%m trick keep both engines
    non-negative even for negative ids.

    Scale: shuffle-free scan + map-side-combinable agg; one row per
    source leaves the map stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.expr(
        "CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 1.0 ELSE 0.4 END"
    ).cast("double")
    kept = F.col("h") < F.col("rate") * F.lit(2147483647.0)
    return (
        docs.withColumn("toks", F.expr(_TOKS_S))
        .withColumn("rate", rate)
        .withColumn(
            "h",
            F.expr(
                "pmod(pmod(pmod(doc_id, 2147483647) * 48271, 2147483647)"
                " * 48271, 2147483647)"
            ),
        )
        .groupBy("source", "rate")
        .agg(
            F.count(F.when(kept, 1)).cast("long").alias("kept_docs"),
            F.coalesce(F.sum(F.when(kept, F.size("toks"))), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
@query(
    "quality_budget_selection",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, text, {_TOKS_D} AS toks FROM documents),
    q AS (SELECT doc_id, source, len(toks) AS n_tokens,
                 {T.quality_duck('toks', 'text', T.lang_hits_duck('toks', 'en'))} AS quality
          FROM d),
    thr AS (SELECT quantile_cont(quality, 0.7) AS cutoff FROM q)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
    FROM q, thr WHERE quality >= cutoff
    GROUP BY source
    """,
)
def quality_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation by quality: keep the top-30%-quality
    docs (quality ≥ the global p70 cutoff), report kept docs/tokens
    per source.

    Scale: the two-pass budget cut — pass 1 computes the quality
    distribution and picks the cutoff (a scalar; at 100 TB use
    ``approx_percentile``'s t-digest instead of the exact sort), pass
    2 is a shuffle-free filter + map-side agg. No global sort or
    single-partition window anywhere, unlike the naive
    cumulative-sum-over-ranking formulation.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("toks", F.expr(_TOKS_S))
    q = docs.select(
        "doc_id",
        "source",
        F.size("toks").alias("n_tokens"),
        F.expr(
            T.quality_spark("toks", "text", T.lang_hits_spark("toks", "en"))
        ).alias("quality"),
    )
    thr = q.agg(F.expr("percentile(quality, 0.7)").alias("cutoff"))
    return (
        q.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("cutoff"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("kept_docs"),
            F.sum("n_tokens").cast("long").alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    WITH f AS (SELECT doc_id, {T.FINGERPRINT_DUCK.format(text='text')} AS fingerprint
               FROM documents)
    SELECT fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_id
    FROM f GROUP BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text → groups with
    the smallest doc_id as canonical.

    Scale: the only shuffle is on the 16-byte fingerprint (never the
    text); group sizes are the duplicate multiplicity, naturally
    bounded. This is the standard 100 TB exact-dedup shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fingerprint", F.expr(T.FINGERPRINT_SPARK.format(text="text")))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


# ---------------------------------------------------------------------------
@query(
    "dedup_simhash",
    oracle=f"""
    WITH d AS (SELECT doc_id, list_distinct({_TOKS_D}) AS toksd FROM documents),
    h AS (SELECT doc_id, list_transform(toksd,
              t -> substr(md5(t), 1, 4)) AS hx FROM d)
    SELECT doc_id, CAST({T.simhash_duck('hx')} AS BIGINT) AS simhash
    FROM h
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (near-dup key; equal hash → dup
    candidate, Hamming-adjacent hashes → near-dup candidates).

    Scale: entirely per-row (no shuffle); the downstream dup-candidate
    join is an equi-join on the 2-byte key. 16 bits keeps the oracle
    SQL tractable; the production variant is the same expression at 64
    bits.
    """
    docs = load_table(spark, sf_dir, "documents")
    hexed = docs.select(
        "doc_id",
        F.expr(T.HEX4_SPARK.format(toks=_TOKS_S)).alias("__hex4"),
    )
    return hexed.select(
        "doc_id",
        F.expr(T.simhash_spark("__hex4")).cast("long").alias("simhash"),
    )


# ---------------------------------------------------------------------------
_N_MINHASH = 8
_BANDS = 4  # rows-per-band = 2


def _minhash_cte_chain() -> str:
    """The minhash pair pipeline as a reusable CTE chain (d → sh →
    sigs → bands → cand → scored); shared by the pair query's oracle
    and the cluster query's recursive-closure oracle."""
    mh_select = ", ".join(
        f"{T.minhash_duck('shingles', k)} AS mh{k}" for k in range(_N_MINHASH)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat(mh{2 * b}, mh{2 * b + 1}) AS band_key FROM sigs"
        for b in range(_BANDS)
    )
    return f"""d AS (SELECT doc_id, {_TOKS_D} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_D} AS shingles FROM d),
    sigs AS (SELECT doc_id, shingles, {mh_select} FROM sh),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               {sql_sround(
                   "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
                   " / (len(sa.shingles) + len(sb.shingles)"
                   " - len(list_intersect(sa.shingles, sb.shingles)))"
               )} AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    )"""


def _minhash_lsh_oracle(threshold: float = 0.5) -> str:
    return f"""
    WITH {_minhash_cte_chain()}
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """


@query("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: 3-gram shingles → 8 minhashes → 4
    bands → band-bucket join → exact Jaccard verify ≥ 0.5.

    Scale: the candidate join shuffles only (band_idx, 64-byte key,
    doc_id); actual shingle sets are joined back only for the
    (small) candidate set. Hot band keys (boilerplate docs) are the
    classic skew source — AQE skew-join handles it; salting the band
    key is the manual fallback. This is the canonical 100 TB dedup,
    run by the ``DEDUPLICATE … USING minhash`` operator
    (operators/dedup.py::minhash_pairs).
    """
    from declarativeml_spark.operators.dedup import minhash_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return minhash_pairs(docs, threshold=0.5, n_minhash=_N_MINHASH, bands=_BANDS)


# ---------------------------------------------------------------------------
def _clusters_oracle() -> str:
    """Transitive closure of the minhash near-dup pair graph via a
    recursive CTE — the oracle for the iterative Spark loop."""
    return f"""
    WITH RECURSIVE {_minhash_cte_chain()},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(v, u) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u
    )
    SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY v
    """


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the minhash pair
    graph (A~B, B~C ⇒ one cluster {A,B,C} with canonical min id).

    The retention step of a 100 TB dedup pipeline: pair emitters give
    edges; keep/drop decisions need one canonical doc per component.
    Spark side is the Pregel-style min-label-propagation loop in
    operators/dedup.py::connected_components (labels-only shuffles,
    label-sum fixpoint detection); the oracle is a recursive-CTE
    transitive closure over the identical pair CTEs — an iterative
    DataFrame algorithm still hash-checked against DuckDB.
    """
    from declarativeml_spark.operators.dedup import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    return connected_components(pairs)


# ---------------------------------------------------------------------------
_NGRAM_GATE_MH = 8  # 8 tables x 1 row: P(candidate) = 1-(1-J)^8


def _ngram_jaccard_oracle(threshold: float = 0.15) -> str:
    """Minhash-gated Jaccard in DuckDB: same md5-minhash buckets, same
    hashed-set verify (each engine hashes its own side — Jaccard
    depends only on set sizes, which hashing preserves)."""
    mh_select = ", ".join(
        f"{T.minhash_duck('sh_str', k)} AS mh{k}" for k in range(_NGRAM_GATE_MH)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band_idx, mh{k} AS band_key FROM sigs"
        for k in range(_NGRAM_GATE_MH)
    )
    jac = (
        "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
        " / (len(a.shingles) + len(b.shingles)"
        " - len(list_intersect(a.shingles, b.shingles)))"
    )
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS_D} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_D} AS sh_str FROM d),
    hs AS (SELECT doc_id, list_transform(sh_str, s -> hash(s)) AS shingles FROM sh),
    sigs AS (SELECT doc_id, {mh_select} FROM sh),
    bands AS ({band_selects}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b, {sql_sround(jac)} AS jaccard
    FROM cand c
    JOIN hs a ON a.doc_id = c.id_a
    JOIN hs b ON b.doc_id = c.id_b
    WHERE {jac} >= {threshold}
    """


@query("dedup_ngram_jaccard", oracle=_ngram_jaccard_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-gated n-gram Jaccard: candidates share at least one of
    8 md5-minhashes (8 tables × 1 row — usable recall at the low 0.15
    threshold: P = 1-(1-J)^8), then exact 3-gram Jaccard over
    xxhash64'd shingle sets verifies each candidate.

    Round 1 shipped this as all-pairs within (source, lang) blocks —
    quadratic in block size, and blocks grow linearly with the
    corpus. The minhash gate bounds the pair space to Σ bucket² over
    shingle-locality buckets instead; the blocked form survives as
    ``method='block'`` with a hard block-size guard
    (operators/dedup.py::ngram_jaccard_pairs).
    """
    from declarativeml_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return ngram_jaccard_pairs(
        docs, threshold=0.15, n_minhash=_NGRAM_GATE_MH
    )


# ---------------------------------------------------------------------------
_DOT_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM_S = (
    "sqrt(aggregate({a}, CAST(0.0 AS DOUBLE),"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)
_DOT_D = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM_D = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


# zero-norm exclusion (no cosine direction; ANSI div-by-0 in Spark) —
# mirrored wherever a cosine is computed in either engine
_NZ_D = (
    "list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0"
)


def _cos_d(a: str, b: str) -> str:
    return (
        f"{_DOT_D.format(a=a, b=b)} / ({_NORM_D.format(a=a)} * {_NORM_D.format(a=b)})"
    )


def _embedding_pairs_oracle() -> str:
    from declarativeml_spark.operators.dedup import embedding_pairs_oracle_sql

    return embedding_pairs_oracle_sql(threshold=0.35, dim=64)


@query("embedding_similarity_pairs", oracle=_embedding_pairs_oracle())
def embedding_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket candidates, exact cosine
    ≥ 0.35 verify.

    Round 1 shipped this as all-pairs within a label block — O(m²) in
    a block that grows linearly with the corpus. Candidates now come
    from the seeded random-projection buckets (same machinery as
    ann_lsh_bucketed): the pair space is Σ bucket² over
    distance-local buckets, exact cosine verifies inside the join
    stage, and only (id, id, cos) tuples survive. Deterministic
    projections keep it hash-checkable. The blocked form survives as
    ``method='block'`` with a hard block-size guard
    (operators/dedup.py::embedding_pairs).
    """
    from declarativeml_spark.operators.dedup import embedding_pairs

    # same 36-projection expression surface as ann_lsh_bucketed —
    # codegen compile around it is erratically expensive, interpreted
    # evaluation is stable (HOF folds never codegen anyway).
    s2 = _no_codegen_session(spark)
    emb = load_table(s2, sf_dir, "embeddings")
    return embedding_pairs(emb, threshold=0.35, dim=64)


def _clean_corpus_oracle() -> str:
    hits = {lang: T.lang_hits_duck("toks", lang) for lang in T.LANG_ORDER}
    hit_cols = {lang: f"h_{lang}" for lang in T.LANG_ORDER}
    hit_select = ", ".join(f"{hits[lang]} AS h_{lang}" for lang in T.LANG_ORDER)
    case = T.predicted_lang_case(hit_cols)
    fp = T.FINGERPRINT_DUCK.format(text="text")
    quality = T.quality_duck("toks", "text", "h_en")
    return f"""
    WITH d AS (SELECT doc_id, text, {_TOKS_D} AS toks, {fp} AS fp FROM documents),
    scored AS (SELECT doc_id, text, toks, fp, {hit_select} FROM d),
    enriched AS (
        SELECT doc_id, fp, len(toks) AS n_tokens,
               {case} AS predicted_lang,
               {quality} AS quality,
               MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id
        FROM scored
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, predicted_lang, quality
    FROM enriched
    WHERE doc_id = canonical_id          -- exact-dedup survivor
      AND n_tokens >= 20                 -- length floor
      AND quality >= 0.3                 -- quality floor
    """


@query("pipeline_clean_corpus", oracle=_clean_corpus_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline composite: a full corpus-cleaning pass in ONE plan
    — exact dedup (fingerprint window), language ID, token floor, and
    quality floor fused into a single scan + one window shuffle.

    Scale: this is the shape a 100 TB pre-training cleanup runs as —
    per-row scoring stays in codegen, the only shuffle is the
    fingerprint window for canonical selection (equivalently a
    groupBy-min join), and every filter prunes before anything wide
    happens downstream (near-dup LSH, tokenization for training).
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("toks", F.expr(_TOKS_S))
    hit_cols = {}
    for lang in T.LANG_ORDER:
        col = f"h_{lang}"
        docs = docs.withColumn(col, F.expr(T.lang_hits_spark("toks", lang)))
        hit_cols[lang] = col
    docs = (
        docs.withColumn("fp", F.expr(T.FINGERPRINT_SPARK.format(text="text")))
        .withColumn("n_tokens", F.size("toks"))
        .withColumn("predicted_lang", F.expr(T.predicted_lang_case(hit_cols)))
        .withColumn(
            "quality",
            F.expr(T.quality_spark("toks", "text", "h_en")),
        )
        .withColumn(
            "canonical_id", F.min("doc_id").over(W.partitionBy("fp"))
        )
    )
    return (
        docs.filter(
            (F.col("doc_id") == F.col("canonical_id"))
            & (F.col("n_tokens") >= 20)
            & (F.col("quality") >= 0.3)
        ).select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "predicted_lang",
            "quality",
        )
    )


def _ivf_native_oracle(
    k: int = 10,
    query_mod: int = 97,
    n_cells: int = 8,
    n_probe: int = 2,
    n_iters: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of operators/dedup.py::ivf_native_topk: the same
    pinned Lloyd's iterations with DECIMAL(38,12) per-dim means, as
    unrolled CTE layers (shared with semdedup via
    ``native_cells_ctes``)."""
    from declarativeml_spark.operators.dedup import native_cells_ctes
    from declarativeml_spark.operators.textops import stable_round

    ctes, d2 = native_cells_ctes(n_cells, n_iters, dim)
    prev = f"c{n_iters}"
    dot = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    ctes.append(
        f"q AS (SELECT vec_id AS qid, vec AS qe, nrm AS qn FROM corpus"
        f" WHERE vec_id % {query_mod} = 0 AND nrm > 0)"
    )
    ctes.append(
        "probes AS (SELECT qid, qe, qn, cell FROM ("
        " SELECT q.qid, q.qe, q.qn, c.cell,"
        " ROW_NUMBER() OVER (PARTITION BY q.qid"
        f" ORDER BY {d2.format(v='q.qe', c='c.cvec')}, c.cell) AS cr"
        f" FROM q CROSS JOIN {prev} c) WHERE cr <= {n_probe})"
    )
    ctes.append(
        "scored AS (SELECT p.qid, co.vec_id AS nid,"
        f" {dot.format(a='p.qe', b='co.vec')} / (p.qn * co.nrm) AS cos"
        " FROM probes p JOIN corpus co ON co.cell = p.cell"
        " AND co.vec_id != p.qid AND co.nrm > 0)"
    )
    ctes.append(
        "ranked AS (SELECT qid, nid, cos,"
        " ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk"
        " FROM scored)"
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT qid, nid, {stable_round('cos')} AS cosine, rnk
    FROM ranked WHERE rnk <= {k}
    """


@query("ann_ivf_native", oracle=_ivf_native_oracle())
def ann_ivf_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with a deterministic engine-portable coarse
    quantizer — the hash-checked counterpart of ann_ivf_topk.

    Pinned Lloyd's KMeans (smallest-id init, 2 fixed iterations,
    DECIMAL(38,12) per-dim means → bit-identical centroids in any
    shuffle order and in DuckDB), then the standard IVF probe: each
    query scores exact cosine in its 2 nearest of 8 cells. One lazy
    plan end-to-end — no fitted model, no driver loop. ann_ivf_topk
    (MLlib k-means||) stays the scale default for init quality; this
    proves the same plan shape under the correctness gate.
    """
    from declarativeml_spark.operators.dedup import ivf_native_topk

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return ivf_native_topk(emb, cache_key=sf_dir)


@query("ann_ivf_topk", oracle=_ivf_native_oracle(n_cells=16, n_probe=4))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-k — the second similarity-search scale path
    (coarse-quantizer cells instead of random projections) — exactly
    what ``SEARCH SIMILAR … USING ivf(n_cells=16, n_probe=4)``
    executes (engine.py::_similarity_search).

    The coarse quantizer is the deterministic pinned-Lloyd's one
    (operators/dedup.py::ivf_native_topk: smallest-id init, fixed
    iterations, DECIMAL(38,12) per-dim means), so cell assignment —
    and therefore the whole result — is bit-identical in DuckDB and
    this query is hash-checked, not rows-only. The MLlib k-means||
    variant stays reachable as USING ivf_mllib; its recall vs the
    brute-force baseline is asserted in tests/test_dedup_dsl.py.
    """
    from declarativeml_spark.operators.dedup import ivf_native_topk

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return ivf_native_topk(emb, n_cells=16, n_probe=4, cache_key=sf_dir)


# one source of truth for the registered LSH query AND its oracle —
# editing either in isolation would silently desync the hash-check
_LSH_PARAMS = dict(
    threshold=1.15,
    bucket_length=0.25,
    num_hash_tables=6,
    projs_per_table=6,
    seed=42,
    dim=64,
)


def _lsh_oracle() -> str:
    from declarativeml_spark.operators.dedup import lsh_pairs_oracle_sql

    return lsh_pairs_oracle_sql(**_LSH_PARAMS)


@query("ann_lsh_bucketed", oracle=_lsh_oracle())
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed similarity join — the 100 TB ANN scale path,
    expressed natively (no MLlib model, no UDFs).

    Seeded Gaussian projections hash each vector into a compound
    (AND-amplified) ``floor(v·r / bucketLength)`` key per hash table
    — single-projection keys degenerate to near-all-pairs on
    unit-norm data (measured 87% of all pairs as candidates at
    sf0.1); compounding 6 projections per key cuts that to ~5% with
    0.92 recall on cos≈0.93 near-dups. Candidates come from a
    (table, bucket) equi-join; the exact euclidean distance verifies
    each candidate. Because the projections are driver-side constants
    and every fold is left-associative, bucket keys and distances are
    bit-identical in DuckDB — this scale path is hash-checked, not
    just rows-only (see operators/dedup.py::lsh_topk_pairs for the
    plan shape).

    embeddings are ~unit-norm (pairwise distances 1.05–1.7); 1.15
    keeps the closest ~0.5% of pairs, bucketLength tuned with the
    compound keys (see _lsh_compound_keys).

    Runs in a no-codegen child session: the per-pair distance is an
    interpreted higher-order-function fold either way (HOFs have no
    whole-stage codegen), so codegen buys nothing here — and compiling
    the generated sources around the 36×64-literal projection
    expressions is erratically expensive (measured 6-46s first-run
    spikes; stable interpreted). The child session scopes the conf to
    this query only.
    """
    from declarativeml_spark.operators.dedup import lsh_topk_pairs

    s2 = _no_codegen_session(spark)
    emb = load_table(s2, sf_dir, "embeddings")
    return lsh_topk_pairs(emb, **_LSH_PARAMS)


import weakref

# weak keys: keyed on the live parent session OBJECT, so a torn-down
# session's child is dropped with it — an id()-keyed dict handed a
# stale child (bound to a STOPPED SparkContext) to any new session
# allocated at the recycled address, and pinned every child forever
_NO_CODEGEN_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _no_codegen_session(spark: SparkSession) -> SparkSession:
    """One cached no-codegen child session per parent — repeated
    invocations must not accumulate session state for the process
    lifetime. Note newSession() inherits builder-time confs only;
    runtime conf changes on the parent don't propagate."""
    s2 = _NO_CODEGEN_SESSIONS.get(spark)
    if s2 is None:
        s2 = spark.newSession()
        s2.conf.set("spark.sql.codegen.wholeStage", "false")
        s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        _NO_CODEGEN_SESSIONS[spark] = s2
    return s2


@query(
    "multimodal_byte_histogram",
    oracle="""
    SELECT doc_id AS media_id,
           array_to_string(list_transform(range(0, 16),
               b -> CAST(len(list_filter(range(1, length(text) + 1),
                        i -> ascii(substr(text, i, 1)) // 16 = b)) AS BIGINT)
           ), ',') AS features
    FROM documents
    """,
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: binary payload → 16-bin byte
    histogram via an Arrow-batched ``mapInPandas`` 'decoder'.

    The payload is the UTF-8 bytes of ``text`` (see
    operators/multimodal.py: real codecs are stubbed; the fake codec
    is deterministic so this whole distributed path — binary column,
    metadata struct, size-balanced repartition, Arrow batches — is
    oracle-verified). Scale: one shuffle for balance, then per-batch
    Python at Arrow speed; real image decode swaps the codec only.
    """
    from declarativeml_spark.operators.multimodal import (
        attach_fake_media,
        decode_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    decoded = decode_features(media)
    # Histogram bins are fixed-order, so joining to a scalar string is
    # lossless — and keeps the output hashable for value comparison.
    return decoded.select(
        "media_id", F.array_join("features", ",").alias("features")
    )


@query(
    "ann_topk_cosine",
    oracle=f"""
    WITH nz AS (SELECT vec_id, embedding FROM embeddings
                WHERE {_NZ_D}),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM nz WHERE vec_id % 97 = 0),
    scored AS (
        SELECT q.qid, e.vec_id AS nid,
               {_cos_d('q.qe', 'e.embedding')} AS cos
        FROM q JOIN nz e ON e.vec_id != q.qid
    ),
    ranked AS (
        SELECT qid, nid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        FROM scored
    )
    SELECT qid, nid, {sql_sround('cos')} AS cosine, rnk FROM ranked WHERE rnk <= 10
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: every ~97th vector queries the full
    table; top-10 neighbors per query.

    Scale: the query set broadcasts (it's ~1% of vectors); candidates
    never shuffle — each partition scores its local vectors against
    all queries, and only (qid, nid, cos) tuples enter the top-k
    window. The LSH-bucketed variant replaces the cross join when the
    query set itself is huge.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings", spread=True)
        .withColumn("nrm", F.expr(_NORM_S.format(a="embedding")))
        .filter(F.col("nrm") > 0)  # no cosine direction; ANSI div-by-0
    )
    q = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cos = F.expr(_DOT_S.format(a="qe", b="embedding")) / (F.col("qn") * F.col("nrm"))
    scored = (
        emb.join(F.broadcast(q), emb.vec_id != q.qid)
        .withColumn("cos", cos)
        .select("qid", F.col("vec_id").alias("nid"), "cos")
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("qid", "nid", sround("cos").alias("cosine"), "rnk")
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF-native index against
# the brute-force ground truth, per query. Registered AFTER both
# legs so their oracle SQL can be composed as subqueries.
def _ivf_recall_oracle() -> str:
    from declarativeml_spark.queries.registry import ORACLES

    gt = ORACLES["ann_topk_cosine"]
    ivf = ORACLES["ann_ivf_native"]
    return f"""
    SELECT g.qid,
           CAST(COUNT(i.nid) AS BIGINT) AS hits,
           CAST(COUNT(i.nid) AS DOUBLE) / COUNT(*) AS recall
    FROM ({gt}) g
    LEFT JOIN ({ivf}) i ON g.qid = i.qid AND g.nid = i.nid
    GROUP BY g.qid
    """


@query("ann_ivf_recall", oracle=_ivf_recall_oracle())
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-native approximate index against the
    brute-force cosine ground truth, per query vector — the eval
    harness every ANN deployment runs before trading exactness for
    speed (pairs with the probe/cell-count tuning knobs).

    Scale: both legs are existing plans (ground truth broadcasts the
    ~1% query set; IVF searches only probed cells); the comparison
    itself joins two k-per-query frames — tiny — on (qid, nid).
    Deterministic end to end, so even the RECALL NUMBER is
    hash-checked against DuckDB computing both legs independently.
    """
    from pyspark.sql import functions as F

    gt = QUERIES["ann_topk_cosine"](spark, sf_dir).select("qid", "nid")
    ivf = QUERIES["ann_ivf_native"](spark, sf_dir).select(
        F.col("qid").alias("iqid"), F.col("nid").alias("inid")
    )
    j = gt.join(
        ivf,
        (F.col("qid") == F.col("iqid")) & (F.col("nid") == F.col("inid")),
        "left",
    )
    return j.groupBy("qid").agg(
        F.count("inid").cast("bigint").alias("hits"),
        (F.count("inid").cast("double") / F.count("*")).alias("recall"),
    )


@query(
    "multimodal_audio_energy",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(w AS BIGINT) AS window_id,
           CAST(least(64, length(text) - w * 64) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(
               range(w * 64 + 1, least((w + 1) * 64, length(text)) + 1),
               i -> ascii(substr(text, i, 1)) * ascii(substr(text, i, 1))
           )) AS BIGINT) AS energy
    FROM documents,
         unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS t(w)
    WHERE length(text) > 0
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style multimodal decode: per 64-byte analysis window of
    each payload, the exact integer energy (sum of squared unsigned
    samples) through the Arrow ``mapInPandas`` path — the windowed
    feature-extraction shape (RMS frames, spectral bands) with the
    codec faked deterministically so the whole distributed path is
    hash-checked (see operators/multimodal.py::window_energy).

    Scale: only (media_id, window_id, n_samples, energy) longs leave
    Python; payload bytes stay inside the Arrow batch. A real codec
    swaps the numpy body; the schema, batching, and partitioning are
    the production shape.
    """
    from declarativeml_spark.operators.multimodal import (
        attach_fake_media,
        window_energy,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    return window_energy(media)
