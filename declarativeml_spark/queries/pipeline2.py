"""Training-data pipeline operators, part 2: decontamination,
sequence packing, repetition-quality filters, BM25 retrieval.

These extend the LLM-pipeline surface (BASELINE.json north star)
beyond round 1's dedup/similarity/text-analysis set with the
remaining operations a 100 TB pretraining pipeline runs between
"raw corpus" and "training batches":

* benchmark decontamination (n-gram overlap against a held-out set —
  the GPT-3/Pile-style 13-gram check, expressed as a broadcast
  fingerprint join);
* concatenate-and-chunk sequence packing (assigning every document a
  (bucket, chunk, offset) in fixed-size context windows — a windowed
  running sum, never a global sort);
* Gopher/C4-style repetition heuristics (duplicate token / 2-gram
  fractions, mean word length — pure per-row expressions);
* BM25 keyword retrieval (two tiny aggregates broadcast against a
  per-row scoring map; the lexical leg of hybrid search next to the
  embedding ANN queries in pipeline.py).

Every query here is hash-checked against a DuckDB oracle; the float
convention follows registry.py (IEEE per-row ops + stable_round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from declarativeml_spark.operators import textops as T
from declarativeml_spark.queries.registry import query, sround
from declarativeml_spark.sources.catalog import load_table

from declarativeml_spark.operators.corpus import (
    benchmark_overlap,
    fp_sample_duck,
    pack_chunks,
)

_TOKS_S = T.TOKENS_SPARK.format(text="text")
_TOKS_D = T.TOKENS_DUCK.format(text="text")

# deterministic 1/2 sample of each doc's distinct 4-gram fingerprints
# (md5 hex < '8') — one source of truth in operators/corpus.py, shared
# with the DECONTAMINATE DSL statement
_FP_D = fp_sample_duck("text")


# ---------------------------------------------------------------------------
@query(
    "decontam_benchmark_overlap",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_FP_D} AS hs FROM documents),
    bench AS (SELECT DISTINCT unnest(hs) AS h FROM d WHERE doc_id % 23 = 5),
    corp AS (SELECT doc_id, hs FROM d WHERE doc_id % 23 <> 5),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM corp),
    ov AS (SELECT e.doc_id, COUNT(*) AS overlap
           FROM ex e JOIN bench b ON e.h = b.h GROUP BY e.doc_id)
    SELECT c.doc_id,
           CAST(len(c.hs) AS BIGINT) AS n_grams,
           CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap_grams,
           COALESCE(o.overlap, 0) >= 3 AS contaminated
    FROM corp c LEFT JOIN ov o ON c.doc_id = o.doc_id
    """,
)
def decontam_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    4-gram fingerprints with a held-out benchmark set (here the
    deterministic pseudo-benchmark ``doc_id % 23 = 5``).

    The GPT-3 / Pile pretraining hygiene step: any training document
    with >= 3 n-gram fingerprints from an eval set is contaminated
    and must be dropped before training.

    Scale: the benchmark side is tiny (eval sets are MBs against a
    100 TB corpus) — its distinct fingerprints BROADCAST, so the
    corpus-side explode+join is map-side with zero shuffle of corpus
    text; only (doc_id, count) rows shuffle for the final groupBy.
    Fingerprints are a deterministic 1/2 winnow sample of distinct
    grams, bounding join volume the same way the winnowing
    fingerprint query does (relational3.py).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return benchmark_overlap(
        docs.filter(F.col("doc_id") % 23 != 5),
        docs.filter(F.col("doc_id") % 23 == 5),
        min_overlap=3,
    )


# ---------------------------------------------------------------------------
_CTX = 512  # tokens per packed context window
_PACK_BUCKETS = 8  # parallel packing streams


@query(
    "pack_concat_chunks",
    oracle=f"""
    WITH d AS (SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
                      CAST(len({_TOKS_D}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, bucket, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                      PARTITION BY bucket ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum
          FROM d)
    SELECT doc_id, bucket, n_tokens,
           CAST(FLOOR(cum / {_CTX}.0) AS BIGINT) AS chunk_id,
           cum % {_CTX} AS chunk_offset,
           CAST(FLOOR((cum + n_tokens - 1) / {_CTX}.0) AS BIGINT)
             - CAST(FLOOR(cum / {_CTX}.0) AS BIGINT) + 1 AS chunks_spanned
    FROM c
    """,
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: assign every document
    a (bucket, chunk_id, offset) position in fixed ``_CTX``-token
    context windows — the standard LLM-pretraining batch layout
    (concatenate the token stream, slice every ctx_len tokens).

    Scale: packing is a RUNNING SUM, which a naive implementation
    writes as a global ordered window — a single-partition sort that
    dies at 100 TB (WindowExec "No Partition Defined"). Instead the
    corpus hash-partitions into ``_PACK_BUCKETS`` independent packing
    streams (real pipelines use source/shard as the natural bucket),
    so the window sorts WITHIN buckets only and every stream packs in
    parallel; chunk ids are per-bucket, (bucket, chunk_id) is the
    global chunk key. Deterministic: bucket and order are pure
    functions of doc_id, so the layout is reproducible across runs
    and engines (hash-checked).
    """
    docs = load_table(spark, sf_dir, "documents")
    return pack_chunks(docs, context=_CTX, buckets=_PACK_BUCKETS)


# ---------------------------------------------------------------------------
_G2_S = (
    f"CASE WHEN size({_TOKS_S}) < 2 THEN array() "
    f"ELSE transform(sequence(1, size({_TOKS_S}) - 1), "
    f"i -> concat_ws(' ', element_at({_TOKS_S}, i), element_at({_TOKS_S}, i + 1))) END"
)
_G2_D = (
    f"CASE WHEN len({_TOKS_D}) < 2 THEN [] "
    f"ELSE list_transform(range(1, len({_TOKS_D})), "
    f"i -> concat_ws(' ', ({_TOKS_D})[i], ({_TOKS_D})[i+1])) END"
)


@query(
    "text_quality_repetition",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_D} AS toks, {_G2_D} AS g2 FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           {T.stable_round("len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)")}
             AS uniq_token_ratio,
           {T.stable_round("CASE WHEN len(g2) = 0 THEN 0.0 ELSE"
                           " 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)"
                           " END")} AS dup_2gram_frac,
           {T.stable_round("list_sum(list_transform(toks, t -> length(t)))"
                           " / CAST(len(toks) AS DOUBLE)")} AS mean_word_len,
           (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) >= 0.3
            AND len(toks) >= 10) AS keep
    FROM d
    """,
)
def text_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition heuristics: duplicate-token and
    duplicate-2-gram fractions, mean word length, and the resulting
    keep/drop decision — the cheap first-pass quality gate of a
    pretraining pipeline (boilerplate and spam are repetitive).

    Scale: pure per-row expressions — no shuffle, no UDF; scales
    linearly with the scan and pushes the projection to parquet.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.expr(_TOKS_S).alias("toks"), F.expr(_G2_S).alias("g2")
    )
    uniq = "size(array_distinct(toks)) / CAST(size(toks) AS DOUBLE)"
    dup2 = (
        "CASE WHEN size(g2) = 0 THEN 0.0 ELSE"
        " 1.0 - size(array_distinct(g2)) / CAST(size(g2) AS DOUBLE) END"
    )
    mwl = (
        "aggregate(toks, 0, (acc, t) -> acc + length(t))"
        " / CAST(size(toks) AS DOUBLE)"
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(T.stable_round(uniq)).alias("uniq_token_ratio"),
        F.expr(T.stable_round(dup2)).alias("dup_2gram_frac"),
        F.expr(T.stable_round(mwl)).alias("mean_word_len"),
        F.expr(f"({uniq}) >= 0.3 AND size(toks) >= 10").alias("keep"),
    )


# ---------------------------------------------------------------------------
_QUOTA = 50  # docs kept per language stratum
# doc_id widens to BIGINT inside the expression (see
# operators/layout.py::LEHMER_ID — INT ids overflow otherwise); the
# shipped doc_id is already int64, so values are unchanged here.
_LEHMER2 = (
    "((((CAST(doc_id AS BIGINT) % 2147483647) + 2147483647) % 2147483647)"
    " * 48271 % 2147483647) * 48271 % 2147483647"
)


@query(
    "corpus_stratified_quota",
    oracle=f"""
    WITH d AS (SELECT lang, doc_id, {_LEHMER2} AS h FROM documents),
    r AS (SELECT lang, doc_id, h,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
                   AS rnk
          FROM d)
    SELECT lang, doc_id, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {_QUOTA}
    """,
)
def corpus_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with EXACT per-stratum quotas: keep the
    ``_QUOTA`` lowest-Lehmer-hash documents per language — the
    fixed-budget counterpart of rate-based mixing
    (``corpus_mix_sample``). Deterministic, so the selection is
    reproducible across runs, engines (hash-checked) and restarts —
    the property reservoir sampling with rand() lacks.

    Scale: one hash-partitioned window per stratum — exact quotas
    WITHOUT a global sort; each stratum sorts independently and in
    parallel. A hot stratum is one sort partition (AQE-skew
    territory); at 100 TB, pre-aggregate candidates per stratum with
    an approximate hash cutoff, then window only the survivors.
    """
    from pyspark.sql.functions import row_number

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("lang", "doc_id", F.expr(_LEHMER2).alias("h"))
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        d.withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _QUOTA)
        .select("lang", "doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
_BM25_TERMS = ("data", "spark", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_score_sql(dialect: str) -> str:
    """BM25 score as the same left-assoc IEEE expression in both
    dialects; column refs: tf{i}, df{i}, dl, n_docs, avgdl."""
    terms = []
    for i in range(len(_BM25_TERMS)):
        idf = f"ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        norm = f"(tf{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        terms.append(f"{idf} * (tf{i} * ({_BM25_K1} + 1.0)) / {norm}")
    return " + ".join(terms)


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, s) BM25 scores for the fixed query terms — ONE
    definition of the stats/tf/score plan shared by text_bm25_topk
    and hybrid_search_rrf (two verbatim copies had to be edited in
    lock-step). Broadcast one stats row; scoring is a per-row map."""
    from declarativeml_spark.operators.caching import track_persist

    # persisted: base feeds BOTH the corpus-stats aggregate and the
    # per-row scoring map — unpersisted, each re-ran scan + tokenize
    # (r11; the text_bigram_logprob shape)
    base = docs.select("doc_id", F.expr(_TOKS_S).alias("toks")).transform(
        track_persist
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size("toks").cast("bigint")).cast("double")
            / F.count("*").cast("double")
        ).alias("avgdl"),
        *[
            F.sum(F.array_contains("toks", t).cast("int"))
            .cast("double")
            .alias(f"df{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    scored = base.join(F.broadcast(stats)).select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[
            F.expr(f"CAST(size(filter(toks, x -> x = '{t}')) AS DOUBLE)").alias(
                f"tf{i}"
            )
            for i, t in enumerate(_BM25_TERMS)
        ],
        "n_docs",
        "avgdl",
        *[f"df{i}" for i in range(len(_BM25_TERMS))],
    )
    return scored.select(
        "doc_id", F.expr(_bm25_score_sql("spark")).alias("s")
    ).filter(F.col("s") > 0)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKS_D} AS toks FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(len(toks)) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                     {", ".join(
                         f"CAST(SUM(CASE WHEN list_contains(toks, '{t}')"
                         f" THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
                         for i, t in enumerate(_BM25_TERMS)
                     )}
              FROM base),
    scored AS (SELECT doc_id,
                      CAST(len(toks) AS DOUBLE) AS dl,
                      {", ".join(
                          f"CAST(len(list_filter(toks, x -> x = '{t}'))"
                          f" AS DOUBLE) AS tf{i}"
                          for i, t in enumerate(_BM25_TERMS)
                      )},
                      n_docs, avgdl,
                      {", ".join(f"df{i}" for i in range(len(_BM25_TERMS)))}
               FROM base CROSS JOIN stats),
    s AS (SELECT doc_id, {_bm25_score_sql("duck")} AS s FROM scored),
    ranked AS (SELECT doc_id, s,
                      ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rnk
               FROM s WHERE s > 0)
    SELECT doc_id, {T.stable_round("s")} AS bm25, rnk
    FROM ranked WHERE rnk <= {_BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (query: {data, spark, merge}) — the
    lexical leg of hybrid search, next to the embedding-ANN queries.

    Scale: corpus statistics (N, avgdl, per-term df) are ONE tiny
    aggregate row, broadcast back; scoring is then a pure per-row map
    with zero shuffle, and the global top-k is TakeOrderedAndProject
    (per-partition heaps + driver merge of k rows), never a full
    sort. ln() and the +/*// chain are IEEE-identical across engines,
    so ranks and scores hash-match.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = _bm25_scored(docs)
    top = s.orderBy(F.desc("s"), F.asc("doc_id")).limit(_BM25_TOPK)
    # rank window runs on <= k rows post-limit — never a global sort
    wr = W.orderBy(F.desc("s"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        F.expr(T.stable_round("s")).alias("bm25"),
        F.row_number().over(wr).alias("rnk"),
    )


# ---------------------------------------------------------------------------
_WS_N = 200  # weighted-sample budget (docs kept)
_LEHMER_M = 2147483647


@query(
    "corpus_weighted_sample",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      CAST(len({_TOKS_D}) AS DOUBLE) + 1.0 AS w,
                      ({_LEHMER2}) AS h
               FROM documents),
    keyed AS (SELECT doc_id, w,
                     -ln((h + 1.0) / {_LEHMER_M + 1}.0) / w AS skey
              FROM d),
    ranked AS (SELECT doc_id, w, skey,
                      ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rnk
               FROM keyed)
    SELECT doc_id, CAST(w AS BIGINT) AS weight,
           {T.stable_round("skey", 8)} AS sample_key,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_WS_N}
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-ES): keep the ``_WS_N`` documents with the smallest
    ``-ln(u)/w`` key, where ``u`` derives from a Lehmer hash of
    doc_id and ``w`` is the document's weight (here token count + 1 —
    the stand-in for a learned quality weight). Equivalent to keeping
    the largest ``u^(1/w)`` — each doc's inclusion probability is
    proportional to its weight, yet the draw is fully deterministic:
    reproducible across runs, engines (hash-checked) and restarts,
    which rand()-based reservoir sampling is not.

    Scale: the top-N cut is ``orderBy().limit()`` →
    TakeOrderedAndProject (per-partition heaps + driver merge of N
    rows) — never a global sort; key computation is a shuffle-free
    per-row map. ln() is IEEE-identical across engines (proven by the
    hash-checked BM25 idf).
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.expr(f"CAST(size({_TOKS_S}) AS DOUBLE) + 1.0").alias("w"),
        F.expr(_LEHMER2).alias("h"),
    ).withColumn(
        "skey",
        F.expr(f"-ln((h + 1.0) / {_LEHMER_M + 1}.0) / w"),
    )
    top = keyed.orderBy(F.asc("skey"), F.asc("doc_id")).limit(_WS_N)
    wr = W.orderBy(F.asc("skey"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        F.col("w").cast("bigint").alias("weight"),
        F.expr(T.stable_round("skey", 8)).alias("sample_key"),
        F.row_number().over(wr).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
_PR_D = 0.85  # damping
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank in DuckDB, mirroring the Spark
    loop step for step: same edge weights, same DECIMAL(38,12)
    contribution sums (exact, order-independent — the dsum pattern),
    same leaky handling of dangling mass."""
    edges = """
    SELECT ns.n_name AS src, nc.n_name AS dst,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS w
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    GROUP BY ns.n_name, nc.n_name
    """
    it = """
    SELECT n.node,
           (1.0 - {d}) / nn.cnt + {d} * COALESCE(c.contrib, 0.0) AS rank
    FROM nodes n
    CROSS JOIN ncount nn
    LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(r.rank * e.wn AS DECIMAL(38,12))) AS DOUBLE)
                   AS contrib
        FROM enorm e JOIN {prev} r ON e.src = r.node
        GROUP BY e.dst
    ) c ON c.node = n.node
    """
    sql = f"""
    WITH edges AS ({edges}),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst AS node FROM edges),
    ncount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
    outw AS (SELECT src, CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE)
                        AS total FROM edges GROUP BY src),
    enorm AS (SELECT e.src, e.dst, e.w / o.total AS wn
              FROM edges e JOIN outw o ON e.src = o.src),
    r0 AS (SELECT node, 1.0 / (SELECT cnt FROM ncount) AS rank FROM nodes),
    r1 AS ({it.format(d=_PR_D, prev='r0')}),
    r2 AS ({it.format(d=_PR_D, prev='r1')}),
    r3 AS ({it.format(d=_PR_D, prev='r2')})
    SELECT node AS nation, {T.stable_round("rank", 10)} AS pagerank
    FROM r3
    """
    return sql


@query("nation_trade_pagerank", oracle=_pagerank_oracle())
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade-flow graph (supplier
    nation → customer nation, edge weight = revenue): the
    link-authority signal pretraining pipelines use for source
    quality weighting, expressed as an iterative DataFrame algorithm
    with bit-exact cross-engine parity.

    Determinism: contribution sums go through DECIMAL(38,12) (exact,
    order-independent — shuffle order cannot change the result), the
    iteration count is fixed, and dangling mass leaks identically in
    both engines, so three unrolled iterations hash-match a DuckDB
    CTE chain.

    Scale: each iteration is one equi-join of edges with the rank
    vector on src plus one groupBy(dst) — both shuffle slim
    (node, double) rows only; the edge list itself never moves after
    the initial normalization. At 1e9+ nodes the rank vector
    co-partitions with the edge src key (bucketing), making the join
    shuffle-free; dedup_clusters' persist-per-round discipline
    applies to the rank frontier.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"),
                                 F.col("n_name").alias("src"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"),
                                 F.col("n_name").alias("dst"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .groupBy("src", "dst")
        .agg(F.sum(rev).cast("double").alias("w"))
    )
    from declarativeml_spark.operators.caching import track_persist

    edges = edges.transform(track_persist)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(track_persist)
    )
    n_nodes = float(nodes.count())
    outw = edges.groupBy("src").agg(
        F.sum(F.col("w").cast("decimal(38,6)")).cast("double").alias("total")
    )
    enorm = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("total")).alias("wn"))
        .transform(track_persist)
    )
    from declarativeml_spark.operators.caching import release_checkpoint

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    prev = None
    for _it in range(_PR_ITERS):
        contrib = (
            enorm.join(ranks, enorm.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("wn")).cast("decimal(38,12)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("contrib"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit((1.0 - _PR_D) / n_nodes)
                + _PR_D * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
        # localCheckpoint (eager) both materializes the iteration and
        # truncates the plan to a leaf RDD scan — persist alone keeps
        # the full unrolled lineage in the logical plan (the r3 audit
        # measured 308 Exchange nodes in the final tree), which
        # Catalyst re-analyzes on every downstream use. Values are
        # unchanged; the rank frontier is (nation, double)-sized.
        # unpersist() can't free checkpoint blocks, so release each
        # superseded generation explicitly once the next one exists.
        # r12: checkpoint every SECOND iteration instead of every one
        # (guide §1.2 — each eager checkpoint is a full job-launch
        # floor on a 25-row frontier; a fixed-iteration loop computes
        # identical values wherever the plan is cut), and never on the
        # final iteration — the caller's action materializes that one.
        # At most one unrolled iteration (join+agg over the PERSISTED
        # enorm/nodes planes) rides each job, so plan growth stays
        # bounded at any _PR_ITERS.
        if (_it + 1) % 2 == 0 and (_it + 1) < _PR_ITERS:
            ranks = ranks.localCheckpoint(eager=True)
            if prev is not None:
                release_checkpoint(prev)
            prev = ranks
    return ranks.select(
        F.col("node").alias("nation"),
        F.expr(T.stable_round("rank", 10)).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
_RRF_K = 60  # reciprocal-rank-fusion constant
_RRF_LEG_N = 50  # per-leg candidate depth
_RRF_TOPK = 20
_DOT2_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM2_S = (
    "sqrt(aggregate({a}, CAST(0.0 AS DOUBLE),"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)
_DOT2_D = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM2_D = (
    "sqrt(list_sum(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _hybrid_oracle() -> str:
    # nullif: zero-norm guard mirrored with the Spark leg (ANSI
    # div-by-0 there, IEEE inf here — NULL in both, ranked last)
    cos = (
        f"{_DOT2_D.format(a='q.qe', b='e.embedding')}"
        f" / nullif({_NORM2_D.format(a='q.qe')}"
        f" * {_NORM2_D.format(a='e.embedding')}, 0)"
    )
    return f"""
    WITH base AS (SELECT doc_id, {_TOKS_D} AS toks FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(len(toks)) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                     {", ".join(
                         f"CAST(SUM(CASE WHEN list_contains(toks, '{t}')"
                         f" THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
                         for i, t in enumerate(_BM25_TERMS)
                     )}
              FROM base),
    scored AS (SELECT doc_id,
                      CAST(len(toks) AS DOUBLE) AS dl,
                      {", ".join(
                          f"CAST(len(list_filter(toks, x -> x = '{t}'))"
                          f" AS DOUBLE) AS tf{i}"
                          for i, t in enumerate(_BM25_TERMS)
                      )},
                      n_docs, avgdl,
                      {", ".join(f"df{i}" for i in range(len(_BM25_TERMS)))}
               FROM base CROSS JOIN stats),
    s AS (SELECT doc_id, {_bm25_score_sql("duck")} AS s FROM scored),
    lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rnk_b
            FROM s WHERE s > 0),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    vec AS (SELECT e.vec_id, {cos} AS cos
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
    sem AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk_v
            FROM vec),
    fused AS (
        SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
               COALESCE(1.0 / ({_RRF_K} + l.rnk_b), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + v.rnk_v), 0.0) AS rrf
        FROM (SELECT * FROM lex WHERE rnk_b <= {_RRF_LEG_N}) l
        FULL OUTER JOIN (SELECT * FROM sem WHERE rnk_v <= {_RRF_LEG_N}) v
          ON l.doc_id = v.vec_id
    ),
    ranked AS (SELECT doc_id, rrf,
                      ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rnk
               FROM fused)
    SELECT doc_id, {T.stable_round("rrf", 8)} AS rrf_score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_RRF_TOPK}
    """


@query("hybrid_search_rrf", oracle=_hybrid_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical leg, query {data, spark,
    merge}) fused with embedding cosine (semantic leg, query vector =
    embedding 0) by reciprocal-rank fusion — the standard RAG
    retrieval shape, end-to-end on DataFrames and hash-checked.

    RRF(d) = sum over legs of 1/(k + rank_leg(d)), k=60: rank-based,
    so the two legs' incomparable score scales never mix — and ranks
    are integers, making the fusion exactly reproducible across
    engines (the per-leg tie-breaks are deterministic by id).

    Scale: each leg is the already-proven shape (BM25: broadcast
    stats + per-row scoring + TakeOrdered; cosine: broadcast query
    vector + per-partition scoring + TakeOrdered); the fusion joins
    two <=``_RRF_LEG_N``-row frames — driver-trivial at any corpus
    size.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    s = _bm25_scored(docs)
    lex = (
        s.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_RRF_LEG_N)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("s"), F.asc("doc_id")))
            .alias("rnk_b"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cos = F.expr(
        f"{_DOT2_S.format(a='qe', b='embedding')}"
        f" / nullif({_NORM2_S.format(a='qe')}"
        f" * {_NORM2_S.format(a='embedding')}, 0)"
    )
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select("vec_id", cos.alias("cos"))
    )
    sem = (
        vec.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_RRF_LEG_N)
        .select(
            "vec_id",
            F.row_number()
            .over(W.orderBy(F.desc("cos"), F.asc("vec_id")))
            .alias("rnk_v"),
        )
    )
    fused = (
        lex.join(sem, lex.doc_id == sem.vec_id, "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            (
                F.coalesce(1.0 / (_RRF_K + F.col("rnk_b")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rnk_v")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_RRF_TOPK)
    return top.select(
        "doc_id",
        F.expr(T.stable_round("rrf", 8)).alias("rrf_score"),
        F.row_number()
        .over(W.orderBy(F.desc("rrf"), F.asc("doc_id")))
        .cast("bigint")
        .alias("rnk"),
    )


# ---------------------------------------------------------------------------
_HOT_KEYS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
)
_HOT_TOPN = 10


def _hotspots_oracle() -> str:
    legs = "\n    UNION ALL\n    ".join(
        f"SELECT '{t}' AS tname, '{c}' AS kname,"
        f" CAST({c} AS BIGINT) AS keyval,"
        f" CAST(COUNT(*) AS BIGINT) AS cnt FROM {t} GROUP BY {c}"
        for t, c in _HOT_KEYS
    )
    return f"""
    WITH counts AS (
    {legs}
    ),
    ranked AS (
        SELECT tname, kname, keyval, cnt,
               cnt / CAST(SUM(cnt) OVER (PARTITION BY tname, kname)
                          AS DOUBLE) AS share,
               ROW_NUMBER() OVER (PARTITION BY tname, kname
                                  ORDER BY cnt DESC, keyval) AS rnk
        FROM counts
    )
    SELECT tname, kname, keyval, cnt,
           {T.stable_round("share", 8)} AS share,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_HOT_TOPN}
    """


@query("join_key_hotspots", oracle=_hotspots_oracle())
def join_key_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics: the top heavy-hitter values of every hot join
    key, with their share of the table — the measurement that decides
    between a plain shuffle join, AQE skew splitting, and manual
    salting. At 100 TB you run THIS before tuning, not after the job
    dies.

    Scale: per-key counts are map-side-combinable aggregates; the
    share/rank windows run over the already-aggregated (key, cnt)
    frame — distinct key values, not rows — partitioned by key name.
    It finds the keys that queries/pipeline10.py::salted_skew_join's
    salting rewrite is for.
    """
    parts = []
    for t, c in _HOT_KEYS:
        df = load_table(spark, sf_dir, t)
        parts.append(
            df.groupBy(F.col(c).cast("bigint").alias("keyval"))
            .agg(F.count("*").alias("cnt"))
            .select(
                F.lit(t).alias("tname"),
                F.lit(c).alias("kname"),
                "keyval",
                "cnt",
            )
        )
    counts = parts[0]
    for p in parts[1:]:
        counts = counts.unionByName(p)
    wshare = W.partitionBy("tname", "kname")
    wrank = W.partitionBy("tname", "kname").orderBy(
        F.desc("cnt"), F.asc("keyval")
    )
    return (
        counts.withColumn(
            "share",
            F.col("cnt") / F.sum("cnt").over(wshare).cast("double"),
        )
        .withColumn("rnk", F.row_number().over(wrank).cast("bigint"))
        .filter(F.col("rnk") <= _HOT_TOPN)
        .select(
            "tname",
            "kname",
            "keyval",
            "cnt",
            F.expr(T.stable_round("share", 8)).alias("share"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
_E2E_QUOTA = 60  # per-language budget after cleaning
_E2E_CTX = 512
_E2E_BUCKETS = 8


def _e2e_oracle() -> str:
    from declarativeml_spark.operators.textops import (
        FINGERPRINT_DUCK,
    )

    fp = FINGERPRINT_DUCK.format(text="text")
    uniq = "len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)"
    return f"""
    WITH d AS (SELECT doc_id, lang, text, {_TOKS_D} AS toks,
                      {_FP_D} AS hs FROM documents),
    bench AS (SELECT DISTINCT unnest(hs) AS h FROM d WHERE doc_id % 23 = 5),
    corp AS (SELECT * FROM d WHERE doc_id % 23 <> 5),
    quality AS (SELECT * FROM corp
                WHERE {uniq} >= 0.3 AND len(toks) >= 10),
    ov AS (SELECT q.doc_id, COUNT(*) AS overlap
           FROM quality q, unnest(q.hs) AS t(h)
           JOIN bench b ON t.h = b.h GROUP BY q.doc_id),
    clean AS (SELECT q.* FROM quality q
              LEFT JOIN ov ON q.doc_id = ov.doc_id
              WHERE COALESCE(ov.overlap, 0) < 3),
    dedup AS (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY {fp} ORDER BY doc_id) AS dup_rnk
              FROM clean),
    survivors AS (SELECT doc_id, lang, toks,
                         ({_LEHMER2}) AS h
                  FROM dedup WHERE dup_rnk = 1),
    quota AS (SELECT doc_id, lang, toks,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY h, doc_id) AS q_rnk
              FROM survivors),
    kept AS (SELECT doc_id, lang,
                    CAST(len(toks) AS BIGINT) AS n_tokens,
                    doc_id % {_E2E_BUCKETS} AS bucket
             FROM quota WHERE q_rnk <= {_E2E_QUOTA}),
    packed AS (SELECT doc_id, lang, n_tokens, bucket,
                      CAST(COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY bucket ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS cum
               FROM kept)
    SELECT doc_id, lang, n_tokens, bucket,
           CAST(FLOOR(cum / {_E2E_CTX}.0) AS BIGINT) AS chunk_id,
           cum % {_E2E_CTX} AS chunk_offset
    FROM packed
    """


@query("pipeline_pretraining_corpus", oracle=_e2e_oracle())
def pipeline_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining corpus pipeline as ONE declarative
    plan: repetition-quality gate → benchmark decontamination → exact
    dedup → per-language quota → concatenate-and-chunk packing. Every
    stage is the already-hash-checked operator; this query proves they
    COMPOSE — Catalyst fuses the per-row stages into the same scan and
    the composite still hash-matches DuckDB end to end.

    Scale: the per-row stages (quality, fingerprints) are one fused
    scan; decontamination broadcasts the benchmark; dedup and quota
    are slim windowed shuffles (fingerprint / lang keys); packing
    windows per bucket. Nothing materializes between stages — at
    100 TB the whole pipeline is one job with four slim exchanges.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from declarativeml_spark.operators.corpus import fp_sample_spark
    from declarativeml_spark.operators.textops import FINGERPRINT_SPARK

    from declarativeml_spark.operators.caching import track_persist

    # Two-stage derivation with a CACHE BOUNDARY between tokenize and
    # gram-hash: building grams directly from text lets CollapseProject
    # inline the split() into every element_at inside the gram lambda,
    # and HOF projections evaluate INTERPRETED (no codegen, no
    # common-subexpression elimination) — the text re-splits 4x per
    # gram, quadratic per row (measured 20-30s vs ~3s at sf0.1). The
    # cached toks column makes element_at an O(1) array access; the
    # persisted d then feeds the three downstream branches (benchmark
    # explode, quality chain, decontam join-back) without replay.
    d1 = docs.select(
        "doc_id", "lang", "text", F.expr(_TOKS_S).alias("toks")
    ).transform(track_persist)
    from declarativeml_spark.operators.corpus import fp_sample_from_toks_spark

    d = d1.select(
        "doc_id",
        "lang",
        "text",
        "toks",
        F.expr(fp_sample_from_toks_spark("toks")).alias("hs"),
    ).transform(track_persist)
    bench = (
        d.filter(F.col("doc_id") % 23 == 5)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    corp = d.filter(F.col("doc_id") % 23 != 5)
    uniq = "size(array_distinct(toks)) / CAST(size(toks) AS DOUBLE)"
    quality = corp.filter(
        F.expr(f"({uniq}) >= 0.3 AND size(toks) >= 10")
    ).transform(track_persist)
    ov = (
        quality.select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("h").alias("overlap"))
    )
    clean = (
        quality.join(ov, "doc_id", "left")
        .filter(F.coalesce(F.col("overlap"), F.lit(0)) < 3)
        .drop("overlap")
    )
    fp = F.expr(FINGERPRINT_SPARK.format(text="text"))
    w_dup = W.partitionBy(fp).orderBy("doc_id")
    survivors = (
        clean.withColumn("dup_rnk", F.row_number().over(w_dup))
        .filter(F.col("dup_rnk") == 1)
        .select("doc_id", "lang", "toks", F.expr(_LEHMER2).alias("h"))
    )
    w_quota = W.partitionBy("lang").orderBy("h", "doc_id")
    kept = (
        survivors.withColumn("q_rnk", F.row_number().over(w_quota))
        .filter(F.col("q_rnk") <= _E2E_QUOTA)
        .select(
            "doc_id",
            "lang",
            F.size("toks").cast("bigint").alias("n_tokens"),
            (F.col("doc_id") % _E2E_BUCKETS).alias("bucket"),
        )
    )
    w_pack = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w_pack), F.lit(0)).cast("bigint")
    packed = kept.withColumn("cum", cum)
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        "bucket",
        F.expr(f"CAST(FLOOR(cum / {_E2E_CTX}.0) AS BIGINT)").alias("chunk_id"),
        (F.col("cum") % _E2E_CTX).alias("chunk_offset"),
    )
