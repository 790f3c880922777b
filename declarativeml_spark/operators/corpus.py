"""Corpus-preparation operators: benchmark decontamination and
concatenate-and-chunk sequence packing.

Shared by the oracle-checked queries (queries/pipeline2.py) and the
DSL statements (``DECONTAMINATE`` / ``PACK``, engine.py) so both
paths execute the identical plan. Expression templates come in
Spark/DuckDB pairs — the DuckDB forms feed the oracle SQL — and
follow the cross-engine conventions of operators/textops.py (md5-only
hashing, stable_round, fixed-width hex collation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from declarativeml_spark.operators import textops as T


def grams4_duck(text: str) -> str:
    toks = rf"string_split_regex(trim({text}), '\s+')"
    return (
        f"CASE WHEN len({toks}) < 4 THEN [array_to_string({toks}, ' ')] "
        f"ELSE list_transform(range(1, len({toks}) - 2), "
        f"i -> concat_ws(' ', ({toks})[i], ({toks})[i+1],"
        f" ({toks})[i+2], ({toks})[i+3])) END"
    )


def fp_sample_spark(text: str) -> str:
    """Deterministic 1/2 sample of a doc's distinct 4-gram md5
    fingerprints (hex < '8') — bounds decontamination join volume the
    same way winnowing bounds copy-detection. Delegates to the
    toks-input form so the sample has one definition per engine."""
    return fp_sample_from_toks_spark(rf"split(trim({text}), '\\s+')")


def fp_sample_duck(text: str) -> str:
    return (
        f"list_distinct(list_filter(list_transform({grams4_duck(text)},"
        " g -> md5(g)), h -> h < '8'))"
    )


# Token-array-input forms: building grams straight from text lets
# CollapseProject inline the split() into every element_at inside the
# gram lambda, and HOF projections evaluate INTERPRETED (no codegen →
# no common-subexpression elimination), so the text re-splits 4x per
# gram — quadratic per row (measured ~12s → ~1.7s at sf0.1 for the
# cross-source overlap). Callers materialize a ``toks`` column behind
# a cache boundary (track_persist) and derive grams from it.
def grams4_from_toks_spark(toks: str) -> str:
    return (
        f"CASE WHEN size({toks}) < 4 THEN array(concat_ws(' ', {toks})) "
        f"ELSE transform(sequence(1, size({toks}) - 3), "
        f"i -> concat_ws(' ', element_at({toks}, i), element_at({toks}, i + 1),"
        f" element_at({toks}, i + 2), element_at({toks}, i + 3))) END"
    )


def fp_sample_from_toks_spark(toks: str) -> str:
    return (
        f"array_distinct(filter(transform({grams4_from_toks_spark(toks)},"
        " g -> md5(g)), h -> h < '8'))"
    )


def fingerprint_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, hs = winnow-sampled 4-gram fingerprints) with the
    tokenize→gram cache boundary applied. The returned frame's
    persisted ancestor is owned by the caller's tracking scope
    (operators/caching.py), like every track_persist frame."""
    from declarativeml_spark.operators.caching import track_persist
    from declarativeml_spark.operators.textops import TOKENS_SPARK

    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(TOKENS_SPARK.format(text=text_col)).alias("toks"),
    ).transform(track_persist)
    return toked.select(
        "doc_id", F.expr(fp_sample_from_toks_spark("toks")).alias("hs")
    )


def temperature_mix(df: DataFrame, by_col: str = "source") -> DataFrame:
    """Temperature-scaled mixing weights per group (T = 2, i.e.
    sqrt): (group, n_docs, nat_share, temp_weight, boost). Shared by
    the ``MIX`` DSL statement and the oracle-checked
    ``corpus_temperature_mix`` query — see queries/pipeline5.py for
    the cross-engine determinism notes (sqrt is correctly rounded;
    the sqrt-sum goes through DECIMAL(38,12)).

    Scale: one counting scan; everything downstream runs on the
    n_groups-row aggregate crossed with a single broadcast totals
    row.
    """
    # the group column keeps its input name: MIX ... BY lang yields a
    # `lang` column, not a misnamed `source`
    s = df.groupBy(F.col(by_col).alias(by_col)).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    t = s.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum(F.sqrt(F.col("n_docs").cast("double")).cast("decimal(38,12)"))
        .cast("double")
        .alias("total_sqrt"),
    )
    nat = F.col("n_docs").cast("double") / F.col("total_docs")
    tw = F.sqrt(F.col("n_docs").cast("double")) / F.col("total_sqrt")
    return s.crossJoin(F.broadcast(t)).select(
        F.col(by_col),
        "n_docs",
        T.sround(nat, 6).alias("nat_share"),
        T.sround(tw, 6).alias("temp_weight"),
        T.sround(tw / nat, 6).alias("boost"),
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_overlap: int = 3,
) -> DataFrame:
    """Flag corpus documents sharing >= ``min_overlap`` word-4-gram
    fingerprints with any benchmark document (GPT-3/Pile-style
    pretraining decontamination).

    Scale: eval sets are MBs against a 100 TB corpus — the
    benchmark's distinct fingerprints BROADCAST, the corpus-side
    explode+join is map-side (corpus text never shuffles), and only
    (doc_id, count) rows shuffle for the final aggregate. The corpus
    fingerprints derive through the tokenize→gram cache boundary
    (``fingerprint_frame``), and the (doc_id, hs) frame is persisted
    once because two plan branches (size + explode-join) read it.
    """
    from declarativeml_spark.operators.caching import track_persist

    corp = fingerprint_frame(corpus, id_col, text_col).transform(track_persist)
    bench = (
        benchmark.select(
            F.explode(F.expr(fp_sample_spark(text_col))).alias("h")
        ).distinct()
    )
    ex = corp.select("doc_id", F.explode("hs").alias("h"))
    ov = (
        ex.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("h").alias("overlap"))
    )
    return (
        corp.select("doc_id", F.size("hs").cast("bigint").alias("n_grams"))
        .join(ov, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("overlap"), F.lit(0)).cast("bigint").alias(
                "overlap_grams"
            ),
            (F.coalesce(F.col("overlap"), F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def pack_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    context: int = 512,
    buckets: int = 8,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: assign every document a
    (bucket, chunk_id, offset) position in fixed ``context``-token
    windows — the LLM-pretraining batch layout.

    Scale: packing is a RUNNING SUM; a global ordered window would be
    a single-partition sort (dies at 100 TB). The corpus
    hash-partitions into ``buckets`` independent packing streams, the
    window sorts within buckets only, and (bucket, chunk_id) is the
    global chunk key. Deterministic in ``id_col``, so the layout is
    reproducible across runs and engines.
    """
    # bucketing is `id % buckets`, which needs a NUMERIC id: a string
    # id would raise CAST_INVALID_INPUT under ANSI — or, with ANSI
    # off, collapse every row into one NULL bucket (the exact
    # single-stream sort this function exists to avoid). Refuse
    # loudly at plan time instead of either.
    id_type = dict(df.dtypes).get(id_col, "")
    if not (
        id_type in ("tinyint", "smallint", "int", "bigint")
        or id_type.startswith("decimal")
    ):
        raise ValueError(
            f"pack_chunks needs an integer id column for bucketing;"
            f" {id_col!r} is {id_type or 'missing'} — supply a numeric"
            " id (e.g. xxhash64 the string key first)"
        )
    toks = rf"split(trim({text_col}), '\\s+')"
    d = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % buckets).alias("bucket"),
        F.expr(f"size({toks})").cast("bigint").alias("n_tokens"),
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    d = d.withColumn("cum", cum)
    chunk_id = F.expr(f"CAST(FLOOR(cum / {context}.0) AS BIGINT)")
    end_chunk = F.expr(
        f"CAST(FLOOR((cum + n_tokens - 1) / {context}.0) AS BIGINT)"
    )
    return d.select(
        "doc_id",
        "bucket",
        "n_tokens",
        chunk_id.alias("chunk_id"),
        (F.col("cum") % context).alias("chunk_offset"),
        (end_chunk - chunk_id + 1).alias("chunks_spanned"),
    )


def chunk_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    win: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping context-window chunking: stride-``stride`` windows
    of ``win`` tokens per document — the retrieval/finetuning-side
    counterpart of ``pack_chunks`` (which packs disjoint windows
    across documents; this slices overlapping windows within one).

    Returns (doc_id, win_id, n_win_tokens, chunk) — ``chunk`` is the
    window's text. A document shorter than ``win`` yields exactly one
    (possibly short) window; every non-final window is exactly
    ``win`` tokens.

    Scale: sequence + posexplode + slice are all codegen'd per-row
    ops — zero shuffle; output volume is input x (win/stride overlap
    factor), and the slice bounds move no data anywhere.
    """
    if stride <= 0 or win <= 0:
        raise ValueError("win and stride must be positive")
    if stride > win:
        raise ValueError("stride must be <= win (windows must cover all tokens)")
    toks = rf"split(trim({text_col}), '\\s+')"
    n_win = f"int(greatest(ceil((size(toks) - {win}) / {stride}.0), 0))"
    sl = f"slice(toks, win_id * {stride} + 1, {win})"
    return (
        df.select(F.col(id_col).alias("doc_id"), F.expr(toks).alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.posexplode(F.expr(f"sequence(0, {n_win})")).alias("win_id", "_"),
        )
        .select(
            "doc_id",
            F.col("win_id").cast("bigint").alias("win_id"),
            F.expr(f"size({sl})").cast("bigint").alias("n_win_tokens"),
            F.expr(f"array_join({sl}, ' ')").alias("chunk"),
        )
    )


def dsir_weights(
    df: DataFrame,
    target_col: str = "source",
    target_value: str = "src0",
    buckets: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-document
    ``Σ_tokens [ln p̂_target(bkt) − ln p̂_raw(bkt)]`` over hashed
    unigram buckets, against the distribution of rows where
    ``target_col == target_value``. Positive = more target-like; a
    resampling pass keeps the top mass.

    Backs the ``WEIGH`` DSL statement; the oracle-checked top-k twin
    is queries/pipeline8.py::dsir_importance_weights (same math —
    the query wraps this plan shape with a fixed target and a
    TakeOrdered cut).

    Scale: the feature space is ``buckets`` hashed ids — the stats
    plane collects to the driver (bounded by the bucket constant) and
    rejoins as a literal broadcast table; data-proportional work is
    one token explode, one map-side-combinable bucket count, and one
    per-document DECIMAL combine.
    """
    from declarativeml_spark.operators.caching import track_persist
    from declarativeml_spark.operators.textops import _hex4_int, spread

    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    toks = T.TOKENS_SPARK.format(text=text_col)
    bkt = f"(({_hex4_int('__w')}) % {buckets})"
    # tokenize is the CPU-heavy pass; re-spread a single-split scan
    # so it uses the whole cluster (no-op when the scan is already
    # wide). Downstream is purely key-based, so placement is free.
    df = spread(df.select(id_col, target_col, text_col))
    ll = (
        f"ln((tc + 1.0) / (ttot + {buckets}.0))"
        f" - ln((rc + 1.0) / (rtot + {buckets}.0))"
    )
    bk = track_persist(
        df.select(
            F.col(id_col).alias("doc_id"),
            (F.col(target_col) == target_value).cast("long").alias("__is_t"),
            F.explode(F.expr(toks)).alias("__w"),
        ).select("doc_id", "__is_t", F.expr(bkt).alias("bkt"))
    )
    stat_rows = (
        bk.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rc"),
            F.sum("__is_t").cast("long").alias("tc"),
        )
        .collect()
    )
    rtot = sum(r["rc"] for r in stat_rows)
    ttot = sum(r["tc"] for r in stat_rows)
    spark = df.sparkSession
    stats = spark.createDataFrame(
        [(r["bkt"], r["rc"], r["tc"]) for r in stat_rows],
        "bkt int, rc long, tc long",
    )
    tots = spark.createDataFrame([(rtot, ttot)], "rtot long, ttot long")
    return (
        bk.join(F.broadcast(stats), "bkt")
        .crossJoin(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.expr(ll).cast("decimal(38,12)"))
            .cast("double")
            .alias("log_weight"),
        )
    )


def semantic_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: per corpus vector,
    its max cosine to the (broadcast) benchmark set, the nearest
    benchmark id (ties to the smaller id), and a contamination flag.
    The paraphrase-robust complement of ``benchmark_overlap``; the
    oracle-checked twin is
    queries/pipeline8.py::decontam_semantic_overlap.

    Scale: the benchmark is an eval suite — small by contract — so it
    broadcasts and the corpus never shuffles for scoring; the argmax
    window partitions per corpus vector over its |benchmark|-bounded
    candidate list. Benchmark must be non-empty (an empty benchmark
    yields an empty result, matching the join semantics).
    """
    from declarativeml_spark.queries.pipeline import _DOT_S, _NORM_S

    q = benchmark.select(
        F.col(bench_id_col).cast("long").alias("qid"),
        F.col(bench_vec_col).cast("array<double>").alias("qe"),
    )
    c = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("ce"),
    )
    # nullif: a zero-norm vector must score NULL (ranked last, NULL
    # flag), not raise ANSI DIVIDE_BY_ZERO — same guard in the oracle
    cos = (
        f"({_DOT_S.format(a='ce', b='qe')}"
        f" / nullif({_NORM_S.format(a='ce')} * {_NORM_S.format(a='qe')}, 0))"
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn("cos", F.expr(cos))
    w = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("qid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("qid").alias("nearest_benchmark"),
            T.sround("cos", 8).alias("max_cosine"),
            (F.col("cos") >= threshold).alias("contaminated"),
        )
    )
