"""Text-analysis column builders: tokens, shingles, minhash, simhash,
fingerprints, language scores, quality scores.

These are the building blocks for the training-data pipeline operators
(dedup, language filter, quality filter) that the north-star brief
adds beyond the reference surface (BASELINE.json). Everything here is
a pure JVM SQL expression — per-row, no shuffle, whole-stage codegen —
so the operators scale linearly with input and the only shuffles are
the explicit joins/aggs in the queries that use them.

Cross-engine determinism: every function documents its DuckDB
equivalent (used in the oracle SQL). md5 hex, 1-based substr/instr,
and IEEE double arithmetic are bit-identical across engines; element
order of array_distinct is NOT (never compare distinct arrays — only
sizes, mins, and membership).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- tokenization -----------------------------------------------------------
TOKENS_SPARK = r"split(trim({text}), '\\s+')"


def spread(df, min_parallelism: int | None = None):
    """Re-spread a narrow scan across the cluster before a CPU-heavy
    per-row pass (regex tokenize, shingling, hashing).

    A small parquet file arrives as ONE input split, so a 5 MB
    documents table would push its whole tokenize/explode through a
    single task while 31 cores idle. When the scan has fewer
    partitions than the cluster's parallelism, a round-robin
    repartition (tiny shuffle: the narrow projection itself) buys
    full-width CPU. At real scale the scan already splits by
    ``spark.sql.files.maxPartitionBytes`` and this is a no-op — the
    guard makes it safe to leave in the operator permanently.

    Only for plans where round-robin placement must not matter:
    key-based downstreams (joins/groupBys) or pure per-row maps
    (mapInPandas codec chains). Spark's round-robin
    repartition locally sorts rows first, so the placement itself is
    deterministic across retries.

    Know what it CANNOT fix: the parquet decode itself still happens
    in the single scan task, before the exchange. Spreading pays off
    only when downstream per-row CPU (regex tokenize, shingling,
    wide-array folds) dominates the decode; for parse-bound plans
    (plain column aggregation) or frames so small that per-task
    overhead dominates (a dimension-sized vector table), it just adds
    an exchange — measured both ways on this corpus before choosing
    the call sites.
    """
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    # the df.rdd partition probe is free for a pure scan/project/
    # filter plan, but on a shuffle-bearing plan (joins, aggregates —
    # e.g. a DSL statement over a subquery fragment) it forces AQE to
    # EXECUTE every upstream stage just to count partitions. Those
    # plans are already at the configured shuffle width, so skip the
    # probe (and the respread) for them.
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        plan = ""
    # "Repartition n, true" is a shuffle; "Repartition n, false" is a
    # coalesce — narrow, safe (and worth) probing
    if re.search(
        r"\bJoin\b|\bAggregate\b|\bWindow\b|\bSort\b|Repartition \d+, true",
        plan,
    ):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
TOKENS_DUCK = r"string_split_regex(trim({text}), '\s+')"


def tokens(text_col: str = "text") -> Column:
    return F.expr(TOKENS_SPARK.format(text=text_col))


# --- word 3-gram shingles ----------------------------------------------------
SHINGLES_SPARK = (
    "CASE WHEN size({toks}) < 3 THEN array(concat_ws(' ', {toks})) "
    "ELSE array_distinct(transform(sequence(1, size({toks}) - 2), "
    "i -> concat_ws(' ', element_at({toks}, i), element_at({toks}, i + 1), "
    "element_at({toks}, i + 2)))) END"
)
SHINGLES_DUCK = (
    "CASE WHEN len({toks}) < 3 THEN [array_to_string({toks}, ' ')] "
    "ELSE list_distinct(list_transform(range(1, len({toks}) - 1), "
    "i -> concat_ws(' ', {toks}[i], {toks}[i + 1], {toks}[i + 2]))) END"
)


# --- minhash signature --------------------------------------------------------
# k-th minhash = lexicographic min over shingles of an 8-hex-char
# (32-bit) slice of a salted md5: group g = k // 4 salts ONE md5 per
# shingle and slice k % 4 cuts its bits — one md5 evaluation feeds 4
# minhash tables, 4x less hashing than salting per table (md5 is the
# only cross-engine-identical hash, and it dominated the minhash
# queries' runtime on BOTH engines). Fixed-width lowercase hex means
# lexicographic min == numeric min of the slice in both engines; a
# 32-bit slice collision can only add a false candidate, which the
# exact-Jaccard verify stage removes identically on both engines.
def minhash_md5_group_spark(shingles: str, g: int) -> str:
    """Spark: one salted md5 per shingle for minhash group ``g``."""
    return f"transform({shingles}, s -> md5(concat('{g}:', s)))"


def minhash_md5_group_duck(shingles: str, g: int) -> str:
    return f"list_transform({shingles}, s -> md5(concat('{g}:', s)))"


def minhash_slice_spark(group_col: str, off: int) -> str:
    """Spark: min of the ``off``-th 8-hex slice over a group column."""
    return f"array_min(transform({group_col}, h -> substr(h, {1 + 8 * off}, 8)))"


def minhash_slice_duck(group_col: str, off: int) -> str:
    return f"list_min(list_transform({group_col}, h -> substr(h, {1 + 8 * off}, 8)))"


def minhash_duck(shingles: str, k: int) -> str:
    g, off = divmod(k, 4)
    return minhash_slice_duck(minhash_md5_group_duck(shingles, g), off)


# --- simhash (16-bit) ----------------------------------------------------------
# Per-row, shuffle-free simhash: token -> 16-bit hash from the first 4
# hex chars of md5 (shared-dialect expression: md5/substr/instr behave
# identically in Spark SQL and DuckDB); bit b of the signature is the
# sign of sum(+1/-1) over distinct tokens.
def _hex4_int(token_expr: str) -> str:
    # (instr(hexdigits, c1)-1)*4096 + ... identical SQL in both engines
    parts = []
    for i, mult in ((1, 4096), (2, 256), (3, 16), (4, 1)):
        parts.append(
            f"(instr('0123456789abcdef', substr(md5({token_expr}), {i}, 1)) - 1) * {mult}"
        )
    return " + ".join(parts)


# One md5 per TOKEN (the HEX64 pattern at 4 hex chars): callers bind
# ``hx`` to a MATERIALIZED column of 4-hex-char md5 prefixes — without
# the prebound array, inlining md5 into each of the 16 per-bit
# aggregate() lambdas re-hashed every token 64 times per row (this
# file already documents that md5 dominated the hashing queries'
# runtime on BOTH engines).
HEX4_SPARK = "transform(array_distinct({toks}), t -> substr(md5(t), 1, 4))"
HEX4_DUCK = (
    "list_transform(list_distinct({toks}), t -> substr(md5(t), 1, 4))"
)


def _hex4_int_of(h: str) -> str:
    """Integer value of a BOUND 4-hex-char string (no hashing)."""
    parts = []
    for i, mult in ((1, 4096), (2, 256), (3, 16), (4, 1)):
        parts.append(
            f"(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1) * {mult}"
        )
    return " + ".join(parts)


def simhash_spark(hexes: str, bits: int = 16) -> str:
    """16-bit SimHash over a pre-hashed hex4-prefix array column
    (``HEX4_SPARK``) — per-bit votes are pure instr arithmetic."""
    h = _hex4_int_of("t")
    terms = []
    for b in range(bits):
        bit = f"CAST(({h}) / {1 << b} AS INT) % 2"
        vote = f"aggregate({hexes}, 0, (acc, t) -> acc + CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END")
    return " + ".join(terms)


# --- 64-bit SimHash (deployment width) ------------------------------------
# One md5 per TOKEN (not per bit): callers bind ``hx`` to an array of
# 16-hex-char prefixes — Spark ``transform(toks, t -> substr(md5(t),
# 1, 16))`` / DuckDB ``list_transform(...)`` — and each of the 64 bit
# votes is then pure instr/arithmetic over those strings, identical
# text in both engines. The signature is built as four 16-bit
# QUARTERS (q0 = low bits … q3 = high) so no Spark expression carries
# more than 16 sibling aggregate() lambdas (Catalyst complexity cap)
# and the Hamming banding can join on the quarters directly.

HEX64_SPARK = "transform(array_distinct({toks}), t -> substr(md5(t), 1, 16))"
HEX64_DUCK = "list_transform(list_distinct({toks}), t -> substr(md5(t), 1, 16))"


def _hex4_int_at(var: str, start: int) -> str:
    parts = []
    for i, mult in ((0, 4096), (1, 256), (2, 16), (3, 1)):
        parts.append(
            f"(instr('0123456789abcdef', substr({var}, {start + i}, 1)) - 1)"
            f" * {mult}"
        )
    return " + ".join(parts)


def simhash64_quarter(hx: str, q: int, engine: str) -> str:
    """16-bit quarter ``q`` (0 = lowest) of the 64-bit SimHash over
    the hex-prefix array ``hx`` — ``engine`` picks the fold idiom
    (``spark``: aggregate(); ``duck``: list_sum(list_transform()))
    while the per-bit arithmetic text stays identical."""
    h = _hex4_int_at("x", 4 * q + 1)
    terms = []
    for b in range(16):
        if engine == "spark":
            bit = f"CAST(({h}) / {1 << b} AS INT) % 2"
            vote = (
                f"aggregate({hx}, 0, (acc, x) -> acc +"
                f" CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
            )
        else:
            bit = f"CAST(floor(({h}) / {1 << b}) AS INT) % 2"
            vote = (
                f"list_sum(list_transform({hx},"
                f" x -> CASE WHEN {bit} = 1 THEN 1 ELSE -1 END))"
            )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END")
    return " + ".join(terms)


def simhash64_sig_from_quarters(q0: str, q1: str, q2: str, q3: str) -> str:
    """Signed BIGINT signature from quarter columns/expressions: the
    top quarter maps its high bit to the sign (two's complement), so
    the value fits BIGINT identically in Spark and DuckDB and
    xor/bit_count see the same 64 bits."""
    return (
        f"(CAST({q3} AS BIGINT)"
        f" - CASE WHEN ({q3}) >= 32768 THEN 65536 ELSE 0 END)"
        f" * 281474976710656"
        f" + CAST({q2} AS BIGINT) * 4294967296"
        f" + CAST({q1} AS BIGINT) * 65536"
        f" + CAST({q0} AS BIGINT)"
    )


def simhash_duck(hexes: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`simhash_spark` — same pre-hashed hex4
    array contract (``HEX4_DUCK``)."""
    h = _hex4_int_of("t")
    terms = []
    for b in range(bits):
        bit = f"CAST(floor(({h}) / {1 << b}) AS INT) % 2"
        vote = (
            f"list_sum(list_transform({hexes},"
            f" t -> CASE WHEN {bit} = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END")
    return " + ".join(terms)


# --- document fingerprint -------------------------------------------------------
# md5 of whitespace-normalized lowercase text; identical SQL both engines.
FINGERPRINT_SPARK = r"md5(lower(regexp_replace(trim({text}), '\\s+', ' ')))"
FINGERPRINT_DUCK = r"md5(lower(regexp_replace(trim({text}), '\s+', ' ', 'g')))"


# --- language ID (stopword-overlap heuristic) -------------------------------------
STOPWORDS = {
    "en": ["the", "of", "and", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "zu"],
    "fr": ["le", "la", "de", "et", "un", "est", "dans", "que"],
    "zh": ["de", "le", "shi", "bu", "wo", "you", "he", "ta"],
}
LANG_ORDER = ["en", "es", "de", "fr", "zh"]  # deterministic tie-break


def _arr_lit(words: list[str]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _list_lit(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def lang_hits_spark(toks: str, lang: str) -> str:
    return f"size(filter({toks}, t -> array_contains({_arr_lit(STOPWORDS[lang])}, t)))"


def lang_hits_duck(toks: str, lang: str) -> str:
    return (
        f"len(list_filter({toks}, t -> list_contains({_list_lit(STOPWORDS[lang])}, t)))"
    )


def predicted_lang_case(hits_cols: dict[str, str]) -> str:
    """CASE choosing the max-hit language with fixed-order tie-break.

    ``hits_cols`` maps lang → column/expr name; emitted SQL is valid
    in both engines.
    """
    clauses = []
    for i, lang in enumerate(LANG_ORDER):
        conds = [
            f"{hits_cols[lang]} >= {hits_cols[other]}" for other in LANG_ORDER[i + 1 :]
        ]
        conds = " AND ".join(conds) if conds else "TRUE"
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses[:-1]) + f" ELSE '{LANG_ORDER[-1]}' END"


def stable_round(expr: str, digits: int = 6) -> str:
    """Half-up rounding in pure IEEE double arithmetic — bit-identical
    between Spark and DuckDB. The engines' native ``round(x, n)``
    disagree on last-ulp half boundaries (one rounds the exact binary
    expansion, the other scales first), which shows up at sf0.1+ on
    ratios whose denominators are powers of two. ``x*10^n + 0.5`` and
    ``floor`` are each a single deterministic IEEE op, so this form
    hashes identically on both engines. Same SQL text is valid in
    both dialects.
    """
    p = 10**digits
    return f"(CAST(floor(({expr}) * {p}.0 + 0.5) AS DOUBLE) / {p}.0)"


# --- quality score -----------------------------------------------------------------
# 0.4·min(1, tokens/100) + 0.3·(1 − min(1, |avg_len − 5|/10)) + 0.3·stopword_ratio
def quality_spark(toks: str, text: str, en_hits: str) -> str:
    return stable_round(
        f"0.4 * least(1.0, size({toks}) / 100.0)"
        f" + 0.3 * (1.0 - least(1.0, abs(length({text}) / size({toks}) - 5.0) / 10.0))"
        f" + 0.3 * ({en_hits} / CAST(size({toks}) AS DOUBLE))"
    )


def quality_duck(toks: str, text: str, en_hits: str) -> str:
    return stable_round(
        f"0.4 * least(1.0, len({toks}) / 100.0)"
        f" + 0.3 * (1.0 - least(1.0, abs(length({text}) / len({toks}) - 5.0) / 10.0))"
        f" + 0.3 * ({en_hits} / CAST(len({toks}) AS DOUBLE))"
    )


QUALITY_BUCKETS = 512
# numerator cast to DOUBLE before dividing: Spark parses 65537.0 as a
# DECIMAL literal, and int/decimal division is reduced-scale decimal
# arithmetic; double/decimal promotes to the IEEE division both
# engines perform identically (see queries/pipeline8.py)
QUALITY_WEIGHT = (
    "(CAST(CAST(bkt AS BIGINT) * 48271 % 65537 AS DOUBLE) / 65537.0 - 0.5)"
)


def quality_weight_of(token_expr: str, buckets: int = QUALITY_BUCKETS) -> str:
    """The per-token weight with the bucket hash inlined — identical
    SQL text in Spark and DuckDB (md5 hex-slice arithmetic)."""
    bkt = f"(({_hex4_int(token_expr)}) % {buckets})"
    return QUALITY_WEIGHT.replace("bkt", bkt)


def quality_margin(
    df: DataFrame,
    buckets: int = QUALITY_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-shaped linear quality score per document: tokens hash
    into ``buckets`` feature buckets, each bucket carries a weight (a
    deterministic Lehmer mix of the bucket id — swap in a learned
    broadcast (bucket, weight) table without touching the plan), and
    the document margin is the mean bucket weight. Raw (pre-sigmoid)
    space on purpose: exp() is not bit-stable across engines,
    monotone, and sigmoid(0) == 0.5 so thresholds translate.

    Backs the ``SCORE QUALITY`` DSL statement; the oracle-checked
    rollup twin is queries/pipeline8.py::quality_linear_margin.

    Scale: the whole score is ONE per-row higher-order-function fold
    over the token array — no explode, no join, no shuffle, nothing
    crosses the wire. The fold order is the array order, fixed, so
    the double sum is bit-identical to DuckDB's list_sum (the proven
    left-fold recipe). Because it is a stateless per-row map, the
    same operator runs unchanged on a STREAMING frame
    (tests/test_streaming_pipeline.py::test_score_quality_on_stream).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    # materialize the token array ONCE: size() (twice) and the fold
    # would otherwise each re-run the regex split per row — three
    # tokenize passes inside an interpreted HOF projection (the exact
    # measured pathology corpus.py documents; Catalyst's projection
    # collapse declines to duplicate non-cheap expressions, so the
    # staged projection keeps a single split)
    toks_col = "__qm_toks"
    staged = df.select(
        *[c for c in df.columns if c != text_col],
        F.expr(TOKENS_SPARK.format(text=text_col)).alias(toks_col),
    )
    fold = (
        f"aggregate({toks_col}, CAST(0.0 AS DOUBLE),"
        f" (acc, w) -> acc + {quality_weight_of('w', buckets)})"
    )
    return staged.select(
        *[c for c in staged.columns if c != toks_col],
        F.expr(f"size({toks_col})").cast("long").alias("n_tokens"),
        (F.expr(fold) / F.expr(f"size({toks_col})")).alias("margin"),
    )
