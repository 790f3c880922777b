"""Distributed ordered-scan primitives: global cumulative sums,
global ranks, and exact NTILE WITHOUT a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` is the classic 100 TB
trap: Spark funnels every row through one task. The two-phase shape
here is the scale-correct equivalent:

1. ``repartitionByRange`` on the order keys — rows land in
   range-contiguous partitions (partition 0 holds the first range of
   the sort order, partition 1 the next, ...) — and the ranged frame
   is MATERIALIZED (``localCheckpoint``; lazy, because every
   consumer's first action is a full totals pass that materializes
   all blocks), freezing each row's partition assignment;
2. one tiny pass over the *per-partition totals* (one row per
   partition, bounded by the partition count, never by data size)
   builds exclusive prefix offsets;
3. a within-partition window (safe: each partition sorts locally)
   plus the broadcast offset yields the exact global running value.

The materialization in step 1 is CORRECTNESS-CRITICAL, not an
optimization. ``repartitionByRange`` samples its boundaries from its
input, and partition-local row order of an unmaterialized shuffled
input is not deterministic across evaluations (fetch-order races) —
so the totals job and the output job, each re-evaluating the range
exchange, can place the SAME row in DIFFERENT partitions; offsets
computed by one job then mis-label the other's partitions. Observed
at sf0.1 as corrupted NTILE buckets (ranks exceeding n; 61-75 rows
out of a 4×4×4 cube, varying per run). Checkpointing the ranged
frame executes the shuffle exactly once; every later job reads the
same frozen blocks, making the offsets exact for wherever the
boundaries actually fell — and the result is then independent of
boundary placement, since offset + local cumsum telescopes to the
same global value for any contiguous partitioning.

At 100 TB the checkpoint stores the shuffled projection once —
the same order of magnitude as the shuffle itself; project the
input to the needed columns before calling. Blocks are freed by the
context cleaner when the frame is garbage collected.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PART = "__range_pid"


def _check_dir(d: str) -> str:
    """Directions are the exact literals 'asc'/'desc' — anything else
    (e.g. 'DESC') previously fell silently into a default: silently
    inverted buckets, never an error."""
    if d not in ("asc", "desc"):
        raise ValueError(
            f"order direction must be 'asc' or 'desc', got {d!r}"
        )
    return d


def _ranged_frozen(
    df: DataFrame, order_by: List[Column], num_partitions: int
) -> Tuple[DataFrame, DataFrame]:
    """Range-partition on the order keys and freeze the assignment
    (see module docstring — the materialization is what makes the
    two-job offset scheme sound). LAZY checkpoint: every consumer's
    FIRST action is a full per-partition totals pass, which
    materializes all blocks exactly once — identical soundness to
    eager, one full-data job cheaper per call (the same argument
    ntile_assign_multi documents for its own tagged union).

    Returns ``(ranged, src)``: the INPUT is persisted before the
    exchange because ``repartitionByRange`` runs a separate
    boundary-SAMPLING job over its child — unpersisted, the full
    upstream plan (often an expensive aggregate) executes twice, once
    for the sampler and again for the shuffle map tasks (r11
    measurement on part_abc_classification: the revenue aggregate ran
    2x, ~40% of query wall). The caller must ``src.unpersist()``
    after its first action materializes the checkpoint."""
    n = max(2, num_partitions)
    src = df.persist()
    ranged = src.repartitionByRange(n, *order_by).withColumn(
        _PART, F.spark_partition_id()
    )
    return ranged.localCheckpoint(eager=False), src


def _prefix_offsets(
    by_pid: dict, want_sum: bool
) -> Tuple[list, int]:
    """Exclusive prefix (count, sum) offsets per pid + grand total."""
    rows = []
    acc_n = 0
    acc_s = 0
    for pid in sorted(by_pid):
        n, s = by_pid[pid]
        if want_sum:
            rows.append((pid, acc_n, acc_s))
        else:
            rows.append((pid, acc_n))
        acc_n += n
        acc_s += s if s is not None else 0
    return rows, acc_n


def global_cumsum(
    df: DataFrame,
    order_by: List[Column],
    value_col: str,
    out_col: str = "cum",
    rank_col: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact global running sum of ``value_col`` (and optionally the
    global 1-based rank) in ``order_by`` order, two-phase over a
    frozen range partitioning. The only driver-side state is one row
    per range partition (a constant, never a function of data size).

    Contract (the same discipline as the NTILE functions): the
    composite ``order_by`` key must be UNIQUE per row — the frame is
    a ROWS frame over ``row_number``, so tied keys would make both
    ``out_col`` and ``rank_col`` order-dependent (SQL's default RANGE
    frame gives peers equal sums; this one does not). NULL values in
    ``value_col`` contribute 0 (an all-null prefix yields the carried
    offset, never NULL); integral and floating value columns are
    supported.
    """
    vt = dict(df.dtypes).get(value_col)
    if vt in ("tinyint", "smallint", "int", "bigint"):
        off_type = "long"
    elif vt in ("float", "double"):
        off_type = "double"
    else:
        raise ValueError(
            f"global_cumsum: value column {value_col!r} has type"
            f" {vt!r}; only integral and float/double columns are"
            " supported (the offset plane is typed to match)"
        )
    ranged, src = _ranged_frozen(df, order_by, num_partitions)

    totals = (
        ranged.groupBy(_PART)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(value_col)).alias("__t"),
        )
        .collect()
    )
    src.unpersist()  # the collect materialized the checkpoint
    by_pid = {r[_PART]: (r["__n"], r["__t"]) for r in totals}
    rows, _total = _prefix_offsets(by_pid, want_sum=True)
    if off_type == "double":
        # the exclusive-prefix accumulator starts at int 0; coerce so
        # the schema verifier sees homogeneous doubles
        rows = [(pid, cn, float(sv)) for pid, cn, sv in rows]
    offsets = df.sparkSession.createDataFrame(
        rows, f"{_PART} int, __cnt_off long, __sum_off {off_type}"
    )

    w = (
        Window.partitionBy(_PART)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        ranged.join(F.broadcast(offsets), _PART)
        .withColumn(
            out_col,
            F.col("__sum_off")
            + F.coalesce(F.sum(value_col).over(w), F.lit(0)),
        )
    )
    if rank_col is not None:
        out = out.withColumn(
            rank_col, F.col("__cnt_off") + F.row_number().over(w)
        )
    return out.drop(_PART, "__sum_off", "__cnt_off")


def global_ntile(
    df: DataFrame,
    order_by: List[Column],
    k: int,
    out_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY ...)`` without the
    single-partition window: two-phase global rank over a frozen
    range partitioning, then the exact NTILE bucket formula.

    NTILE(k) over n rows puts ``q = n // k`` rows in each bucket and
    one extra row in each of the first ``n % k`` buckets — NOT the
    uniform ``1 + floor(k*(rank-1)/n)`` (which diverges whenever
    ``n % k != 0``; e.g. n=6, k=4: rank 4 is bucket 2 under NTILE but
    bucket 3 under the uniform formula). The remainder-aware form
    here is bit-identical to Spark's and DuckDB's NTILE for every n.
    """
    if k < 1:
        raise ValueError(f"NTILE bucket count must be >= 1, got {k}")
    ranged, src = _ranged_frozen(df, order_by, num_partitions)

    totals = (
        ranged.groupBy(_PART).agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    src.unpersist()  # the collect materialized the checkpoint
    by_pid = {r[_PART]: (r["__n"], None) for r in totals}
    rows, n = _prefix_offsets(by_pid, want_sum=False)
    offsets = df.sparkSession.createDataFrame(
        rows, f"{_PART} int, __cnt_off long"
    )

    w = Window.partitionBy(_PART).orderBy(*order_by)
    rank = F.col("__cnt_off") + F.row_number().over(w)

    q, rem = divmod(max(n, 1), k)
    if q == 0:
        # fewer rows than buckets: bucket == rank
        bucket = rank
    else:
        big = rem * (q + 1)
        bucket = F.when(
            rank <= F.lit(big), 1 + F.floor((rank - 1) / F.lit(q + 1))
        ).otherwise(F.lit(1 + rem) + F.floor((rank - F.lit(big) - 1) / F.lit(q)))

    out = (
        ranged.join(F.broadcast(offsets), _PART)
        .withColumn(out_col, bucket.cast("int"))
    )
    return out.drop(_PART, "__cnt_off")


def _boundary_offsets(counts: list, n: int, k: int) -> dict:
    """Map NTILE(k) interior boundary ranks to per-partition local
    offsets: ``counts`` is the sorted [(pid, row_count)] of a frozen
    range partitioning of n rows. ONE definition of the sizes/bounds
    arithmetic and the rank→(pid, local-offset) walk. Returns {} when
    there are no interior boundaries (k=1 or n<=1)."""
    q, rem = divmod(n, k)
    sizes = [q + 1] * rem + [q] * (k - rem)
    acc = 0
    bounds: set = set()
    for s in sizes[:-1]:
        acc += s
        if 1 <= acc <= n:
            bounds.add(acc)
    if not bounds:
        return {}
    out: dict = {}
    lo = 0
    it = iter(counts)
    pid, cnt = next(it)
    for r in sorted(bounds):
        while r > lo + cnt:
            lo += cnt
            pid, cnt = next(it)
        out.setdefault(pid, set()).add(r - lo)
    return out


def global_rank_multi(
    df: DataFrame,
    metrics: List[Tuple[str, str, str]],
    tie: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact global 1-based ranks of the same frame under SEVERAL
    orderings — ``metrics`` is ``[(metric_col, 'asc'|'desc',
    out_col), ...]``, each ordered by ``(metric, tie)`` — from ONE
    range exchange and ONE per-(partition, tag) totals job (the
    :func:`ntile_assign_multi` tagged-union shape, with full ranks
    out instead of bucket boundaries). Calling :func:`global_cumsum`
    per ordering pays a boundary-sampling pass, a range exchange and
    a totals collect EACH; here every ordering rides one frozen
    range partitioning of an exploded ``(tag, signed_value, tie)``
    plane, and the ranks pivot back to one row per input row with a
    single hash aggregation (no rank-plane self-join).

    Returns ``(tie, out_col_0, out_col_1, ...)`` — one row per input
    row. Contract: the metric columns are non-null numerics exactly
    representable as doubles (|value| <= 2^53) and ``(metric, tie)``
    is unique per row, the same discipline as every other ranker
    here (ranks are ROW_NUMBER, so tied composites would be
    order-dependent); ``tie`` is non-null and unique. ``desc`` is an
    exact sign flip. Driver state: one row per (partition, tag).
    """
    if not metrics:
        raise ValueError("global_rank_multi: metrics must be non-empty")
    for _m, d, _out in metrics:
        _check_dir(d)

    def signed(m: str, d: str) -> Column:
        sv = F.col(m).cast("double")
        return -sv if d == "desc" else sv

    # ONE pass over df builds every leg: posexplode over the metric
    # array (2 short rows out per input row per 2 metrics) instead of
    # a self-union that would execute df's plan once per ordering.
    src = df.select(
        F.col(tie).alias("__tie"),
        F.posexplode(
            F.array(*[signed(m, d) for m, d, _out in metrics])
        ).alias("__tag", "__sv"),
    ).persist()
    order = [F.col("__tag").asc(), F.col("__sv").asc(), F.col("__tie").asc()]
    # persist + lazy checkpoint: the sampler job materializes src once
    # and the totals job freezes the shuffle — the same soundness
    # argument as _ranged_frozen/ntile_assign_multi
    ranged = (
        src.repartitionByRange(max(2, num_partitions), *order)
        .withColumn(_PART, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = (
        ranged.groupBy(_PART, "__tag")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    src.unpersist()  # the collect materialized the checkpoint
    per_tag: dict = {}
    for r in totals:
        per_tag.setdefault(r["__tag"], {})[r[_PART]] = r["__n"]
    rows = []
    for tag, by_pid in per_tag.items():
        acc = 0
        for pid in sorted(by_pid):
            rows.append((pid, tag, acc))
            acc += by_pid[pid]
    offsets = df.sparkSession.createDataFrame(
        rows, f"{_PART} int, __tag int, __off long"
    )
    w = Window.partitionBy(_PART, "__tag").orderBy(
        F.col("__sv").asc(), F.col("__tie").asc()
    )
    ranked = ranged.join(F.broadcast(offsets), [_PART, "__tag"]).withColumn(
        "__rk", F.col("__off") + F.row_number().over(w)
    )
    return ranked.groupBy(F.col("__tie").alias(tie)).agg(
        *[
            F.max(F.when(F.col("__tag") == i, F.col("__rk"))).alias(out)
            for i, (_m, _d, out) in enumerate(metrics)
        ]
    )


def ntile_assign_multi(
    df: DataFrame,
    metrics: List[Tuple[str, str, str]],
    tie: str,
    k: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Several exact NTILE(k)s over DIFFERENT orderings of the same
    frame — ``metrics`` is ``[(metric_col, 'asc'|'desc', out_col),
    ...]``, each ordered by ``(metric, tie)`` — in TWO bounded jobs
    total, with zero data-plane shuffles for the assignment (the RFM
    shape: R, F and M quartiles over one per-customer aggregate).

    All orderings ride ONE frozen range partitioning of a tagged
    union ordered by ``(tag, signed_metric, tie)``: within a tag
    block the union's global order IS that metric's order, so one
    per-(partition, tag) count pass + one boundary-row pull recovers
    every ordering's exact NTILE boundary keys at once. Buckets are
    then pure column arithmetic over the k-1 collected keys per
    metric: a row's bucket is ``1 + #{boundaries strictly before it}``,
    which with unique composite keys telescopes to exactly the
    remainder-aware NTILE bucket, bit-identical to Spark's and
    DuckDB's, including n < k (every rank its own bucket).

    Contract: ``metric`` and ``tie`` are non-null numerics exactly
    representable as doubles (|value| <= 2^53), and ``(metric, tie)``
    is unique per row — the same composite-key discipline every
    deterministic NTILE call site already follows. ``desc`` is
    realized as an exact sign flip. Driver state: one row per
    (partition, tag) plus (k-1)·len(metrics) boundary keys.
    """
    if k < 1:
        raise ValueError(f"NTILE bucket count must be >= 1, got {k}")
    if not metrics:
        raise ValueError("ntile_assign_multi: metrics must be non-empty")

    def signed(m: str, d: str) -> Column:
        sv = F.col(m).cast("double")
        return -sv if _check_dir(d) == "desc" else sv

    legs = [
        df.select(
            F.lit(i).alias("__tag"),
            signed(m, d).alias("__sv"),
            F.col(tie).cast("double").alias("__tie"),
        )
        for i, (m, d, _out) in enumerate(metrics)
    ]
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionAll(leg)

    order = [F.col("__tag").asc(), F.col("__sv").asc(), F.col("__tie").asc()]
    # persist the union for the same reason _ranged_frozen persists
    # its input: the range sampler is a separate job, so an
    # unpersisted union would execute every leg's upstream twice
    u = u.persist()
    ranged = (
        u.repartitionByRange(max(2, num_partitions), *order)
        .withColumn(_PART, F.spark_partition_id())
        # lazy checkpoint: the totals job below materializes the
        # shuffle exactly once; the boundary pull then reads the same
        # frozen blocks (same soundness argument as _ranged_frozen,
        # one job cheaper).
        .localCheckpoint(eager=False)
    )
    totals = (
        ranged.groupBy(_PART, "__tag")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    u.unpersist()  # the collect materialized the checkpoint
    per_tag: dict = {}
    for r in totals:
        per_tag.setdefault(r["__tag"], {})[r[_PART]] = r["__n"]

    targets: dict = {}
    for tag, by_pid in per_tag.items():
        counts = sorted(by_pid.items())
        n = sum(c for _, c in counts)
        if n == 0:
            continue
        t = _boundary_offsets(counts, n, k)
        if t:
            targets[tag] = t

    keys: dict = {}
    if targets:
        conds = []
        pids = set()
        for tag, t in targets.items():
            for p, offs in t.items():
                pids.add(p)
                conds.append(
                    (F.col("__tag") == tag)
                    & (F.col(_PART) == p)
                    & F.col("__lrk").isin(*offs)
                )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        w = Window.partitionBy(_PART, "__tag").orderBy(
            F.col("__sv").asc(), F.col("__tie").asc()
        )
        rows = (
            ranged.filter(F.col(_PART).isin(*pids))
            .withColumn("__lrk", F.row_number().over(w))
            .filter(cond)
            .select("__tag", "__sv", "__tie")
            .collect()
        )
        for r in rows:
            keys.setdefault(r["__tag"], []).append((r["__sv"], r["__tie"]))

    out = df
    for i, (m, d, out_col) in enumerate(metrics):
        sv = signed(m, d)
        tiec = F.col(tie).cast("double")
        bucket = F.lit(1)
        for bsv, btie in keys.get(i, []):
            after = (sv > F.lit(bsv)) | (
                (sv == F.lit(bsv)) & (tiec > F.lit(btie))
            )
            bucket = bucket + F.when(after, 1).otherwise(0)
        out = out.withColumn(out_col, bucket.cast("int"))
    return out
