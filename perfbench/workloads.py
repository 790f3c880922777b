"""The workloads: what one lap runs, and how a seed varies it.

A lap is a fixed list of ops. The seed only reorders the queries of
``query_sweep`` and picks which fixed-size data slice the statements
of ``dsl_script`` read (``N_SLICES`` slices, so recorded expectations
cover every seed).
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

N_SLICES = 4

#: query_sweep lap: a query that runs jobs while it is built, then
#: relational, SQL-passthrough, events, text and corpus shapes. All
#: read through ``sources.catalog.load_table``.
SWEEP_QUERIES = (
    "customer_rfm_segments",  # 11 jobs while building (frozen quantiles)
    "cte_nation_revenue",  # SQL passthrough over the catalog views
    "customers_without_orders",
    "events_hourly_corr",
    "text_token_stats",
    "text_quality_scores",
    "corpus_pack_efficiency",
    "dedup_exact",
)


@dataclass
class Op:
    """One unit of closed-loop work.

    ``build`` returns the op's result: a DataFrame (then materialised
    by collect) or a plain value. ``release`` drops what the op cached.
    """

    op_id: str
    kind: str
    build: Callable[[], object]
    release: Callable[[], None]


class QuerySweep:
    name = "query_sweep"
    n_slices = 1  # the seed only reorders the queries
    tables = None  # every catalog table

    def __init__(self, seed: int):
        self._order = list(SWEEP_QUERIES)
        random.Random(seed).shuffle(self._order)

    def views(self, spark) -> None:
        pass

    def lap(self, spark, sf_dir: str, engine) -> list[Op]:
        from declarativeml_spark.operators.caching import capture, release_all
        from declarativeml_spark.queries import QUERIES

        ops = []
        for name in self._order:
            held: list = []

            def build(name=name, held=held):
                # the capture scope closes before the collect; persists
                # made while building are the query's cached frames
                with capture() as frames:
                    try:
                        return QUERIES[name](spark, sf_dir)
                    finally:
                        held.extend(frames)

            ops.append(Op(name, "query", build, lambda held=held: release_all(held)))
        return ops


class DslScript:
    """A DSL lap run statement by statement through ``Engine.execute``.

    First the model lifecycle: a registry write (TRAIN) beside registry
    reads (PREDICT, EVALUATE, MONITOR), over an orders-customer join.
    Then short corpus statements, each persisting and releasing through
    ``operators.caching``. Setup registers the views, so the lap reads
    no catalog tables.
    """

    name = "dsl_script"
    n_slices = N_SLICES
    tables = ("orders", "customer", "documents")
    view_sql = tuple(
        f"CREATE OR REPLACE TEMP VIEW lc_{part} AS SELECT o.o_orderkey,"
        " o.o_totalprice, o.o_orderdate, c.c_acctbal, c.c_mktsegment"
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        f" WHERE o.o_orderkey % 64 = {{k}} + {offset}"
        for part, offset in (("train", 0), ("test", 32))
    ) + (
        "CREATE OR REPLACE TEMP VIEW cp_docs AS SELECT * FROM documents"
        " WHERE doc_id % 32 = {k}",
    )
    statements = (
        "TRAIN MODEL lc_reg USING linear_regression FROM lc_train"
        " PREDICT o_totalprice WITH FEATURES(c_acctbal,"
        " TRANSFORM(one_hot_encoder(c_mktsegment)))",
        "PREDICT USING MODEL lc_reg FROM lc_test",
        "EVALUATE MODEL lc_reg ON lc_test METRICS (rmse, r2)",
        "MONITOR MODEL lc_reg ON lc_test CHECK (r2 > -1)",
        "SCORE QUALITY cp_docs",
        "DEDUPLICATE cp_docs USING minhash THRESHOLD 0.5",
        "PACK cp_docs INTO 512 TOKEN CHUNKS BUCKETS 8",
        "TRAIN TOKENIZER cp_tok FROM cp_docs VOCAB 40",
        "TOKENIZE cp_docs USING cp_tok",
        "DROP TOKENIZER cp_tok",
    )

    def __init__(self, seed: int):
        self.slice = seed % N_SLICES

    def views(self, spark) -> None:
        for sql in self.view_sql:
            spark.sql(sql.format(k=self.slice))

    def lap(self, spark, sf_dir: str, engine) -> list[Op]:
        from declarativeml_spark.dsl.parser import parse

        ops = []
        for i, text in enumerate(self.statements):
            kind = type(parse(text)).__name__
            ops.append(
                Op(
                    f"s{self.slice}/{i:02d}.{kind}",
                    kind,
                    lambda text=text: engine.execute(text),
                    engine.release,
                )
            )
        return ops


WORKLOADS = {w.name: w for w in (QuerySweep, DslScript)}
