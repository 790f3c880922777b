"""Registry of named queries and their DuckDB oracle SQL.

Every operator the engine claims (SURVEY.md §2) registers here: a
Spark callable ``(spark, sf_dir) -> DataFrame`` and, when the
semantics are ANSI-SQL-expressible, an equivalent DuckDB SQL string.
The driver hash-compares both at sf0.01.

Float-determinism convention (critical for value-hash parity):
  * per-row arithmetic stays in ``double`` — IEEE ops are
    bit-identical across Spark and DuckDB;
  * aggregation of doubles goes through ``DECIMAL(38,6)`` so the sum
    is exact and order-independent (Spark shuffles, DuckDB doesn't);
  * the final value is cast back to ``double``.
Ordering ties are always broken by a unique key so LIMIT/topk picks
identical rows in both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# re-exported: the queries and the operators round through one definition
from declarativeml_spark.operators.textops import sround  # noqa: F401

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None):
    """Decorator: register a query and (optionally) its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent sum of a double expression via exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c)
    ).alias(alias)


# SQL-side equivalents for oracle strings.
def sql_sround(expr: str, digits: int = 6) -> str:
    from declarativeml_spark.operators.textops import stable_round

    return stable_round(expr, digits)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
