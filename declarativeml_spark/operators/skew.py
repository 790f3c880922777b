"""Skew mitigation for pairwise self-joins: spread a narrow input over
the cluster's configured shuffle width.

AQE's skew-join splitting handles hot join keys at runtime; the
salted-join queries (queries/pipeline10.py::salted_skew_join) salt in
their own plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition to max(defaultParallelism,
    spark.sql.shuffle.partitions).

    Pairwise self-joins (LSH buckets, blocked similarity) broadcast
    one side; the streaming side's parallelism is then exactly its
    input partitioning — a single-file table would run every
    candidate evaluation in ONE task (measured 15.7s vs 1.4s for 2M
    higher-order-function distance evals at sf0.1).

    The target count comes from driver-side config only: reading the
    plan's actual partition count (``df.rdd``) would force AQE to
    execute every upstream shuffle stage just to answer the question,
    doubling the heaviest work for derived sources. On a real cluster
    ``spark.sql.shuffle.partitions`` is sized to the fleet (often
    1000s), so this never downsizes a big job's configured width.
    """
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return df.repartition(n)
