"""SparkSession factory tuned for this engine.

Local-mode defaults chosen for the test harness (local[32], 128 GiB)
but every setting here is the one we'd also want on a 1000-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for the Python boundary, UTC so results are
comparable to a UTC-naive oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "declarativeml_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores locally; AQE coalesces further at runtime.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # pin the default explicitly: expression text the engine
        # generates (e.g. the BPE tokenize split) embeds backslash
        # regexes in SQL string literals with escape-mode doubling,
        # which the Hive-compat raw-literal mode would corrupt
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 8g, NOT a max-it-out heap: on this (overcommitted) host a
        # 48g heap produced multi-second GC/page-in stalls that
        # inflated random queries 3-40x; two full bench runs at 8g
        # measured 69-75s total vs 142-287s at 48g, with flat
        # per-query profiles. sf0.1 working sets are far below 8g;
        # override via SPARK_DRIVER_MEMORY for bigger scale factors.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # shuffle/spill scratch on tmpfs when available: the test
        # host's block device has erratic latency (iowait-dominated
        # load), and sf0.1 shuffle files are tiny relative to RAM. On
        # a real cluster this maps to fast local SSD scratch.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-scratch"
                if os.path.isdir("/dev/shm")
                else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        # generated-code cache, sized to the engine's working set (see
        # "Warm-session caches" in docs/BENCH_NOTES.md). At Spark's
        # default of 100 a warm pass over a cyclic working set larger
        # than the LRU recompiles every class it needs. A static conf:
        # it holds for the JVM whose first session this builder starts.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is TIMESTAMP(NANOS); Spark has no ns type —
        # read as long and convert in the catalog (catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
