"""A warm session stops redoing constant work, and a restarted one
stays correct: the generated-code cache holds a working set larger
than Spark's default 100 classes (session.py), and the in-process
caches (model handles, LSH key columns, catalog schemas) serve the
same answers after ``spark.stop()`` and a new session."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_codegen_cache_holds_a_working_set_over_100_classes(spark):
    """A cyclic working set larger than an LRU cache misses on every
    access: at Spark's default cap of 100, the second pass over 120
    distinct projections compiles all 120 classes again."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def one_pass():
        c0 = compiles()
        for k in range(120):
            # the literals are inlined in the generated source, so each
            # k is one more distinct class
            spark.range(4).selectExpr(f"id * {k + 2} + {k} AS v").collect()
        return compiles() - c0

    assert one_pass() >= 120
    assert one_pass() == 0


_RESTART_SCRIPT = r"""
import json, sys

from declarativeml_spark.engine import Engine
from declarativeml_spark.ml import models
from declarativeml_spark.operators import dedup
from declarativeml_spark.session import get_spark
from declarativeml_spark.sources.catalog import load_table, register_views

sf, model_dir = sys.argv[1], sys.argv[2]


def session(name):
    spark = get_spark(name, cpus="2")
    register_views(spark, sf, ("orders", "embeddings"))
    return spark, Engine(spark, model_dir=model_dir)


def predictions(eng):
    out = eng.execute("PREDICT USING MODEL rs_m FROM orders")
    return sorted([r.o_orderkey, r.prediction] for r in out.collect())


def lsh_pairs(eng):
    out = eng.execute("SEARCH SIMILAR embeddings USING lsh(threshold=1.3)")
    return sorted(list(r) for r in out.collect())


spark, eng = session("restart-a")
eng.execute(
    "TRAIN MODEL rs_m USING linear_regression FROM orders"
    " PREDICT o_totalprice WITH FEATURES(o_custkey,"
    " TRANSFORM(one_hot_encoder(o_orderpriority)))"
)
before = predictions(eng), lsh_pairs(eng)
load_table(spark, sf, "region")  # memoized under this application
cached = len(models._PIPELINE_CACHE), len(dedup._LSH_KEY_COL_CACHE)
spark.stop()

spark, eng = session("restart-b")
after = predictions(eng), lsh_pairs(eng)
dag = spark.sparkContext._jsc.sc().dagScheduler()
j0 = dag.nextJobId()
load_table(spark, sf, "region")
print(json.dumps({
    "same": before == after,
    "rows": [len(before[0]), len(before[1])],
    "cached": cached,
    "region_jobs": dag.nextJobId() - j0,
}))
spark.stop()
"""


def test_restarted_session_serves_the_same_answers(tmp_path, smoke_dir):
    """TRAIN, stop the session, start a new one with ``get_spark``:
    PREDICT (a ``_PIPELINE_CACHE`` hit) and an LSH SEARCH (an
    ``_LSH_KEY_COL_CACHE`` hit) return what they returned before, and
    the first ``load_table`` of a table read before the restart infers
    its schema again (one job) because the application id changed.
    Runs in its own process so the shared test session is untouched."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_DRIVER_MEMORY="1g",
    )
    r = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, smoke_dir, str(tmp_path / "models")],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["cached"][0] > 0 and got["cached"][1] > 0
    assert min(got["rows"]) > 0
    assert got["same"] is True
    assert got["region_jobs"] == 1
