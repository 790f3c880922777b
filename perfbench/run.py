#!/usr/bin/env python3
"""Closed-loop benchmark of the declarativeml_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 8 --trace 0

One Python process is the only client. It runs one op at a time on
Spark ``local[CORES]`` and repeats the workload's lap (see workloads.py)
for as many laps as ``--seconds`` holds (see ``run_laps``). Every
op's result is checked against ``expected.json`` outside the timed
spans. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same laps with timing shims installed and reports per-layer metrics.
``--record`` rewrites the expectations. Inputs are generated once per
checkout by ``scripts/gen_fixtures.py`` into
``.bench_build/perfbench/data``; each run works in its own temporary
directory there and removes it on exit. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Spark parallelism, pinned rather than taken from the host so that
#: partitioning, and with it float summation order, is the same
#: wherever the recorded expectations are checked.
CORES = 2
SETUP_PASSES = 3
#: turns ``--seconds`` into a lap count; roughly a warm lap on 2 cores
SECONDS_PER_LAP = 5
#: the fixed small warm-up of every setup pass: one cheap catalog query
WARM_QUERY = "customers_without_orders"
EXPECTED = os.path.join(HERE, "expected.json")

#: every metric ``--trace 1`` prints, in BENCHMARK.json's order
ENGINE_KINDS = (
    "TrainModel", "PredictModel", "EvaluateModel", "MonitorModel",
    "ScoreQuality", "Deduplicate", "PackSequences",
    "TrainTokenizer", "Tokenize", "DropTokenizer",
)
PER_LAYER = (
    ("op.ops_per_s", "1/s"),
    ("op.p50_ms", "ms"),
    ("op.build_ms", "ms"),
    ("op.jobs_build", "count"),
    ("op.plan_ms", "ms"),
    ("op.exec_ms", "ms"),
    ("op.jobs_exec", "count"),
    ("op.release_ms", "ms"),
    ("sources.catalog.load_table.calls", "count"),
    ("sources.catalog.load_table.ms", "ms"),
    ("sources.catalog.load_table.jobs", "count"),
    ("ml.training.train.ms", "ms"),
    ("ml.training.train.jobs", "count"),
    ("ml.models.registry_save.ms", "ms"),
    ("ml.models.registry_load.ms", "ms"),
    ("ml.models.registry_load.calls", "count"),
    ("ml.evaluate.evaluate_model.ms", "ms"),
    ("ml.evaluate.evaluate_model.jobs", "count"),
    ("plans.builder.build_features.ms", "ms"),
    ("dsl.parser.parse.ms", "ms"),
    ("operators.caching.persists", "count"),
    ("operators.caching.release_all.ms", "ms"),
    *((f"engine.{kind}.ms", "ms") for kind in ENGINE_KINDS),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.shuffle_read_mb", "MiB"),
    ("spark.shuffle_write_mb", "MiB"),
    ("spark.spill_mb", "MiB"),
    ("setup.session_s", "s"),
    ("setup.catalog_s", "s"),
    ("setup.warm_s", "s"),
    ("setup.cold_s", "s"),
    ("tracing.overhead_frac", "fraction"),
    ("fail_frac", "fraction"),
)
END_TO_END = (
    ("cpu_s_per_op", "s"),
    ("peak_rss_mb", "MiB"),
    ("setup_s", "s"),
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# -- inputs and isolation ---------------------------------------------------


def ensure_data(work: str, sf: str) -> str:
    """The generated tables at scale factor ``sf``, built on first use."""
    target = os.path.join(work, "data", f"sf{float(sf):g}")
    if os.path.isfile(os.path.join(target, "GENERATED.json")):
        return target
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="gen-", dir=os.path.dirname(target))
    try:
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "gen_fixtures.py"),
             "--sf", sf, "--out", tmp],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
        shutil.rmtree(target, ignore_errors=True)  # a half-built earlier attempt
        os.replace(os.path.join(tmp, os.path.basename(target)), target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target


def isolate(run_dir: str) -> None:
    """Point every file the run writes at ``run_dir``; call before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "models", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["DML_MODEL_DIR"] = dirs["models"]
    # a bounded heap: with the 8 GiB default, peak RSS spread
    # 2.4-4.0 GiB across runs of one workload
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the heap is committed and touched up front, so peak RSS does not
    # depend on when G1 chose to grow it
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{os.environ.get('SPARK_SUBMIT_OPTS', '')}"
        f" -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        " -Xms2g -XX:+AlwaysPreTouch"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


# -- result checking --------------------------------------------------------


def canon(v) -> str:
    """Order-preserving text of a value, floats at 12 significant digits."""
    if isinstance(v, float):
        return f"{v:.12g}"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))
        ) + "}"
    if isinstance(v, (list, tuple)):  # Row is a tuple
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "toArray"):  # pyspark.ml.linalg vectors
        return canon([float(x) for x in v.toArray()])
    return str(v)


def expectation(rows: list) -> list:
    """Row count plus an order-insensitive digest of the canonical rows."""
    text = "\n".join(sorted(canon(r) for r in rows))
    return [len(rows), hashlib.sha256(text.encode()).hexdigest()[:20]]


def result_rows(out) -> list:
    """Materialise an op's result: collect a DataFrame in full; a
    trained model is reduced to what a re-run must reproduce (its
    version grows from lap to lap)."""
    from pyspark.sql import DataFrame

    from declarativeml_spark.ml.training import TrainedModel

    if isinstance(out, DataFrame):
        return out.collect()
    if isinstance(out, TrainedModel):
        return [{
            "algorithm": out.algorithm, "target": out.target,
            "features": out.features, "metrics": out.metrics,
            "stop_satisfied": out.stop_satisfied,
        }]
    return [out]


# -- setup --------------------------------------------------------------------


class Bench:
    def __init__(self, workload, sf_dir: str):
        self.workload = workload
        self.sf_dir = sf_dir
        self.spark = None
        self.setups: list[dict] = []

    def setup(self, t_start: float) -> None:
        """One setup pass: (re)start the session, register the catalog
        views, run the warm-up query. The first pass starts at process
        start and so also covers imports and the JVM launch."""
        from declarativeml_spark.queries import QUERIES
        from declarativeml_spark.session import get_spark
        from declarativeml_spark.sources.catalog import TABLES, register_views

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=str(CORES))
        t1 = time.perf_counter()
        register_views(self.spark, self.sf_dir, self.workload.tables or TABLES)
        self.workload.views(self.spark)
        t2 = time.perf_counter()
        QUERIES[WARM_QUERY](self.spark, self.sf_dir).collect()
        t3 = time.perf_counter()
        self.setups.append(
            {"session": t1 - t0, "catalog": t2 - t1, "warm": t3 - t2, "total": t3 - t_start}
        )

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- the closed loop ----------------------------------------------------------


class Lap:
    """Per-op wall and CPU seconds of one lap, in op order."""

    def __init__(self):
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.failed = 0
        self.layers: dict[str, float] = defaultdict(float)

    @property
    def attempted(self) -> int:
        return len(self.walls)


def run_op(op, counters: measure.SparkCounters | None, layers: dict):
    """Run one op; return (wall seconds, cpu seconds, rows or None on failure)."""
    cpu0 = measure.tree_cpu_s(measure.process_tree())
    t0 = time.perf_counter()
    rows, jobs = None, None
    try:
        if counters is None:
            rows = result_rows(op.build())
            op.release()
        else:
            rows, jobs = _run_traced(op, counters, layers)
    except Exception:  # an op that raises is a failed op; the lap goes on
        log(f"op {op.op_id} raised:\n{traceback.format_exc()}")
        try:
            op.release()
        except Exception:
            log(f"release after {op.op_id} raised:\n{traceback.format_exc()}")
    wall = time.perf_counter() - t0
    cpu = measure.tree_cpu_s(measure.process_tree()) - cpu0
    if counters is not None:
        layers[f"engine.{op.kind}.ms"] += wall * 1e3
        if jobs is not None:
            counters.add_stage_totals(*jobs, layers)
    return wall, cpu, rows


def _run_traced(op, counters: measure.SparkCounters, layers: dict):
    """Run one op phase by phase; return its rows and job id range."""
    from pyspark.sql import DataFrame

    t_in = time.perf_counter()
    j0 = counters.next_job_id()
    t0 = time.perf_counter()
    out = op.build()
    t1 = time.perf_counter()
    if isinstance(out, DataFrame):
        out._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    j2 = counters.next_job_id()
    t2b = time.perf_counter()
    rows = result_rows(out)
    t3 = time.perf_counter()
    op.release()
    t4 = time.perf_counter()
    j4 = counters.next_job_id()
    layers["op.build_ms"] += (t1 - t0) * 1e3
    layers["op.plan_ms"] += (t2 - t1) * 1e3
    layers["op.exec_ms"] += (t3 - t2b) * 1e3
    layers["op.release_ms"] += (t4 - t3) * 1e3
    layers["op.jobs_build"] += j2 - j0  # planning runs no jobs of its own
    layers["op.jobs_exec"] += j4 - j2
    # time inside the op's span that went to reading job ids
    layers["tracing.ms"] += ((t0 - t_in) + (t2b - t2) + (time.perf_counter() - t4)) * 1e3
    return rows, (j0, j4)


def run_laps(bench: Bench, engine, expected: dict, seconds: float, counters=None) -> list:
    """One whole lap per ``SECONDS_PER_LAP`` of ``seconds``. Ops differ in
    cost by 100x, so a partial lap would make the totals depend on where
    it stopped; a count fixed in advance keeps every run doing the same
    work however fast the host is."""
    count = max(1, round(seconds / SECONDS_PER_LAP))
    return [run_lap(bench, engine, expected, counters) for _ in range(count)]


def median_lap(laps: list, field: str) -> float:
    """Sum over the lap's ops of each op's median across the laps.

    The first lap pays one-time costs (JIT, codegen, Python workers);
    the median drops them. Given more than three laps it also drops a
    host stall (CPU steal of 5-22 % per run was seen on a shared VM)
    that hits one repetition."""
    return sum(statistics.median(v) for v in zip(*(getattr(lap, field) for lap in laps)))


def run_lap(bench: Bench, engine, expected: dict, counters=None, record=False) -> Lap:
    lap = Lap()
    for op in bench.workload.lap(bench.spark, bench.sf_dir, engine):
        wall, cpu, rows = run_op(op, counters, lap.layers)
        lap.walls.append(wall)
        lap.cpus.append(cpu)
        log(f"{op.op_id} {wall:.3f} s")
        got = None if rows is None else expectation(rows)
        if record and op.op_id not in expected:
            expected[op.op_id] = got
        elif got is None or got != expected.get(op.op_id):
            lap.failed += 1
            if rows is not None:
                log(f"op {op.op_id}: got {got}, expected {expected.get(op.op_id)}")
    return lap


def layer_metrics(bench: Bench, laps: list, tracer: measure.Tracer) -> dict:
    """Per-lap averages of the traced laps' layer totals."""
    m = defaultdict(float)
    for lap in laps:
        for name, value in lap.layers.items():
            m[name] += value
    for name, value in tracer.metrics.items():
        m[name] += value
    wall_ms = sum(sum(lap.walls) for lap in laps) * 1e3
    overhead_ms = m.pop("tracing.ms", 0.0) + tracer.spent_s * 1e3
    m = {name: value / len(laps) for name, value in m.items()}
    m["operators.caching.persists"] = m.pop("operators.caching.track_persist.calls", 0.0)
    m["op.ops_per_s"] = laps[0].attempted / median_lap(laps, "walls")
    m["op.p50_ms"] = statistics.median(w for lap in laps for w in lap.walls) * 1e3
    for part in ("session", "catalog", "warm"):
        m[f"setup.{part}_s"] = statistics.median(s[part] for s in bench.setups)
    m["setup.cold_s"] = bench.setups[0]["total"]
    m["tracing.overhead_frac"] = overhead_ms / wall_ms
    failed = sum(lap.failed for lap in laps)
    m["fail_frac"] = failed / sum(lap.attempted for lap in laps)
    return {name: float(m.get(name, 0.0)) for name, _ in PER_LAYER}


# -- main -----------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", help="scale factor of the generated tables")
    ap.add_argument("--record", action="store_true",
                    help="run two laps per data slice and rewrite the expectations")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally below: stop the JVM, remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "declarativeml_spark")) or not os.path.isfile(
        os.path.join(ROOT, "scripts", "gen_fixtures.py")
    ):
        log(f"no declarativeml_spark checkout around {HERE}")
        return 2

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    sf_dir = ensure_data(work, args.sf)
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(work, "runs"))
    isolate(run_dir)
    sys.path.insert(0, ROOT)

    with open(EXPECTED) as f:
        all_expected = json.load(f)
    key = f"sf{float(args.sf):g}/{args.workload}"
    expected = all_expected.setdefault(key, {})
    if args.record:
        expected.clear()

    bench = None
    try:
        from declarativeml_spark.engine import Engine

        bench = Bench(WORKLOADS[args.workload](args.seed), sf_dir)
        for _ in range(SETUP_PASSES):
            bench.setup(T_PROCESS if not bench.setups else time.perf_counter())
        engine = Engine(bench.spark, model_dir=os.environ["DML_MODEL_DIR"])

        if args.record:
            for k in range(bench.workload.n_slices):
                bench.workload = WORKLOADS[args.workload](k)
                bench.workload.views(bench.spark)
                for _ in range(2):  # the second lap must agree with the first
                    if run_lap(bench, engine, expected, record=True).failed:
                        raise SystemExit("perfbench: ops failed or differ between two laps")
            with open(EXPECTED, "w") as f:
                json.dump(all_expected, f, indent=1, sort_keys=True)
                f.write("\n")
            log(f"recorded {len(expected)} expectations under {key}")
            return 0

        if args.trace:
            tracer = measure.Tracer(measure.SparkCounters(bench.spark))
            tracer.install()
            try:
                laps = run_laps(bench, engine, expected, args.seconds, tracer.counters)
            finally:
                tracer.uninstall()
            metrics = layer_metrics(bench, laps, tracer)
        else:
            laps = run_laps(bench, engine, expected, args.seconds)
            pids = [os.getpid(), measure.jvm_pid(measure.process_tree())]
            metrics = {
                "cpu_s_per_op": median_lap(laps, "cpus") / laps[0].attempted,
                "peak_rss_mb": measure.peak_rss_mb([p for p in pids if p]),
                "setup_s": statistics.median(s["total"] for s in bench.setups),
            }
    finally:
        if bench is not None:
            bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(lap.attempted for lap in laps)
    failed = sum(lap.failed for lap in laps)
    units = dict(PER_LAYER if args.trace else END_TO_END)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
