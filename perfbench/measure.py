"""Probes the benchmark reads from outside the program.

- ``tree_cpu_s`` / ``peak_rss_mb``: CPU and peak memory of this Python
  process and its descendants (the Spark JVM and its Python workers),
  read from ``/proc``.
- ``SparkCounters``: job ids and per-stage executor counters from
  Spark's own ``statusTracker`` and status store.
- ``Tracer``: timing shims around the program's public entry points,
  installed only for a traced run.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces or parentheses: fields resume after the last ')'
    return s[s.rfind(")") + 2 :].split()


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    root = os.getpid()
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                parent[int(entry)] = int(fields[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def jvm_pid(pids: list[int]) -> int | None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


class SparkCounters:
    """Job ids and stage counters of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        """Id the next submitted job will get: jobs [a, b) ran between
        two readings a and b."""
        return int(self._jsc.dagScheduler().nextJobId())

    def add_stage_totals(self, first_job: int, end_job: int, out: dict) -> None:
        """Add the counters of every stage that ran for jobs
        ``[first_job, end_job)`` into ``out``. Skipped stages (a reused
        shuffle) did no work and are not counted."""
        tracker, store = self._sc.statusTracker(), self._jsc.statusStore()
        seen = set()
        for jid in range(first_job, end_job):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["spark.executor_run_ms"] += sd.executorRunTime()
                out["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spark.spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / 2**20


#: (module, function, metric prefix, count Spark jobs inside the call)
SHIMS = (
    ("declarativeml_spark.sources.catalog", "load_table", "sources.catalog.load_table", True),
    ("declarativeml_spark.ml.training", "train", "ml.training.train", True),
    ("declarativeml_spark.ml.models", "registry_save", "ml.models.registry_save", False),
    ("declarativeml_spark.ml.models", "registry_load", "ml.models.registry_load", False),
    ("declarativeml_spark.ml.evaluate", "evaluate_model", "ml.evaluate.evaluate_model", True),
    ("declarativeml_spark.plans.builder", "build_features", "plans.builder.build_features", False),
    ("declarativeml_spark.dsl.parser", "parse", "dsl.parser.parse", False),
    ("declarativeml_spark.operators.caching", "track_persist", "operators.caching.track_persist", False),
    ("declarativeml_spark.operators.caching", "release_all", "operators.caching.release_all", False),
)


class Tracer:
    """Wraps each function in ``SHIMS`` with a timer while active.

    Every module attribute bound to the original function is replaced,
    so callers that imported it by name (``from m import f``) are timed
    too. A recursive call is timed once, at its outermost frame. The
    wrappers stay inert after ``uninstall`` in case a module imported
    during the traced lap bound one of them.
    """

    def __init__(self, counters: SparkCounters):
        self.metrics: dict[str, float] = defaultdict(float)
        self.counters = counters
        #: time the wrappers spent on their own bookkeeping
        self.spent_s = 0.0
        self._active = False
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        for modname, fname, prefix, jobs in SHIMS:
            original = getattr(importlib.import_module(modname), fname)
            wrapper = self._wrap(original, prefix, jobs)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if not name.startswith("declarativeml_spark"):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, original))
        self._active = True

    def uninstall(self) -> None:
        self._active = False
        for mod, attr, original in self._patched:
            setattr(mod, attr, original)
        self._patched.clear()

    def _wrap(self, fn, prefix: str, jobs: bool):
        depth = [0]
        metrics = self.metrics

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._active or depth[0]:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            depth[0] += 1
            j0 = self.counters.next_job_id() if jobs else 0
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                metrics[prefix + ".ms"] += (t1 - t0) * 1e3
                metrics[prefix + ".calls"] += 1
                if jobs:
                    metrics[prefix + ".jobs"] += self.counters.next_job_id() - j0
                depth[0] -= 1
                self.spent_s += (t0 - t_in) + (time.perf_counter() - t1)

        return wrapper
