"""Guard the driver contract itself.

Round 2's correctness run produced an EMPTY result because HEAD had an
ImportError in the query registry — every query, bench.py and
__spark_entry__.py were unrunnable, and nothing in the suite caught it
because the breakage was introduced after the last test run. These
checks are import-time only (no Spark jobs), so they run in
milliseconds and fail loudly if the registry or the entry module ever
stops importing or drifts out of shape.
"""

import importlib


def test_entry_module_imports_and_exposes_contract():
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert callable(mod.entry)
    assert len(qs) >= 66
    # every oracle belongs to a registered query
    assert set(oracles) <= set(qs)
    # at most one rows-only query (ann_ivf_topk has a documented
    # justification: model-specific cell assignment)
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {"ann_ivf_topk"}, rows_only
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_check_first_names_are_registered():
    """A typo'd or stale name in the priority list would silently waste
    a driver verification slot."""
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    missing = [n for n in mod._CHECK_FIRST if n not in qs]
    assert not missing, missing


def test_priority_queries_lead_the_registry():
    mod = importlib.import_module("__spark_entry__")
    head = list(mod.queries())[: len(mod._CHECK_FIRST)]
    assert head == list(mod._CHECK_FIRST)


def test_check_first_has_no_duplicates():
    mod = importlib.import_module("__spark_entry__")
    assert len(mod._CHECK_FIRST) == len(set(mod._CHECK_FIRST))


# Package definitions that no non-test file references, kept on purpose.
_UNREACHED_KEEP = {
    "engine.py::Engine.register_procedure": "host API: CALL's error text names it",
    "engine.py::Engine.run_agents_once": "host API: the tick that runs CREATE AGENT monitors",
    "engine.py::Engine.run_tuner": "host API: runs the search CREATE TUNER registers",
    "engine.py::Engine.tuning_trials": "host API: reads the trial log run_tuner writes",
    "functions/kernels.py::apply_compute": "host API: the only consumer of a COMPUTE registration",
    "ml/export.py::export_scorer": "serving path behind BASELINE.md's p50/p99",
    "ml/export.py::measure_local_scorer_latency": "serving path behind BASELINE.md's p50/p99",
    "ml/ridge.py::RidgeClosedForm._fit": "Spark ML hook: Estimator.fit calls it",
    "ml/ridge.py::RidgeClosedFormModel._transform": "Spark ML hook: Model.transform calls it",
    "operators/multimodal.py::resize_decode_features": "reference for the fused synth_resize_decode_features",
    "operators/multimodal.py::unregister_codec": "inverse of the register_codec plug-in point",
    "streaming/events.py::EventBus.start_stream": "pub/sub surface",
    "streaming/events.py::EventBus.wait_for": "pub/sub surface",
    "streaming/serving.py::measure_serving_latency": "serving path behind BASELINE.md's p50/p99",
    "streaming/serving.py::serve_model_stream": "serving path behind BASELINE.md's p50/p99",
}


def _unreached_definitions(root):
    """Package functions, classes and methods (dunders aside) whose name
    no non-test file uses as a name, an attribute, an import or a
    ``"module:function"`` string. Registered queries are reached
    through their ``@query`` decorator."""
    import ast
    import re

    pkg = root / "declarativeml_spark"
    sources = [
        *pkg.rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
        *(root / "scripts").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
    ]
    module_fn = re.compile(r"^[\w.]+:(\w+)$")
    used = set()
    for path in sources:
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                m = module_fn.match(n.value)
                if m:
                    used.add(m.group(1))

    def registered(node):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"
            for d in node.decorator_list
        )

    found = set()
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for path in pkg.rglob("*.py"):
        mod = path.relative_to(pkg).as_posix()
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, defs) or registered(node):
                continue
            if node.name not in used:
                found.add(f"{mod}::{node.name}")
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, defs) or m.name in used:
                        continue
                    if not (m.name.startswith("__") and m.name.endswith("__")):
                        found.add(f"{mod}::{node.name}.{m.name}")
    return found


def test_no_package_definition_is_reached_only_from_tests():
    """Code is not kept alive only for its own tests: every package
    definition that no statement, query, script or benchmark reaches
    is on the keep-list with its reason, and nothing else is."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    assert _unreached_definitions(root) == set(_UNREACHED_KEEP)
