"""COMPUTE kernel registry and execution.

The reference's COMPUTE statement registers a *named* kernel
computation over input columns into an output column, optionally on a
tick schedule (reference: dsl/parser.py:43-58 grammar; emission
parser.py:848-878 ``ml_register_compute(kernel_name, name, inputs,
output, schedule_ticks, options)``; kernels like ``vector_add`` are
resolved at execution time — README.md:66-72).

Spark mapping: a kernel is a function ``[Column, ...] -> Column``.
Built-ins are pure ``pyspark.sql.functions`` compositions (JVM
codegen — the fast path); custom Python kernels register as
Arrow-vectorized pandas UDFs (the analogue of the reference's GPU
batch kernels — EXTENSIONS.md:99-112 dispatches CUDA/BLAS/CPU by
size; we dispatch JVM-expression vs Arrow-batch by registration
type). BLOCK/GRID/SHARED are validated then recorded as advisory
hints; BLOCK bounds the vectorized kernel's per-call chunk INSIDE
the Arrow batch — never via session-wide conf, which would leak one
computation's batch size into every later Arrow exchange.

The registry itself is PROCESS-GLOBAL by design: the reference
stores registrations in a catalog table (``ml_register_compute``)
shared by every session, so re-registering a name is a catalog
upsert, not an error — two engines in one process see one catalog,
exactly as two reference sessions see one database.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from declarativeml_spark.dsl.ir import ComputeKernel

KernelFn = Callable[..., Column]


@dataclass
class KernelSpec:
    name: str
    fn: KernelFn
    arity: Optional[int] = None  # None = variadic
    description: str = ""
    # vectorized=True changes the fn contract: it is the RAW pandas
    # function (pd.Series, ... -> pd.Series); apply_compute wraps it
    # in a pandas UDF itself so BLOCK can chunk INSIDE the batch
    vectorized: bool = False
    return_type: str = "double"  # vectorized kernels' output type


KERNELS: Dict[str, KernelSpec] = {}


def register_kernel(
    name: str,
    fn: KernelFn,
    arity: Optional[int] = None,
    description: str = "",
    vectorized: bool = False,
    return_type: str = "double",
) -> None:
    KERNELS[name] = KernelSpec(
        name, fn, arity, description, vectorized, return_type
    )


def get_kernel(name: str) -> KernelSpec:
    try:
        return KERNELS[name]
    except KeyError:
        known = ", ".join(sorted(KERNELS))
        raise ValueError(f"Unknown kernel {name!r}; known kernels: {known}") from None


# --- built-in kernels (JVM expressions — whole-stage codegen) --------------
def _size_guard(a: Column, b: Column, expr: Column, op: str) -> Column:
    """Evaluate ``expr`` only when the arrays have equal length;
    unequal lengths raise instead of silently zip_with-padding the
    short side with NULLs (a length mismatch is almost always a data
    bug, and the padded NULLs previously collapsed a whole dot
    product to NULL with no signal). A NULL array on either side
    propagates NULL like every other kernel — without the explicit
    gate, legacy size(NULL) = -1 would route a NULL row into the
    raise_error branch with a misleading "(-1 vs N)" message and
    crash the whole job."""
    return F.when(a.isNull() | b.isNull(), F.lit(None)).when(
        F.size(a) == F.size(b), expr
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: array length mismatch ("),
                F.size(a).cast("string"),
                F.lit(" vs "),
                F.size(b).cast("string"),
                F.lit(")"),
            )
        )
    )


def _vector_add(*cols: Column) -> Column:
    """Elementwise array addition for 1+ equal-length array columns."""
    out = cols[0]
    for c in cols[1:]:
        out = _size_guard(
            out, c, F.zip_with(out, c, lambda a, b: a + b), "vector_add"
        )
    return out


def _scalar_add(*cols: Column) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def _vector_dot(a: Column, b: Column) -> Column:
    # cast BEFORE the product (like _vector_norm): an int*int product
    # can wrap 32-bit silently before the double accumulator widens it
    return _size_guard(
        a,
        b,
        F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        "vector_dot",
    )


def _vector_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def _cosine_similarity(a: Column, b: Column) -> Column:
    return _vector_dot(a, b) / (_vector_norm(a) * _vector_norm(b))


def _vector_scale(a: Column, k: Column) -> Column:
    return F.transform(a, lambda x: x * k)


def _sigmoid(x: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def _relu(x: Column) -> Column:
    # greatest() skips NULLs, so a bare greatest(x, 0.0) would
    # fabricate 0.0 for missing inputs while every other kernel
    # propagates NULL — guard so relu(NULL) stays NULL
    return F.when(x.isNotNull(), F.greatest(x, F.lit(0.0)))


def _log_scale(x: Column) -> Column:
    return F.log1p(F.abs(x)) * F.signum(x)


register_kernel("vector_add", _vector_add, None, "elementwise array addition")
register_kernel("scalar_add", _scalar_add, None, "scalar column sum")
register_kernel("vector_dot", _vector_dot, 2, "array dot product")
register_kernel("vector_norm", _vector_norm, 1, "array L2 norm")
register_kernel("cosine_similarity", _cosine_similarity, 2, "array cosine similarity")
register_kernel("vector_scale", _vector_scale, 2, "array scalar multiply")
register_kernel("sigmoid", _sigmoid, 1, "logistic sigmoid")
register_kernel("relu", _relu, 1, "rectified linear")
register_kernel("log_scale", _log_scale, 1, "signed log1p compression")


# --- registered computations ------------------------------------------------
@dataclass
class ComputeRegistration:
    """A registered COMPUTE: the reference's ml_register_compute row."""

    name: str
    kernel: str
    inputs: Optional[List[str]]
    output: Optional[str]
    schedule_ticks: Optional[int]
    options: Dict[str, Any] = field(default_factory=dict)


COMPUTATIONS: Dict[str, ComputeRegistration] = {}


def execute_compute(stmt: ComputeKernel) -> ComputeRegistration:
    """Register a COMPUTE statement (validates the kernel AND its
    input arity NOW — deferring an arity mismatch to apply time would
    surface it as a bare IndexError inside a running job).
    Re-registering a name is a catalog upsert (module docstring)."""
    spec = get_kernel(stmt.kernel)
    n_inputs = len(stmt.inputs or [])
    if spec.arity is not None and n_inputs != spec.arity:
        raise ValueError(
            f"Kernel {spec.name!r} expects {spec.arity} inputs,"
            f" got {n_inputs}"
        )
    if spec.arity is None and n_inputs == 0:
        raise ValueError(
            f"Kernel {spec.name!r} is variadic but needs at least one"
            " input column — add a FROM table(col, ...) clause"
        )
    reg = ComputeRegistration(
        name=stmt.name,
        kernel=stmt.kernel,
        inputs=stmt.inputs,
        output=stmt.output,
        schedule_ticks=stmt.schedule_ticks,
        options=dict(stmt.options or {}),
    )
    COMPUTATIONS[stmt.name] = reg
    return reg


def apply_compute(df: DataFrame, name: str) -> DataFrame:
    """Apply a registered computation to a DataFrame.

    ``BLOCK n`` bounds a vectorized kernel's per-call chunk inside
    the Arrow batch (advisory, per SURVEY.md §2.10) — the kernel
    never sees more than BLOCK rows per call, without touching the
    session-wide Arrow conf.
    """
    reg = COMPUTATIONS.get(name)
    if reg is None:
        raise ValueError(f"No registered computation named {name!r}")
    spec = get_kernel(reg.kernel)
    inputs = reg.inputs or []
    if spec.arity is not None and len(inputs) != spec.arity:
        raise ValueError(
            f"Kernel {spec.name!r} expects {spec.arity} inputs, got {len(inputs)}"
        )
    if spec.arity is None and not inputs:
        # mirror the registration-time variadic check: a registration
        # that bypassed execute_compute must not surface as a bare
        # IndexError inside a running job
        raise ValueError(
            f"Kernel {spec.name!r} is variadic but the registration"
            " names no input columns"
        )
    out_col = reg.output or f"{name}_out"
    if spec.vectorized:
        # BLOCK bounds the kernel's per-call chunk INSIDE the Arrow
        # batch — never via spark.sql.execution.arrow.maxRecordsPerBatch,
        # which is session-wide and (set at plan-construction time)
        # leaked one computation's batch size into every later Arrow
        # exchange, with last-set-wins across computations
        from pyspark.sql.functions import pandas_udf

        raw = spec.fn
        block = reg.options.get("BLOCK")

        def chunked(*series):
            import pandas as pd

            n = len(series[0])
            if not block or n <= block:
                return raw(*series)
            outs = [
                raw(*[s.iloc[i : i + block] for s in series])
                for i in range(0, n, block)
            ]
            return pd.concat(outs, ignore_index=True)

        udf = pandas_udf(chunked, spec.return_type)
        return df.withColumn(out_col, udf(*[F.col(c) for c in inputs]))
    return df.withColumn(out_col, spec.fn(*[F.col(c) for c in inputs]))
