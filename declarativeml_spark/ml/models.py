"""Model registry: versioned PipelineModel persistence + metadata records.

The reference specifies an ``ml_model`` composite + ``model_registry``
table (reference: DSL.md:179-188; DISTRIBUTED.md:76-95). Here the
registry is a directory of versioned MLlib models plus a JSON-lines
metadata file — the Spark-native equivalent (a Delta table on a real
deployment; JSONL locally since Delta jars aren't in this
environment).

Layout:  $DML_MODEL_DIR/<name>/v<N>/   (PipelineModel.save)
         $DML_MODEL_DIR/registry.jsonl (one record per version)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import TYPE_CHECKING, Optional

from pyspark.ml import PipelineModel


def _install_fast_params_writer() -> None:
    """Speed patch for Python-stage model persistence (measured on
    local[32], PySpark 4.1): ``DefaultParamsWriter.saveMetadata``
    builds its one-row metadata DataFrame from a plain local list —
    which parallelizes into defaultParallelism (32) mostly-EMPTY
    Python-RDD slices — then ``coalesce(1)`` drains all 32 slices
    sequentially through per-slice Python worker handshakes: ~6 s per
    Python stage saved, ~12 s per PipelineModel. Building the same
    one-row frame from a single-slice ``parallelize(..., 1)`` writes
    the identical metadata file in one task (~0.2 s). Guarded twice:
    API drift at install time leaves the stock writer bound, and any
    failure at CALL time (e.g. a Spark Connect session, where
    ``spark.sparkContext`` raises — the stock createDataFrame path is
    Connect-supported but the RDD fast path is not) delegates to the
    stock writer for that call instead of failing the save."""
    try:
        from pyspark.ml.util import DefaultParamsWriter
        from pyspark.sql import SparkSession

        original_get = DefaultParamsWriter._get_metadata_to_save
        original_save = DefaultParamsWriter.saveMetadata

        def save_metadata(instance, path, sc, extraMetadata=None, paramMap=None):
            try:
                spark = (
                    sc if hasattr(sc, "createDataFrame")
                    else SparkSession.active()
                )
                metadata_json = original_get(
                    instance, spark, extraMetadata, paramMap
                )
            except Exception:
                original_save(
                    instance, path, sc,
                    extraMetadata=extraMetadata, paramMap=paramMap,
                )
                return
            # Local filesystem: skip the Spark job entirely and write
            # the same layout (metadata/part-00000 + _SUCCESS, one
            # UTF-8 JSON line) with plain file I/O — the one-task job
            # below still costs a full job-launch floor (~0.2 s) per
            # Python stage purely to emit one line of text.
            # DefaultParamsReader.loadMetadata reads it back via
            # textFile(dir), which needs only the part file.
            local = path if "://" not in path else (
                path[len("file://"):] if path.startswith("file://") else None
            )
            if local is not None:
                mdir = os.path.join(local, "metadata")
                try:
                    # no exist_ok: an existing metadata/ (a non-overwrite
                    # save onto a saved model; an overwrite save has
                    # deleted it already) falls through to Spark's
                    # writer, which refuses it as the stock writer does
                    os.makedirs(mdir)
                except OSError:
                    pass
                else:
                    # dot-prefixed, so textFile never reads a torn
                    # staging file back as metadata
                    tmp = os.path.join(mdir, ".part-00000.tmp")
                    try:
                        with open(tmp, "w", encoding="utf-8") as mf:
                            mf.write(metadata_json + "\n")
                        os.replace(tmp, os.path.join(mdir, "part-00000"))
                        with open(os.path.join(mdir, "_SUCCESS"), "w"):
                            pass
                        return
                    except OSError:
                        # unwritable locally: drop the directory this
                        # call created and let Spark write it
                        shutil.rmtree(mdir, ignore_errors=True)
            try:
                # parallelize raises before any output exists, so the
                # fallback never collides with partial metadata files
                rdd = spark.sparkContext.parallelize([(metadata_json,)], 1)
            except Exception:
                original_save(
                    instance, path, sc,
                    extraMetadata=extraMetadata, paramMap=paramMap,
                )
                return
            spark.createDataFrame(rdd, "value string").write.text(
                os.path.join(path, "metadata")
            )

        DefaultParamsWriter.saveMetadata = staticmethod(save_metadata)
    except Exception:  # pragma: no cover — stock writer still correct
        pass


_install_fast_params_writer()
from pyspark.sql import SparkSession

if TYPE_CHECKING:
    from declarativeml_spark.ml.training import TrainedModel

# In-session PipelineModel handle cache, keyed by the version dir the
# artifacts live in. PREDICT immediately after TRAIN (the DSL chain's
# common shape) otherwise pays a full PipelineModel.load — several
# driver-side Spark jobs (per-stage metadata text reads + params
# parquet scans) — for the very object this process just built and
# saved. The disk artifact is still written on every save and remains
# the source of truth for any other process (cold-start serving is
# unchanged); this only skips re-reading bytes this session wrote or
# already read. Version resolution (latest / rolled-back checks) and
# the artifact-exists check stay on disk, so rollbacks and deleted
# artifacts behave exactly as before. Entries are O(model params);
# FIFO-capped.
_PIPELINE_CACHE: dict[str, PipelineModel] = {}
_PIPELINE_CACHE_CAP = 8


def _pipeline_cache_put(path: str, model: PipelineModel) -> None:
    key = os.path.abspath(path)
    _PIPELINE_CACHE.pop(key, None)
    while len(_PIPELINE_CACHE) >= _PIPELINE_CACHE_CAP:
        _PIPELINE_CACHE.pop(next(iter(_PIPELINE_CACHE)))
    _PIPELINE_CACHE[key] = model


def _default_base() -> str:
    """The layout root, resolved at CALL time: $DML_MODEL_DIR set
    after import must take effect."""
    return os.environ.get("DML_MODEL_DIR", "/tmp/dml_models")


def _registry_path(base: Optional[str] = None) -> str:
    return os.path.join(base or _default_base(), "registry.jsonl")


def append_registry_record(base: Optional[str], record: dict) -> None:
    """THE one registry appender (used by save/status/trials and
    ml.ensemble): creates the base dir and appends one JSON line.
    Four drifting copies of this pattern existed — one of them
    (mark_version_status) had already lost its makedirs."""
    base = base or _default_base()
    os.makedirs(base, exist_ok=True)
    path = _registry_path(base)
    # self-heal a torn tail: a crash mid-append can leave the file
    # without its trailing newline, and a bare append would CONCATENATE
    # this record onto the truncated line — corrupting a good record
    # into the bad line instead of isolating the bad line
    needs_nl = False
    try:
        with open(path, "rb") as rf:
            rf.seek(-1, os.SEEK_END)
            needs_nl = rf.read(1) != b"\n"
    except OSError:
        pass  # missing or empty file: nothing to heal
    with open(path, "a") as f:
        if needs_nl:
            f.write("\n")
        f.write(json.dumps(record) + "\n")


def _iter_registry(base: str):
    """Yield parsed registry records, SKIPPING corrupt lines with a
    warning naming them — one truncated line (crash mid-append, disk
    full) previously bricked load/deploy/serve for EVERY model in the
    registry, intact records included."""
    path = _registry_path(base)
    if not os.path.exists(path):
        return
    bad: list[int] = []
    with open(path) as f:
        for lineno, line in enumerate(f, 1):
            if not line.strip():
                continue
            try:
                yield json.loads(line)
            except ValueError:
                bad.append(lineno)
    if bad:
        import warnings

        warnings.warn(
            f"registry {path!r}: skipped corrupt line(s) {bad} —"
            " records appended onto a truncated line are lost; the"
            " remaining registry stays readable",
            RuntimeWarning,
            stacklevel=2,
        )


def next_version(name: str, base: Optional[str] = None) -> int:
    model_dir = os.path.join(base or _default_base(), name)
    if not os.path.isdir(model_dir):
        return 1
    versions = [
        int(d[1:]) for d in os.listdir(model_dir) if d.startswith("v") and d[1:].isdigit()
    ]
    return max(versions, default=0) + 1


def registry_save(
    spark: SparkSession,
    trained: "TrainedModel",
    base: Optional[str] = None,
    statement: Optional[str] = None,
    extra: Optional[dict] = None,
) -> str:
    """Persist a trained model version + append registry metadata."""
    base = base or _default_base()
    # CLAIM the version dir before the (slow) artifact write: two
    # concurrent saves racing next_version would both compute N+1 and
    # the second overwrite() silently clobbered the first's artifacts
    # while the registry gained two records claiming one version.
    # makedirs(exist_ok=False) is the atomic claim; on collision the
    # loser re-reads and takes the next slot.
    for _ in range(64):
        version = next_version(trained.name, base)
        path = os.path.join(base, trained.name, f"v{version}")
        try:
            os.makedirs(path, exist_ok=False)
            break
        except FileExistsError:
            continue
    else:  # pragma: no cover - 64 concurrent savers
        raise RuntimeError(
            f"could not allocate a version dir for {trained.name!r}"
        )
    try:
        trained.pipeline_model.write().overwrite().save(path)
    except BaseException:
        # release the claim: an empty orphan dir would otherwise make
        # next_version skip this slot forever
        shutil.rmtree(path, ignore_errors=True)
        raise
    record = {
        "name": trained.name,
        "version": version,
        "algorithm": trained.algorithm,
        "features": trained.features,
        "target": trained.target,
        "performance_metrics": trained.metrics,
        "stopping_epoch": trained.stopping_epoch,
        "checkpoints": trained.checkpoints,
        "path": path,
        "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "status": "registered",
        # original DSL text: RETRAIN re-executes it (DSL.md:136-142)
        "statement": statement,
    }
    if extra:
        record.update(extra)
    try:
        append_registry_record(base, record)
    except BaseException:
        # an unregistered artifact is an invisible orphan that
        # next_version skips forever and previous_<metric> lookups
        # silently resolve past — remove it and surface the failure
        shutil.rmtree(path, ignore_errors=True)
        raise
    # mutate the caller's handle only once version+record BOTH exist
    trained.version = version
    trained.path = path
    _pipeline_cache_put(path, trained.pipeline_model)
    return path


def trial_log_append(
    agent: str,
    model: str,
    method: str,
    metric: str,
    trials: list,
    best_trial: int,
    maximize: bool = True,
    base: Optional[str] = None,
) -> None:
    """Append a hyperparameter-search audit record (one line holding
    every trial's params + metric and the winner) to the registry
    metadata, so a finished search is inspectable after the fact
    (reference DSL.md:158-171 tuner agents; surfaced by
    ``Engine.tuning_trials``)."""
    base = base or _default_base()
    record = {
        "record": "tuning_trials",
        "agent": agent,
        "name": model,
        "method": method,
        "metric": metric,
        # the search DIRECTION must persist with the log: a fresh
        # session reading this record has no tuner registry to consult,
        # and defaulting MINIMIZE searches to descending would rank the
        # WORST trial first
        "maximize": bool(maximize),
        "trials": trials,
        "best_trial": best_trial,
        "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    append_registry_record(base, record)


def trial_log_read(
    agent: str, base: Optional[str] = None
) -> Optional[dict]:
    """Latest tuning_trials record for an agent, or None."""
    base = base or _default_base()
    out: Optional[dict] = None
    for rec in _iter_registry(base):
        if rec.get("record") == "tuning_trials" and rec.get("agent") == agent:
            out = rec
    return out


def mark_version_status(
    name: str, version: int, status: str, base: Optional[str] = None
) -> None:
    """Append a status record for a version (e.g. rolled_back)."""
    append_registry_record(
        base, {"name": name, "version": version, "status": status}
    )


def rollback_version(name: str, version: int, base: Optional[str] = None) -> bool:
    """Mark ``version`` rolled back; returns False, appending nothing,
    when it already is."""
    if registry_meta(name, version, base).get("status") == "rolled_back":
        return False
    mark_version_status(name, version, "rolled_back", base)
    return True


def _model_versions(name: str, base: str) -> tuple[dict[int, dict], dict[int, str]]:
    """One registry pass: each version's full record (the one carrying
    ``algorithm``) and its latest status. Status-only records (deploy,
    archive, rollback) override the status; they never make a version
    exist."""
    full: dict[int, dict] = {}
    status: dict[int, str] = {}
    for rec in _iter_registry(base):
        if rec.get("name") != name:
            continue
        ver = rec.get("version") or 1
        if "algorithm" in rec:
            full[ver] = rec
        if rec.get("status"):
            status[ver] = rec["status"]
    return full, status


def _pick(
    full: dict[int, dict],
    status: dict[int, str],
    version: Optional[int],
    below: Optional[int] = None,
) -> dict:
    """THE version rule. Pinned: that version's record, whatever its
    status. Unpinned: the newest live version — live meaning its
    latest status is not ``rolled_back`` — optionally only among
    versions older than ``below``. ``{}`` when nothing qualifies."""
    if version is None:
        version = max(
            (
                v for v in full
                if status.get(v) != "rolled_back" and (below is None or v < below)
            ),
            default=None,
        )
    if version not in full:
        return {}
    rec = dict(full[version])
    rec["version"] = version
    rec["status"] = status.get(version, rec.get("status", "registered"))
    return rec


def registry_meta(
    name: str, version: Optional[int] = None, base: Optional[str] = None
) -> dict:
    """The full registry record for a model — feature expressions,
    target, metrics, checkpoints — of the version :func:`registry_load`
    serves: the newest live version unless pinned. Returns ``{}`` when
    no such record exists."""
    return _pick(*_model_versions(name, base or _default_base()), version)


def registry_previous(name: str, version: int, base: Optional[str] = None) -> dict:
    """The record of the version before ``version``: the newest OLDER
    live version (``{}`` when there is none). ARCHIVE previous_version
    marks it; a workflow's ``previous_<metric>`` reads its metrics."""
    return _pick(*_model_versions(name, base or _default_base()), None, below=version)


def registry_resolve(
    name: str, version: Optional[int] = None, base: Optional[str] = None
) -> tuple[dict, str]:
    """The record :func:`registry_meta` picks and its artifact directory
    ``<base>/<name>/v<N>``, or a typed error. A version directory
    without a registry record (a save killed before its append) is
    never served."""
    base = base or _default_base()
    full, status = _model_versions(name, base)
    if not full:
        raise ValueError(f"No registered model named {name!r} in {base}")
    rec = _pick(full, status, version)
    if not rec and version is None:
        # silently serving the very version that was rolled back
        # would undo the rollback for every downstream scorer
        raise ValueError(
            f"Every version of model {name!r} is rolled back; pin a"
            " version explicitly to override"
        )
    v = rec.get("version", version)
    path = os.path.join(base, name, f"v{v}")
    if not rec or not os.path.isdir(path):
        if rec.get("algorithm") == "ensemble":
            raise ValueError(
                f"{name!r} is an ENSEMBLE (no stored PipelineModel) —"
                " score it via PREDICT USING MODEL / score_ensemble,"
                " not registry_load"
            )
        raise ValueError(
            f"Model {name!r} version {v} has no stored artifacts under"
            f" {base} — known versions: {sorted(full)}"
        )
    return rec, path


def registry_load(
    spark: SparkSession, name: str, version: Optional[int] = None, base: Optional[str] = None
) -> PipelineModel:
    """Load the PipelineModel of the version :func:`registry_resolve`
    picks (the newest live version unless pinned)."""
    _, path = registry_resolve(name, version, base)
    cached = _PIPELINE_CACHE.get(os.path.abspath(path))
    if cached is not None:
        return cached
    model = PipelineModel.load(path)
    _pipeline_cache_put(path, model)
    return model


def stored_train_statement(meta: dict):
    """The parsed TRAIN MODEL statement a registry record stores —
    RETRAIN and the tuner re-execute it, EXPLAIN and MONITOR read its
    source when they name none."""
    from declarativeml_spark.dsl import ir
    from declarativeml_spark.dsl.parser import parse

    stmt = parse(meta["statement"]) if meta.get("statement") else None
    if not isinstance(stmt, ir.TrainModel):
        raise ValueError(
            f"Model {meta.get('name')!r} has no stored TRAIN statement —"
            " it was not registered by TRAIN MODEL; name a source"
            " explicitly where the statement takes one"
        )
    return stmt


