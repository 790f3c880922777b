"""Marker-gated on-disk fixtures for file-connector queries.

Some registered queries exercise a WRITE → list → READ path (media
files, ORC/CSV/partitioned-parquet round trips). The fixture side —
materializing a bounded, deterministic file set — must run exactly
once per distinct content so bench / verify / the determinism
double-run reuse the files instead of rewriting them, and so a
constant change in a future round can never silently reuse a stale
directory (the key hashes every parameter that defines the content).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import functions as F

from declarativeml_spark.sources.catalog import read_parquet

# A directory at the served path without its _COMPLETE marker is only
# claimable (treated as a stale partial from a crashed legacy writer)
# once it is older than this — a younger marker-less dir is far more
# likely a concurrent winner mid-install racing our marker check, and
# claiming it would transiently unlink a fixture another session is
# actively reading.
_CLAIM_MIN_AGE_S = 5.0


def fixture_dir(tag: str, key_parts: str, writer: Callable[[str], None]) -> str:
    """Return a temp directory holding the fixture for
    ``(tag, key_parts)``, invoking ``writer(dir)`` only when its
    ``_COMPLETE`` marker is absent.

    ``key_parts`` must encode EVERYTHING that determines the files'
    content (sf_dir, subset modulus, column list, row cap, …): the
    directory is content-addressed, so an un-keyed parameter change
    would reuse a stale fixture and fail the oracle gate with no
    visible cause in the diff.

    Cross-process safe: two concurrent sessions (bench + a
    correctness run) may both see the marker missing. The writer
    therefore targets a PRIVATE staging directory which is renamed
    into place atomically (one filesystem, same tempdir) — concurrent
    writers never interleave output inside the served directory, and
    the loser simply discards its staging copy.
    """
    key = hashlib.sha1(key_parts.encode()).hexdigest()[:12]
    base = tempfile.gettempdir()
    d = os.path.join(base, f"declml_fix_{tag}_{key}")
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d

    stage = tempfile.mkdtemp(prefix=f"declml_stage_{tag}_{key}_", dir=base)
    try:
        writer(stage)
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write("ok")
        # mkdtemp creates the staging dir 0700 (and a restrictive
        # umask can leave writer-created files/subdirs 0600/0700);
        # the installed fixture is a SHARED content-addressed cache
        # under the system tempdir, so normalize the WHOLE tree to
        # world-readable or a second OS user either fails the marker
        # stat up front or — worse — passes it and dies mid-query on
        # an unreadable data file.
        os.chmod(stage, 0o755)
        for root, dirs, files in os.walk(stage):
            for name in dirs:
                os.chmod(os.path.join(root, name), 0o755)
            for name in files:
                os.chmod(os.path.join(root, name), 0o644)
        for attempt in range(3):
            if os.path.exists(marker):  # a concurrent writer won
                break
            if os.path.isdir(d):
                # A directory at d without its marker is a stale
                # partial (markers are only ever INSTALLED by the
                # whole-dir rename below, never written in place) —
                # but a concurrent winner may rename a complete copy
                # onto d between the marker check above and now. Age-
                # gate first: a marker-less dir younger than
                # _CLAIM_MIN_AGE_S is almost certainly that winner
                # (installs are a single rename, and stage dirs always
                # carry their marker BEFORE the rename), so wait for
                # its marker to become visible instead of claiming —
                # claiming would transiently unlink a fixture the
                # winner's own Spark job may already be reading.
                try:
                    age = time.time() - os.path.getmtime(d)
                except OSError:
                    continue  # vanished under us: re-check the marker
                if age < _CLAIM_MIN_AGE_S:
                    # sleep long enough to actually BRIDGE the gate:
                    # next attempt either sees the winner's marker
                    # (break) or finds the dir old enough to claim (a
                    # genuinely stale partial recovers after one wait
                    # instead of burning all attempts in 0.6s and
                    # raising)
                    time.sleep(min(_CLAIM_MIN_AGE_S - age + 0.1, _CLAIM_MIN_AGE_S))
                    continue
                # Old enough that no live writer is mid-install: CLAIM
                # the directory atomically (rename, exclusive by
                # construction), re-inspect, and restore if we stole a
                # complete fixture after all.
                claimed = f"{d}.claim.{os.getpid()}.{attempt}"
                try:
                    os.rename(d, claimed)
                except OSError:
                    continue  # someone else claimed/replaced it: recheck
                if os.path.exists(os.path.join(claimed, "_COMPLETE")):
                    try:
                        os.rename(claimed, d)  # put the winner back
                    except OSError:  # a third writer already installed
                        shutil.rmtree(claimed, ignore_errors=True)
                    break
                shutil.rmtree(claimed, ignore_errors=True)
            try:
                os.rename(stage, d)
                return d
            except OSError:
                continue  # raced: re-check the marker
        if not os.path.exists(marker):
            raise RuntimeError(
                f"fixture_dir could not install {d!r} (persistent"
                " rename race or stale partial directory)"
            )
        return d
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def bucketed_table_fixture(
    spark,
    tag: str,
    key_parts: str,
    table: str,
    build_df,
    bucket_col: str,
    n_buckets: int,
    sort_col: str,
) -> str:
    """Content-addressed EXTERNAL bucketed table fixture.

    The r8 managed-table fixtures raced across processes: two fresh
    in-memory metastores over one shared warehouse each saw
    ``tableExists == False``, and the second writer's orphan-location
    rmtree could delete the first's in-flight files. Here the DATA is
    immutable and installed atomically by :func:`fixture_dir` (a
    staging ``saveAsTable`` with an explicit ``path`` writes real
    bucket files, the temp catalog entry is dropped — external, so
    files survive — and the directory renames into place); each
    process then only registers its OWN catalog entry over the
    finished directory, which mutates nothing shared.

    Returns ``table`` (registered in this session's catalog).
    """

    def write(d: str) -> None:
        df = build_df()
        stage_name = f"{table}_stage_{os.getpid()}"
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(sort_col)
            .option("path", d)
            .saveAsTable(stage_name)
        )
        spark.sql(f"DROP TABLE IF EXISTS {stage_name}")  # external: files stay

    d = fixture_dir(tag, key_parts, write)
    return _register_external_bucketed(
        spark, table, d, bucket_col, n_buckets, sort_col
    )


def _register_external_bucketed(
    spark, table: str, location: str, bucket_col: str, n_buckets: int,
    sort_col: str,
) -> str:
    if spark.catalog.tableExists(table):
        # the catalog entry is keyed by NAME; verify it points at THIS
        # key's location — a caller re-using a table name across
        # key_parts would otherwise be served the stale directory
        # silently (the exact failure the module docstring promises
        # is impossible). Location mismatch → drop and re-register.
        current = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
            .filter(F.col("col_name") == "Location")
            .select("data_type")
            .first()
        )
        loc = (current.data_type if current else "") or ""
        if loc.rstrip("/").endswith(os.path.basename(location.rstrip("/"))):
            return table
        spark.sql(f"DROP TABLE IF EXISTS {table}")  # external: files stay
    # schema from the finished files themselves (one footer read)
    schema_ddl = read_parquet(spark, location)._jdf.schema().toDDL()
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) USING PARQUET"
        f" CLUSTERED BY ({bucket_col}) SORTED BY ({sort_col})"
        f" INTO {n_buckets} BUCKETS LOCATION '{location}'"
    )
    return table
