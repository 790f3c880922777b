"""Tables the engine writes, and the similarity indexes stored in them.

``CREATE INDEX … STORED AS`` and ``TRAIN TOKENIZER … STORED AS`` are
the statements that write catalog tables. :class:`IndexStore` owns
every such table: which names a statement may claim (:meth:`claim`),
how an existing copy is replaced without losing it on a failed write
(:meth:`_write_table`), and how a table is released
(:meth:`_release_tables`). It also runs the index lifecycle — CREATE,
REFRESH and DROP INDEX and ``SEARCH SIMILAR … USING INDEX`` — and
keeps the cross-session index registry through which a fresh session
serves a stored index without a rebuild.

What differs between the ivf and lsh methods is one :class:`_Layout`
row each in :data:`LAYOUTS`; the lifecycle itself never asks which
method it runs.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.plans.builder import resolve_source


class ForeignRegistryTableError(ValueError):
    """A table occupies the index-registry name but is not the
    registry (wrong schema). Raised instead of reading or overwriting
    it; paths that merely WOULD have consulted the registry (session
    -only drops/rebuilds) treat it as 'no registry exists'."""


def top_pairs(pairs: DataFrame, n: int) -> DataFrame:
    """The ``n`` closest pairs of an lsh pair result (an explicit TOP),
    with a deterministic tiebreak."""
    return pairs.orderBy(
        F.col("euclidean_dist").asc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(n)


MERGE_TABLE_COLUMNS = frozenset({"merge_round", "lhs", "rhs"})


def is_merge_table(df: DataFrame) -> bool:
    """Whether ``df`` has a tokenizer merge table's columns."""
    return MERGE_TABLE_COLUMNS <= set(df.columns)


# -- per-method layout --------------------------------------------------------
def _ivf_build(df, id_col, vec_col, p):
    # the pinned-Lloyd cell assignment: a persisted corpus and
    # checkpointed centroids
    from declarativeml_spark.operators.dedup import native_cells

    return native_cells(
        df,
        id_col,
        vec_col,
        n_cells=int(p.get("n_cells", 8)),
        n_iters=int(p.get("n_iters", 2)),
        dim=int(p.get("dim", 64)),
    )


def _ivf_assign(new, frames, id_col, vec_col, p):
    # new vectors assign to the FROZEN centroids (one broadcast argmin,
    # no shuffle); centroid drift warrants CREATE INDEX, not REFRESH
    from declarativeml_spark.operators.dedup import assign_cells

    return assign_cells(
        new, frames["cents"], id_col, vec_col, dim=int(p.get("dim", 64))
    )


def _ivf_search(frames, p, k, top):
    from declarativeml_spark.operators.dedup import ivf_probe_topk

    return ivf_probe_topk(frames["corpus"], frames["cents"], k=k, **p)


def _lsh_build(df, id_col, vec_col, p):
    from declarativeml_spark.operators.caching import track_persist
    from declarativeml_spark.operators.dedup import lsh_keyed_index

    # persist_base=False: the keyed frame is persisted (or stored) here;
    # the operator's internal vector-plane cache would be a second copy
    # of every vector
    return (
        track_persist(
            lsh_keyed_index(
                df, id_col=id_col, vec_col=vec_col, persist_base=False, **p
            )
        ),
    )


def _lsh_assign(new, frames, id_col, vec_col, p):
    # bucket keys are a deterministic function of the vector (seeded
    # projections), so a refresh equals a cold rebuild on the union
    from declarativeml_spark.operators.dedup import lsh_keyed_index

    p = dict(p)
    if "dim" not in p:
        # infer from the EXISTING index, not from `new`: a refresh with
        # zero new rows must key an empty frame
        probe = frames["keyed"].select(F.size("vec").alias("d")).first()
        if probe is not None and probe["d"] and probe["d"] > 0:
            p["dim"] = int(probe["d"])
    return lsh_keyed_index(new, id_col=id_col, vec_col=vec_col, **p)


def _lsh_search(frames, p, k, top):
    from declarativeml_spark.operators.dedup import lsh_pairs_from_index

    pairs = lsh_pairs_from_index(frames["keyed"], **p)
    return pairs if top is None else top_pairs(pairs, top)


class _Layout(NamedTuple):
    """Everything CREATE, REFRESH, SEARCH and DROP INDEX need to know
    about one method. The first frame holds one row per vector (per
    hash table, for lsh) and is stored as a bucketed table; any later
    frame is a small checkpointed side table stored plainly."""

    build_options: frozenset  # CREATE INDEX options besides id/vec_col
    search_options: frozenset  # SEARCH … USING INDEX options
    frames: tuple  # serving frame names, in storage-table order
    suffixes: tuple  # STORED AS table-name suffix per frame
    bucket: list  # bucket columns of the first table
    sort: Optional[list]  # its sort columns
    shape: frozenset  # columns every storage table of the method has
    build: Callable  # (df, id_col, vec_col, options) -> frames
    assign: Callable  # (new rows, frames, id_col, vec_col, options) -> delta
    search: Callable  # (frames, options, k, explicit TOP) -> result


LAYOUTS = {
    "ivf": _Layout(
        build_options=frozenset({"n_cells", "n_iters", "dim"}),
        search_options=frozenset({"query_mod", "n_probe"}),
        frames=("corpus", "cents"),
        suffixes=("", "_centroids"),
        bucket=["cell"],
        sort=None,
        shape=frozenset({"cell"}),
        build=_ivf_build,
        assign=_ivf_assign,
        search=_ivf_search,
    ),
    "lsh": _Layout(
        build_options=frozenset(
            {"bucket_length", "num_hash_tables", "projs_per_table", "seed", "dim"}
        ),
        search_options=frozenset({"threshold"}),
        frames=("keyed",),
        suffixes=("",),
        # both candidate-join keys: Spark's co-partition check rejects
        # a bucket-key subset of the join keys
        bucket=["tbl", "bkey"],
        sort=["tbl", "bkey"],
        shape=frozenset({"tbl", "bkey"}),
        build=_lsh_build,
        assign=_lsh_assign,
        search=_lsh_search,
    ),
}


def _check_options(given, allowed, what: str, hint: str = "") -> None:
    unknown = sorted(set(given) - allowed)
    if unknown:
        raise ValueError(
            f"{what} does not accept option(s) {', '.join(unknown)}; accepted:"
            f" {', '.join(sorted(allowed))}{hint}"
        )


def _vectors(frame: DataFrame) -> int:
    """Indexed VECTORS (distinct ``vec_id``), not rows: an lsh frame
    has one row per vector × hash table."""
    return frame.select("vec_id").distinct().count()


def _tables_read(df: DataFrame) -> frozenset:
    """Lower-cased names of the catalog tables ``df``'s plan scans
    (views expanded)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    names = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            table = leaf.catalogTable()
            if table.isDefined():
                names.add(table.get().identifier().table().lower())
    return frozenset(names)


class IndexStore:
    """Owner of every table the engine writes, and of the live
    similarity indexes (one per :class:`~declarativeml_spark.engine.Engine`).

    An index record is ``{method, source, source_is_identifier, params,
    frames, owned, tables}``: ``frames`` serve searches, ``owned`` are
    the caches that outlive statement scopes until the index is
    released, and ``tables`` are its STORED AS tables (empty for an
    in-memory index)."""

    # The registry: one row per STORED AS index, so a fresh session can
    # adopt the index on its first SEARCH/REFRESH/DROP … USING INDEX
    # <name>, probe-only, with no rebuild.
    INDEX_REGISTRY_TABLE = "declml_index_registry"
    _INDEX_REGISTRY_SCHEMA = (
        "index_name string, method string, source string,"
        " source_is_identifier boolean, params string,"
        " tables array<string>"
    )
    # full dtype map, not just names: a user table with the same six
    # column NAMES but different types must not pass as the registry
    _INDEX_REGISTRY_DTYPES = {
        "index_name": "string",
        "method": "string",
        "source": "string",
        "source_is_identifier": "boolean",
        "params": "string",
        "tables": "array<string>",
    }
    # Explicit ownership mark on every stored-index table: the column
    # shape alone cannot tell index storage from a USER table with the
    # same column names. Only the engine writes the property, so
    # reclaim and adoption require BOTH the shape and the mark.
    _INDEX_STORAGE_PROP = "declml.index_storage"

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.indexes: dict[str, dict] = {}
        # tokenizer name → its STORED AS merge table
        self.tokenizer_tables: dict[str, str] = {}
        # lower-cased names of the storage tables THIS session wrote:
        # only these may be silently cleaned on rebuild — anything else
        # of the same name is presumed user data and errors instead
        self._created_storage: set[str] = set()

    def _warehouse_path(self) -> str:
        from declarativeml_spark.sources.io import warehouse_path

        return warehouse_path(self.spark)

    # -- claim and release ----------------------------------------------------
    def claim(
        self, targets: list, owner: tuple, reads: frozenset = frozenset()
    ) -> None:
        """Refuse STORED AS ``targets`` that ``owner`` — ``("index",
        name)`` or ``("tokenizer", name)`` — may not write: the registry
        name, another live index's or tokenizer's table, and an existing
        table or an orphaned warehouse directory that this owner did not
        write. A table the owner may clean but that the statement's
        source reads (``reads``) is refused too: writing it would drop
        the build's input first. Names compare lower-cased, as the
        catalog does. Runs before anything is released, so a failing
        statement leaves the working artifact intact."""
        holders = {
            t.lower(): ("index", nm)
            for nm, rec in self.indexes.items()
            for t in rec["tables"]
        }
        holders.update(
            (t.lower(), ("tokenizer", nm)) for nm, t in self.tokenizer_tables.items()
        )
        kind, name = owner
        for target in targets:
            key = target.lower()
            if key == self.INDEX_REGISTRY_TABLE.lower():
                raise ValueError(
                    f"STORED AS target {target!r} is the engine's index"
                    " registry table — pick another name"
                )
            holder = holders.get(key)
            if holder is not None and holder != owner:
                label = "live index" if holder[0] == "index" else "tokenizer"
                raise ValueError(
                    f"STORED AS target {target!r} belongs to {label}"
                    f" {holder[1]!r} — pick another name or drop that"
                    f" {holder[0]} first"
                )
            if holder == owner or key in self._created_storage:
                # the owner's own storage or a leftover of this
                # session's failed build: safe to clean
                if key in reads:
                    raise ValueError(
                        f"STORED AS target {target!r} is read by the"
                        " statement's source — pick another name"
                    )
                continue
            if self.spark.catalog.tableExists(target):
                raise ValueError(
                    f"STORED AS target {target!r} already exists and"
                    f" does not belong to {kind} {name!r} — pick"
                    " another name or drop the table first"
                )
            loc = os.path.join(self._warehouse_path(), key)
            if os.path.isdir(loc):
                raise ValueError(
                    f"STORED AS target location {loc!r} already"
                    " exists (orphaned by a previous session?) —"
                    " remove it or pick another name"
                )

    def _release_tables(
        self, tables, shape: frozenset = frozenset(), keep: frozenset = frozenset()
    ) -> None:
        """Drop engine-written tables and forget them. A table the
        statement's source reads (``keep``, lower-cased) survives as an
        ordinary table. With a ``shape``, a live table lacking those
        columns or the ownership mark is presumed user data that merely
        reuses the name and survives too; an empty shape drops
        unconditionally (names this statement itself just wrote)."""
        for t in tables:
            if t.lower() in keep or (
                shape
                and self.spark.catalog.tableExists(t)
                and not self._is_storage(t, shape)
            ):
                self._created_storage.discard(t.lower())
            else:
                self.drop_storage(t)

    def _release(self, name: str, keep: frozenset = frozenset()) -> None:
        """Release live index ``name`` (if any): its caches, checkpoints
        and tables, sparing the tables in ``keep``."""
        from declarativeml_spark.operators.caching import (
            release_all,
            release_checkpoint,
        )

        rec = self.indexes.pop(name, None)
        if rec is None:
            return
        release_all(rec["owned"])
        # checkpointed frames (centroids, refresh generations); a no-op
        # on persisted and table-backed frames
        for f in (*rec["frames"].values(), *rec.get("checkpointed", ())):
            release_checkpoint(f)
        self._release_tables(rec["tables"], LAYOUTS[rec["method"]].shape, keep)

    def drop_storage(self, t: str) -> None:
        """Drop an engine-written table (best effort) and forget it: the
        name is free again, so a table the USER creates under it later
        must not be silently cleanable on rebuild."""
        self._clean_table(t)
        self._created_storage.discard(t.lower())

    def _clean_table(self, name: str) -> None:
        """Drop a managed table (best effort) and its warehouse dir."""
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:  # noqa: BLE001 — best-effort cleanup
            pass
        shutil.rmtree(
            os.path.join(self._warehouse_path(), name.lower()),
            ignore_errors=True,
        )

    # -- crash-safe writes ------------------------------------------------------
    def _write_table(
        self, frame: DataFrame, t: str, is_shape: Callable[[DataFrame], bool]
    ) -> None:
        """Write ``frame`` as table ``t``. An existing copy is replaced
        by :meth:`_swap_write`, so a failed write leaves it intact; a
        fresh name is written directly and cleaned if the write fails.
        ``is_shape`` tells an engine-written copy of ``t`` from a
        foreign table squatting on the swap name."""
        # a prior crash may have stranded the data in the swap
        self.recover_swap(t, is_shape)
        if not self.spark.catalog.tableExists(t):
            # an orphaned location (a previous catalog's table over a
            # shared warehouse dir) would fail the write. It is stale:
            # the registry name is the engine's own, and claim() has
            # refused any other orphan that this owner did not write
            try:
                self._clean_table(t)
                frame.write.saveAsTable(t)
            except BaseException:
                self.drop_storage(t)
                raise
            return
        tmp = f"{t}__swap"
        if self.spark.catalog.tableExists(tmp):
            # a crash between the swap save and the DROP of the old
            # table leaves BOTH standing; an engine-written swap is safe
            # to clean (_swap_write does), a foreign one is refused
            self.spark.sql(f"REFRESH TABLE {tmp}")
            if not is_shape(self.spark.table(tmp)):
                raise ValueError(
                    f"swap table {tmp!r} exists and is not a copy of"
                    f" {t!r} — remove it or pick another name"
                )
        self._swap_write(frame, t)

    def _swap_write(self, frame: DataFrame, t: str) -> None:
        """Replace existing table ``t`` with ``frame`` so that a failed
        write leaves the good copy intact: save ``<t>__swap`` first,
        then drop + rename. A crash between the drop and the rename is
        repaired by :meth:`recover_swap`."""
        tmp = f"{t}__swap"
        try:
            self._clean_table(tmp)  # leftover from an interrupted prior swap
            frame.write.saveAsTable(tmp)
        except BaseException:
            self._clean_table(tmp)
            raise  # the existing good table is untouched
        self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {t}")
        # the rename leaves stale cached file listings for the name in
        # OTHER live sessions sharing this catalog (their next read
        # fails FAILED_READ_FILE on the swapped-out part files);
        # refresh invalidates the shared relation cache
        self.spark.sql(f"REFRESH TABLE {t}")

    def recover_swap(self, t: str, is_shape: Callable[[DataFrame], bool]) -> None:
        """Crash recovery for the swap-rename window in
        :meth:`_swap_write`: a failure between ``DROP TABLE <t>`` and
        ``ALTER TABLE <t>__swap RENAME`` leaves no table but a COMPLETE
        swap. Adopt an orphan that passes ``is_shape`` by finishing the
        rename; a foreign-shaped same-named table is left alone."""
        tmp = f"{t}__swap"
        if self.spark.catalog.tableExists(t) or not self.spark.catalog.tableExists(tmp):
            return
        self.spark.sql(f"REFRESH TABLE {tmp}")
        if not is_shape(self.spark.table(tmp)):
            return
        self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {t}")
        self.spark.sql(f"REFRESH TABLE {t}")

    # -- ownership mark ---------------------------------------------------------
    def _mark_index_storage(self, table: str) -> None:
        self.spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES"
            f" ('{self._INDEX_STORAGE_PROP}'='1')"
        )

    def has_table_prop(self, table: str, prop: str) -> bool:
        from pyspark.errors import AnalysisException

        try:
            rows = self.spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        except AnalysisException:  # no such table / view: not ours
            return False
        # anything else (transient catalog/metastore failure) must
        # propagate: swallowing it would make a flaky metastore look
        # like "not marked", steering adoption into its rebuild error
        # and the reclaim into skipping a table the engine owns
        return any(r.key == prop and r.value == "1" for r in rows)

    def is_index_storage(self, table: str) -> bool:
        return self.has_table_prop(table, self._INDEX_STORAGE_PROP)

    def _is_storage(self, table: str, shape: frozenset) -> bool:
        return shape <= set(self.spark.table(table).columns) and (
            self.is_index_storage(table)
        )

    # -- the registry -------------------------------------------------------------
    def _is_registry(self, df: DataFrame) -> bool:
        return dict(df.dtypes) == self._INDEX_REGISTRY_DTYPES

    def _registry_rows(self, session_only: bool = False) -> list:
        """All registry rows ([] when no registry exists). A same-named
        table with a FOREIGN shape is never read as (or overwritten by)
        the registry: it raises, except on ``session_only`` paths, which
        need no registry and treat it as none."""
        t = self.INDEX_REGISTRY_TABLE
        self.recover_swap(t, self._is_registry)
        if not self.spark.catalog.tableExists(t):
            return []
        # the relation cache is PER SESSION: another live session's
        # registry rewrite replaces the part files, and this session's
        # cached listing would fail FAILED_READ_FILE on the next read
        self.spark.sql(f"REFRESH TABLE {t}")
        reg = self.spark.table(t)
        if not self._is_registry(reg):
            if session_only:
                return []
            raise ForeignRegistryTableError(
                f"Table {t!r} exists but is not the engine's index"
                f" registry (schema {sorted(reg.dtypes)}) — rename or drop it"
            )
        return [r.asDict() for r in reg.collect()]

    def _registry_row(self, name: str, session_only: bool = False) -> tuple:
        """(every other index's rows, ``name``'s row or None)."""
        rows = self._registry_rows(session_only)
        mine = next((r for r in rows if r["index_name"] == name), None)
        return [r for r in rows if r["index_name"] != name], mine

    def _write_registry(self, rows: list) -> None:
        # a plain overwrite drops the table before rewriting, so a
        # mid-write failure would lose EVERY stored index's row
        self._write_table(
            self.spark.createDataFrame(rows, schema=self._INDEX_REGISTRY_SCHEMA),
            self.INDEX_REGISTRY_TABLE,
            self._is_registry,
        )

    def _drop_row(self, name: str, keep: frozenset = frozenset()) -> None:
        """Remove ``name``'s registry row and release the tables it
        names (shape- and mark-guarded, ``keep`` spared). Session-only
        paths route here, so a foreign table under the registry name
        counts as no registry."""
        others, row = self._registry_row(name, session_only=True)
        if row is not None:
            self._release_tables(row["tables"], LAYOUTS[row["method"]].shape, keep)
            self._write_registry(others)

    def _lookup(self, name: str) -> Optional[dict]:
        """The live index ``name``, adopting a STORED AS index from the
        registry (any session's) on first use. None when neither has
        it; raises when the registry row's storage is gone or does not
        look like index storage (CREATE INDEX rebuilds it)."""
        if name in self.indexes:
            return self.indexes[name]
        _, row = self._registry_row(name)
        if row is None:
            return None
        tables = list(row["tables"])
        missing = [t for t in tables if not self.spark.catalog.tableExists(t)]
        if missing:
            raise ValueError(
                f"Index {name!r} is registered but its storage table(s)"
                f" {', '.join(missing)} are gone (failed rebuild or"
                " dropped out of band) — CREATE INDEX to rebuild"
            )
        layout = LAYOUTS[row["method"]]
        # validate BEFORE serving (and before DROP could release these
        # frames): a user table that merely reuses a recorded name must
        # neither serve garbage nor ever be dropped
        for t in tables:
            if not self._is_storage(t, layout.shape):
                raise ValueError(
                    f"Index {name!r} is registered but table {t!r} does"
                    " not look like its index storage (columns"
                    f" {sorted(self.spark.table(t).columns)}, ownership"
                    f" mark {self.is_index_storage(t)}) — the name was"
                    " likely reused; CREATE INDEX to rebuild"
                )
        rec = {
            "method": row["method"],
            "source": row["source"],
            "source_is_identifier": bool(row["source_is_identifier"]),
            "params": json.loads(row["params"]),
            "frames": dict(zip(layout.frames, map(self.spark.table, tables))),
            "owned": [],  # serves straight from the tables: no caches
            "tables": tables,
        }
        self.indexes[name] = rec
        return rec

    def _known(self, name: str) -> dict:
        rec = self._lookup(name)
        if rec is None:
            raise ValueError(
                f"Unknown index {name!r}; build it first with CREATE INDEX"
            )
        return rec

    # -- tokenizer merge tables -------------------------------------------------------
    def store_tokenizer(self, name: str, merges: DataFrame, t: str) -> DataFrame:
        """Write tokenizer ``name``'s merges as table ``t`` (claimed
        already) and serve them from it; a table the tokenizer held
        under another name is released."""
        self._write_table(merges, t, is_merge_table)
        self._created_storage.add(t.lower())
        old = self.tokenizer_tables.get(name)
        if old and old.lower() != t.lower():
            self.drop_storage(old)
        self.tokenizer_tables[name] = t
        return self.spark.table(t)

    # -- CREATE / REFRESH / DROP INDEX, SEARCH … USING INDEX ------------------
    def create(self, stmt) -> DataFrame:
        """Build a similarity index once, materialize it, and keep it
        across statements so repeated ``SEARCH SIMILAR … USING INDEX``
        runs only the probe stages. The built frames are adopted OUT of
        the per-statement cache scope (caching.adopt_since), so the
        engine's next-statement release leaves them cached; DROP INDEX
        (or a rebuilding CREATE INDEX of the same name) frees them.
        ``STORED AS`` writes bucketed managed tables and serves from
        them (the lsh candidate self-join is co-located; the tables
        survive executor loss and a restarted session). The index is a
        snapshot of the source at build time."""
        from declarativeml_spark.operators import caching

        layout = LAYOUTS[stmt.method]
        df = resolve_source(self.spark, stmt.source, stmt.source_is_identifier)
        # Validate FIRST: a CREATE INDEX that is going to fail must
        # leave an existing same-name index and its tables untouched.
        _check_options(
            stmt.params,
            layout.build_options | {"id_col", "vec_col"},
            f"CREATE INDEX USING {stmt.method}",
        )
        p = dict(stmt.params)
        id_col = p.pop("id_col", "vec_id")
        vec_col = p.pop("vec_col", "embedding")
        # the tables the new index is built from: no release drops them
        reads = _tables_read(df)
        targets = []
        if stmt.stored_as is not None:
            targets = [stmt.stored_as + s for s in layout.suffixes]
            # an idempotent re-run in a FRESH session: the registry row
            # and ownership marks prove an existing target is this
            # index's own storage. Adoption failures fall through to the
            # claim (missing storage → plain rebuild; unmarked or
            # misshapen table → refused, never dropped).
            try:
                self._lookup(stmt.name)
            except ValueError:
                pass
            self.claim(targets, ("index", stmt.name), reads)
            # the closing registry write must not be the FIRST place a
            # foreign squatter on the registry name surfaces: by then
            # the old index and its tables are gone
            self._registry_rows()
            # Release the same-name index NOW: its drop of shared
            # storage names must run before, never after, the new write
            self._release(stmt.name, reads)
            # then this session's leftovers from an earlier failed build
            self._release_tables(
                t for t in targets if t.lower() in self._created_storage
            )
            self._created_storage.update(t.lower() for t in targets)
        mark = caching.scope_mark()
        try:
            built = layout.build(df, id_col, vec_col, p)
            n_rows = _vectors(built[0])  # materialize the snapshot NOW
            owned = caching.adopt_since(mark)
            frames = dict(zip(layout.frames, built))
            if targets:
                try:
                    self._write_index_tables(layout, built, targets)
                finally:
                    caching.release_all(owned)  # the tables serve now
                frames = dict(zip(layout.frames, map(self.spark.table, targets)))
        except BaseException:
            # a failed build must not leave the STORED AS names marked
            # session-owned (a user table created under the name later
            # would be silently dropped by the next same-target CREATE
            # INDEX), nor leak partial storage or adopted caches
            caching.release_all(caching.adopt_since(mark))
            self._release_tables(targets)
            if targets:
                # the same-name index was released before the build: a
                # surviving registry row would point at dropped tables
                try:
                    self._drop_row(stmt.name, reads)
                except Exception:  # noqa: BLE001 — keep the build error
                    pass
            raise
        self._release(stmt.name, reads)
        self.indexes[stmt.name] = {
            "method": stmt.method,
            "source": stmt.source,
            "source_is_identifier": stmt.source_is_identifier,
            "params": dict(stmt.params),
            "frames": frames,
            "owned": owned,
            "tables": targets,
        }
        # keep the registry in step: a STORED AS index records itself;
        # an in-memory rebuild clears ANY same-name row, including a
        # prior session's (leaving it would resurrect the stale stored
        # snapshot after the next restart), and reclaims its tables
        try:
            if targets:
                others, _ = self._registry_row(stmt.name)
                self._write_registry(
                    others
                    + [
                        {
                            "index_name": stmt.name,
                            "method": stmt.method,
                            "source": stmt.source,
                            "source_is_identifier": stmt.source_is_identifier,
                            "params": json.dumps(dict(stmt.params), sort_keys=True),
                            "tables": targets,
                        }
                    ]
                )
            else:
                self._drop_row(stmt.name, reads)
        except BaseException:
            self._release(stmt.name)
            raise
        return self.spark.createDataFrame(
            [(stmt.name, stmt.method, stmt.source, int(n_rows))],
            "index_name string, method string, source string, indexed_rows long",
        )

    def _write_index_tables(self, layout: _Layout, built, tables: list) -> None:
        from declarativeml_spark.operators.caching import release_checkpoint
        from declarativeml_spark.sources.io import save_bucketed_table

        save_bucketed_table(built[0], tables[0], layout.bucket, sort_col=layout.sort)
        for frame, t in zip(built[1:], tables[1:]):
            frame.write.mode("overwrite").saveAsTable(t)
            release_checkpoint(frame)
        for t in tables:
            self._mark_index_storage(t)

    def refresh(self, stmt) -> DataFrame:
        """Incremental maintenance: re-read the source, anti-join out
        the indexed ids, assign ONLY the new rows to the existing
        structure (the layout's ``assign``), and append them. A STORED
        AS index appends with the same bucket spec, so the candidate
        join stays co-located as the index grows."""
        from declarativeml_spark.operators import caching
        from declarativeml_spark.sources.io import save_bucketed_table

        rec = self._known(stmt.name)
        layout = LAYOUTS[rec["method"]]
        df = resolve_source(self.spark, rec["source"], rec["source_is_identifier"])
        p = dict(rec["params"])
        id_col = p.pop("id_col", "vec_id")
        vec_col = p.pop("vec_col", "embedding")
        first = layout.frames[0]
        indexed = rec["frames"][first].select("vec_id").distinct()
        mark = caching.scope_mark()
        new = df.join(indexed, df[id_col] == indexed["vec_id"], "left_anti")
        delta = layout.assign(new, rec["frames"], id_col, vec_col, p)
        if rec["tables"]:
            t = rec["tables"][0]
            # persist the delta: the count and the write would otherwise
            # each run the source re-read, anti-join and assignment
            # (scope-released after the statement)
            delta = caching.track_persist(delta)
            n_new = _vectors(delta)
            if n_new:
                save_bucketed_table(
                    delta, t, layout.bucket, sort_col=layout.sort, mode="append"
                )
            rec["frames"][first] = self.spark.table(t)
        else:
            # counted BEFORE the old generation's checkpoint blocks are
            # released by the union swap
            n_old = _vectors(rec["frames"][first])
            union = self._checkpoint_refresh_union(
                rec, rec["frames"][first].unionByName(delta)
            )
            n_new = _vectors(union) - n_old
            caching.release_all(rec["owned"])
            rec["owned"] = caching.adopt_since(mark)
            rec["frames"][first] = union
        return self.spark.createDataFrame(
            [(stmt.name, rec["method"], int(n_new), _vectors(rec["frames"][first]))],
            "index_name string, method string, new_rows long, indexed_rows long",
        )

    def _checkpoint_refresh_union(self, rec: dict, union: DataFrame):
        """Materialize a refreshed in-memory index frame with its
        LINEAGE TRUNCATED (eager localCheckpoint), not merely cached:
        the union's recompute path re-reads the index's source, which
        has GROWN since the snapshot — a cache eviction would silently
        re-index every new row twice. Checkpoint blocks don't survive
        executor loss; an in-memory index never did. Prior refreshes'
        checkpoints are released once the new generation is
        materialized."""
        from declarativeml_spark.operators.caching import release_checkpoint

        union = union.localCheckpoint(eager=True)
        for old in rec.get("checkpointed", ()):
            release_checkpoint(old)
        rec["checkpointed"] = [union]
        return union

    def drop(self, stmt) -> dict:
        # a STORED AS index from another session is droppable too: the
        # lookup adopts it, so its tables and registry row go with it
        try:
            known = self._lookup(stmt.name) is not None
        except ForeignRegistryTableError:
            raise  # a user table blocks the registry: say so
        except ValueError:
            # registered but storage partially gone: reclaim what
            # survives (shape-guarded) plus the stale row
            known = True
        if not known:
            raise ValueError(f"Unknown index {stmt.name!r}")
        self._release(stmt.name)
        # clear any registry row unconditionally: a session-only index
        # can shadow a prior session's STORED row of the same name
        self._drop_row(stmt.name)
        return {"dropped": stmt.name}

    def search(self, stmt, p: dict, k: int) -> DataFrame:
        """``SEARCH SIMILAR [source] USING INDEX name[(params)]``: only
        the probe stages run over the index's snapshot. Search-time
        options only (the layout's ``search_options``)."""
        rec = self._known(stmt.index)
        if stmt.source and stmt.source != rec["source"]:
            raise ValueError(
                f"Index {stmt.index!r} was built on {rec['source']!r},"
                f" not {stmt.source!r} — the index serves its own"
                " snapshot; CREATE INDEX on the new source instead"
            )
        layout = LAYOUTS[rec["method"]]
        _check_options(
            p,
            layout.search_options,
            f"SEARCH SIMILAR USING INDEX ({rec['method']})",
            " (build-time options belong on CREATE INDEX)",
        )
        return layout.search(rec["frames"], p, k, stmt.k)
