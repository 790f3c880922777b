"""Cold-start durability: a FRESH Engine on a FRESH SparkSession
(warehouse intact — the driver-restart story a real cluster needs)
serves ALL THREE durable artifact kinds together without any rebuild:

* PREDICT USING MODEL — versioned model dirs (ml/models.py);
* SEARCH … USING INDEX — STORED AS bucketed tables + the
  ``declml_index_registry`` row the fresh engine adopts (probe-only
  plan asserted: the search scans the stored table, no Lloyd's / no
  bucket-key build);
* TOKENIZE … USING — STORED AS merge tables.

``spark.newSession()`` shares the external catalog (the warehouse)
but drops temp views, confs, and all engine state — the closest
single-JVM approximation of a driver restart.
"""

import pytest

from declarativeml_spark.engine import Engine
from declarativeml_spark.sources.catalog import register_views

_LABELED = """
    SELECT o_orderkey, o_totalprice,
           CAST(o_totalprice > 150000 AS INT) AS expensive
    FROM orders
"""


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def warm(spark, smoke_dir, tmp_path_factory):
    """Session 1: train a model, build stored lsh + ivf indexes, train
    a stored tokenizer."""
    register_views(spark, smoke_dir)
    spark.sql(_LABELED).createOrReplaceTempView("orders_cold_lab")
    eng = Engine(spark, model_dir=str(tmp_path_factory.mktemp("models")))
    for name in ("cold_idx", "cold_ivf"):
        try:
            eng.execute(f"DROP INDEX {name}")
        except ValueError:
            pass
    eng.execute(
        "TRAIN MODEL cold_clf USING logistic_regression(max_iter=5) "
        "FROM orders_cold_lab PREDICT expensive "
        "WITH FEATURES(o_totalprice) SPLIT DATA training=0.8, test=0.2"
    )
    eng.execute(
        "CREATE INDEX cold_idx ON embeddings USING lsh STORED AS cold_idx_tbl"
    )
    eng.execute(
        "CREATE INDEX cold_ivf ON embeddings USING ivf(n_cells=8)"
        " STORED AS cold_ivf_tbl"
    )
    eng.execute(
        "TRAIN TOKENIZER cold_tok FROM documents VOCAB 40"
        " STORED AS cold_tok_tbl"
    )
    yield eng
    for name in ("cold_idx", "cold_ivf"):
        try:
            eng.execute(f"DROP INDEX {name}")
        except ValueError:
            pass
    try:
        eng.execute("DROP TOKENIZER cold_tok")
    except ValueError:
        pass


@pytest.fixture(scope="module")
def cold(warm, spark, smoke_dir):
    """Session 2: fresh SparkSession + fresh Engine, warehouse intact."""
    spark2 = spark.newSession()
    register_views(spark2, smoke_dir)
    return Engine(spark2, model_dir=warm.model_dir)


def test_cold_predict_serves_without_rebuild(cold, warm):
    cold.spark.sql(_LABELED).createOrReplaceTempView("orders_cold_lab")
    scored = cold.execute("PREDICT USING MODEL cold_clf FROM orders_cold_lab")
    assert "prediction" in scored.columns
    got = {r.o_orderkey: r.prediction for r in scored.collect()}
    want = {
        r.o_orderkey: r.prediction
        for r in warm.execute(
            "PREDICT USING MODEL cold_clf FROM orders_cold_lab"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_cold_search_lsh_adopts_probe_only(cold, warm):
    assert "cold_idx" not in cold.store.indexes  # nothing pre-loaded
    res = cold.execute("SEARCH SIMILAR USING INDEX cold_idx(threshold=1.15)")
    # adoption happened, serving frames are the stored tables
    assert cold.store.indexes["cold_idx"]["tables"] == ["cold_idx_tbl"]
    assert cold.store.indexes["cold_idx"]["owned"] == []
    # probe-only: the executed plan reads the bucketed table — no
    # bucket-key build stage re-keys the source
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "cold_idx_tbl" in plan
    assert _rows(res) == _rows(
        warm.execute("SEARCH SIMILAR USING INDEX cold_idx(threshold=1.15)")
    )


def test_cold_search_ivf_adopts_probe_only(cold, warm):
    res = cold.execute(
        "SEARCH SIMILAR USING INDEX cold_ivf(n_probe=8, query_mod=97) TOP 10"
    )
    assert cold.store.indexes["cold_ivf"]["tables"] == [
        "cold_ivf_tbl",
        "cold_ivf_tbl_centroids",
    ]
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "cold_ivf_tbl" in plan
    assert _rows(res) == _rows(
        warm.execute(
            "SEARCH SIMILAR USING INDEX cold_ivf(n_probe=8, query_mod=97)"
            " TOP 10"
        )
    )


def test_cold_refresh_adopted_index(cold):
    """REFRESH on an adopted index works (no new rows here — the
    source is unchanged — but the full anti-join path runs)."""
    out = cold.execute("REFRESH INDEX cold_idx").collect()[0]
    assert out.new_rows == 0


def test_cold_tokenize_serves_stored_merges(cold, warm):
    got = cold.execute("TOKENIZE documents USING cold_tok_tbl")
    want = warm.execute("TOKENIZE documents USING cold_tok_tbl")
    assert _rows(got.select("doc_id", "n_tokens")) == _rows(
        want.select("doc_id", "n_tokens")
    )


def test_cold_drop_adopted_index_clears_registry(warm, spark, smoke_dir):
    """A third fresh session can DROP a stored index it never built:
    tables and the registry row go away; a fourth session sees it as
    unknown."""
    warm.execute(
        "CREATE INDEX cold_tmp ON embeddings USING lsh STORED AS cold_tmp_tbl"
    )
    s3 = spark.newSession()
    register_views(s3, smoke_dir)
    e3 = Engine(s3)
    assert e3.execute("DROP INDEX cold_tmp") == {"dropped": "cold_tmp"}
    assert not s3.catalog.tableExists("cold_tmp_tbl")
    e4 = Engine(spark.newSession())
    with pytest.raises(ValueError, match="Unknown index"):
        e4.execute("SEARCH SIMILAR USING INDEX cold_tmp")
    # the warm engine's in-memory record is now stale by design (the
    # storage was dropped by another session) — clean it up
    warm.store.indexes.pop("cold_tmp", None)


def test_drop_session_only_index_kills_stale_registry_row(
    warm, spark, smoke_dir
):
    """A session-only index shadowing a prior session's STORED row:
    DROP must clear the row too, or the dropped index resurrects as
    the stale stored snapshot on the next SEARCH."""
    warm.execute(
        "CREATE INDEX cold_shadow ON embeddings USING lsh"
        " STORED AS cold_shadow_tbl"
    )
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    # session-only rebuild of the same name (old is None here), then drop
    e2.execute("CREATE INDEX cold_shadow ON embeddings USING lsh")
    # the non-stored rebuild reclaimed the prior session's row AND its
    # now-ownerless stored table (nothing could ever free it otherwise)
    assert not s2.catalog.tableExists("cold_shadow_tbl")
    e2.execute("DROP INDEX cold_shadow")
    with pytest.raises(ValueError, match="Unknown index"):
        e2.execute("SEARCH SIMILAR USING INDEX cold_shadow")
    warm.store.indexes.pop("cold_shadow", None)


def test_nonstored_rebuild_clears_prior_session_registry_row(
    warm, spark, smoke_dir
):
    """CREATE INDEX (no STORED AS) over a name another session stored:
    the registry row must go (the in-memory index shadows it), so a
    restart sees Unknown index, not the stale snapshot."""
    warm.execute(
        "CREATE INDEX cold_nsr ON embeddings USING lsh STORED AS cold_nsr_tbl"
    )
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    e2.execute("CREATE INDEX cold_nsr ON embeddings USING lsh")
    assert not s2.catalog.tableExists("cold_nsr_tbl")  # reclaimed too
    s3 = spark.newSession()
    e3 = Engine(s3)
    with pytest.raises(ValueError, match="Unknown index"):
        e3.execute("SEARCH SIMILAR USING INDEX cold_nsr")
    e2.execute("DROP INDEX cold_nsr")
    warm.store.indexes.pop("cold_nsr", None)


def test_drop_broken_index_reclaims_surviving_storage(
    warm, spark, smoke_dir
):
    """An ivf index whose centroids table was dropped out of band:
    DROP INDEX must reclaim the SURVIVING table and the registry row,
    so the names are immediately reusable by a new CREATE INDEX."""
    warm.execute(
        "CREATE INDEX cold_broken ON embeddings USING ivf(n_cells=4)"
        " STORED AS cold_broken_tbl"
    )
    spark.sql("DROP TABLE cold_broken_tbl_centroids")
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    assert e2.execute("DROP INDEX cold_broken") == {"dropped": "cold_broken"}
    assert not s2.catalog.tableExists("cold_broken_tbl")
    warm.store.indexes.pop("cold_broken", None)
    # the names are reusable right away — this failed before the fix
    # with "already exists and does not belong to index"
    e2.execute(
        "CREATE INDEX cold_broken ON embeddings USING ivf(n_cells=4)"
        " STORED AS cold_broken_tbl"
    )
    e2.execute("DROP INDEX cold_broken")


def test_foreign_registry_table_is_never_clobbered(warm, spark, smoke_dir):
    """A user table occupying the registry name: every registry path
    must fail loudly with the rename instruction, never overwrite.
    (The registry name is overridden per-instance so the suite's live
    registry is untouched.)"""
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    e2.store.INDEX_REGISTRY_TABLE = "cold_foreign_reg"  # instance shadows class
    s2.createDataFrame([(1, "keep")], "a int, b string").write.mode(
        "overwrite"
    ).saveAsTable("cold_foreign_reg")
    try:
        with pytest.raises(
            ValueError, match="not the engine's index registry"
        ):
            e2.execute(
                "CREATE INDEX cold_foreign ON embeddings USING lsh"
                " STORED AS cold_foreign_tbl"
            )
        # adoption paths fail the same way, and the table survives
        with pytest.raises(
            ValueError, match="not the engine's index registry"
        ):
            e2.execute("SEARCH SIMILAR USING INDEX anything_at_all")
        assert [tuple(r) for r in s2.table("cold_foreign_reg").collect()] == [
            (1, "keep")
        ]
    finally:
        e2.store.indexes.pop("cold_foreign", None)
        s2.sql("DROP TABLE IF EXISTS cold_foreign_reg")
        s2.sql("DROP TABLE IF EXISTS cold_foreign_tbl")


def test_broken_drop_never_clobbers_user_table_reusing_the_name(
    warm, spark, smoke_dir
):
    """A failed-rebuild registry row points at table names a USER has
    since reused: DROP INDEX must clear the row but leave the user
    table untouched (the shape guard: no index-storage columns)."""
    import json

    # forge the post-failed-rebuild state directly: a registry row
    # whose tables are gone, then a user table under the freed name
    warm.store._write_registry(
        warm.store._registry_row("cold_user")[0]
        + [
            {
                "index_name": "cold_user",
                "method": "lsh",
                "source": "embeddings",
                "source_is_identifier": True,
                "params": json.dumps({}),
                "tables": ["cold_user_tbl"],
            }
        ]
    )
    spark.createDataFrame([(7, "mine")], "a int, b string").write.mode(
        "overwrite"
    ).saveAsTable("cold_user_tbl")
    try:
        s2 = spark.newSession()
        e2 = Engine(s2)
        assert e2.execute("DROP INDEX cold_user") == {"dropped": "cold_user"}
        # row gone, user data intact
        assert [tuple(r) for r in s2.table("cold_user_tbl").collect()] == [
            (7, "mine")
        ]
        with pytest.raises(ValueError, match="Unknown index"):
            e2.execute("SEARCH SIMILAR USING INDEX cold_user")
    finally:
        spark.sql("DROP TABLE IF EXISTS cold_user_tbl")


def test_session_only_ops_survive_foreign_registry_table(
    warm, spark, smoke_dir
):
    """With a foreign table on the registry name, purely in-memory
    index operations (non-stored CREATE, its DROP) must still work —
    they need no registry; only stored/adoption paths error."""
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    e2.store.INDEX_REGISTRY_TABLE = "cold_foreign_reg2"
    s2.createDataFrame([(1,)], "a int").write.mode("overwrite").saveAsTable(
        "cold_foreign_reg2"
    )
    try:
        e2.execute("CREATE INDEX cold_mem ON embeddings USING lsh")
        res = e2.execute(
            "SEARCH SIMILAR USING INDEX cold_mem(threshold=1.15)"
        )
        assert res.count() >= 0
        assert e2.execute("DROP INDEX cold_mem") == {"dropped": "cold_mem"}
        # the foreign table is untouched throughout
        assert [tuple(r) for r in s2.table("cold_foreign_reg2").collect()] == [
            (1,)
        ]
    finally:
        s2.sql("DROP TABLE IF EXISTS cold_foreign_reg2")


def test_combined_squat_registry_and_storage_names(warm, spark, smoke_dir):
    """Round-7 verdict ask #7, the combined adversarial case: a user
    table squats the REGISTRY name (foreign shape) AND another user
    table squats a typical stored-index name with a COMPATIBLE shape
    (the exact lsh storage columns). Every path must fail loudly or
    no-op — neither user table may lose a row."""
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    e2.store.INDEX_REGISTRY_TABLE = "cold_sq_reg"
    s2.createDataFrame([(1, "keep")], "a int, b string").write.mode(
        "overwrite"
    ).saveAsTable("cold_sq_reg")
    # compatible-but-foreign: has {tbl, bkey} but is user data
    s2.createDataFrame(
        [("mine", 5, 99)], "tbl string, bkey long, payload int"
    ).write.mode("overwrite").saveAsTable("cold_sq_tbl")
    user_rows = [tuple(r) for r in s2.table("cold_sq_tbl").collect()]
    try:
        # stored CREATE INDEX onto the squatted storage name: the
        # existence check refuses before anything is dropped
        with pytest.raises(ValueError, match="already exists"):
            e2.execute(
                "CREATE INDEX cold_sq ON embeddings USING lsh"
                " STORED AS cold_sq_tbl"
            )
        # stored CREATE INDEX onto a FREE name: fails on the foreign
        # registry (it must record itself), storage squat untouched
        with pytest.raises(
            ValueError, match="not the engine's index registry"
        ):
            e2.execute(
                "CREATE INDEX cold_sq ON embeddings USING lsh"
                " STORED AS cold_sq_free_tbl"
            )
        # non-stored CREATE + SEARCH + DROP still work (session-only
        # paths need no registry) and touch neither user table
        e2.execute("CREATE INDEX cold_sq ON embeddings USING lsh")
        assert (
            e2.execute(
                "SEARCH SIMILAR USING INDEX cold_sq(threshold=1.15)"
            ).count()
            >= 0
        )
        assert e2.execute("DROP INDEX cold_sq") == {"dropped": "cold_sq"}
        assert [tuple(r) for r in s2.table("cold_sq_reg").collect()] == [
            (1, "keep")
        ]
        assert [
            tuple(r) for r in s2.table("cold_sq_tbl").collect()
        ] == user_rows
    finally:
        e2.store.indexes.pop("cold_sq", None)
        for t in ("cold_sq_reg", "cold_sq_tbl", "cold_sq_free_tbl"):
            s2.sql(f"DROP TABLE IF EXISTS {t}")


def test_compatible_shape_user_table_never_served_or_dropped(
    warm, spark, smoke_dir
):
    """A REAL registry row whose storage name now points at a user
    table with a COMPATIBLE column shape: the subset guard alone
    cannot tell them apart, so the ownership TBLPROPERTIES mark must —
    adoption refuses to serve it and DROP INDEX clears the row while
    leaving the table intact."""
    import json

    warm.store._write_registry(
        warm.store._registry_row("cold_compat")[0]
        + [
            {
                "index_name": "cold_compat",
                "method": "lsh",
                "source": "embeddings",
                "source_is_identifier": True,
                "params": json.dumps({}),
                "tables": ["cold_compat_tbl"],
            }
        ]
    )
    # user data wearing the EXACT lsh storage columns — but no mark
    spark.createDataFrame(
        [("u", 1, 7), ("v", 2, 8)], "tbl string, bkey long, vec_id int"
    ).write.mode("overwrite").saveAsTable("cold_compat_tbl")
    try:
        s2 = spark.newSession()
        register_views(s2, smoke_dir)
        e2 = Engine(s2)
        # adoption must refuse to SERVE the user table
        with pytest.raises(ValueError, match="likely reused"):
            e2.execute("SEARCH SIMILAR USING INDEX cold_compat")
        # DROP clears the stale row but never the user table
        assert e2.execute("DROP INDEX cold_compat") == {
            "dropped": "cold_compat"
        }
        assert sorted(
            tuple(r) for r in s2.table("cold_compat_tbl").collect()
        ) == [("u", 1, 7), ("v", 2, 8)]
        # row really gone
        with pytest.raises(ValueError, match="Unknown index"):
            e2.execute("SEARCH SIMILAR USING INDEX cold_compat")
    finally:
        spark.sql("DROP TABLE IF EXISTS cold_compat_tbl")


def test_nonstored_rebuild_skips_compatible_shape_user_table(
    warm, spark, smoke_dir
):
    """The reclaim path (non-stored rebuild clearing a stale stored
    row) must also honor the ownership mark: the compatible-shaped
    user table is skipped, only the row is cleared."""
    import json

    warm.store._write_registry(
        warm.store._registry_row("cold_compat2")[0]
        + [
            {
                "index_name": "cold_compat2",
                "method": "lsh",
                "source": "embeddings",
                "source_is_identifier": True,
                "params": json.dumps({}),
                "tables": ["cold_compat2_tbl"],
            }
        ]
    )
    spark.createDataFrame(
        [("w", 3, 9)], "tbl string, bkey long, vec_id int"
    ).write.mode("overwrite").saveAsTable("cold_compat2_tbl")
    try:
        s2 = spark.newSession()
        register_views(s2, smoke_dir)
        e2 = Engine(s2)
        e2.execute("CREATE INDEX cold_compat2 ON embeddings USING lsh")
        assert [
            tuple(r) for r in s2.table("cold_compat2_tbl").collect()
        ] == [("w", 3, 9)]
        assert not any(
            r["index_name"] == "cold_compat2"
            for r in (e2.store._registry_rows() or [])
        )
        e2.execute("DROP INDEX cold_compat2")
    finally:
        spark.sql("DROP TABLE IF EXISTS cold_compat2_tbl")


def test_unmarked_index_storage_is_refused(warm, spark, smoke_dir):
    """Real index storage without the ownership mark (the property
    stripped) is never adopted: a fresh session refuses to serve it,
    and serves it again once the mark is back."""
    rows = [
        r
        for r in (warm.store._registry_rows() or [])
        if r["index_name"] == "cold_idx"
    ]
    assert rows, "warm fixture registers cold_idx"
    tables = rows[0]["tables"]
    for t in tables:
        spark.sql(
            f"ALTER TABLE {t} UNSET TBLPROPERTIES IF EXISTS"
            f" ('{warm.store._INDEX_STORAGE_PROP}')"
        )
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2)
    try:
        with pytest.raises(ValueError, match="ownership mark False"):
            e2.execute("SEARCH SIMILAR USING INDEX cold_idx")
    finally:
        for t in tables:
            warm.store._mark_index_storage(t)
    assert e2.execute("SEARCH SIMILAR USING INDEX cold_idx").count() >= 0


def test_cold_recreate_same_stored_index_rebuilds(spark, smoke_dir, warm):
    """An idempotent deployment script re-runs the SAME CREATE INDEX …
    STORED AS statement in a fresh session: the registry row +
    ownership marks prove the existing table is this index's own
    storage, so the statement must REBUILD (adopt → release → write),
    not refuse the name as a squatter. Self-contained index name so
    the module fixtures' session records stay consistent."""
    s1 = spark.newSession()
    register_views(s1, smoke_dir)
    e1 = Engine(s1, model_dir=warm.model_dir)
    e1.execute(
        "CREATE INDEX recr_idx ON embeddings USING lsh STORED AS recr_idx_tbl"
    )
    s2 = spark.newSession()
    register_views(s2, smoke_dir)
    e2 = Engine(s2, model_dir=warm.model_dir)
    try:
        e2.execute(
            "CREATE INDEX recr_idx ON embeddings USING lsh"
            " STORED AS recr_idx_tbl"
        )
        out = e2.execute(
            "SEARCH SIMILAR embeddings USING INDEX recr_idx TOP 3"
        )
        assert out.count() > 0
    finally:
        e2.execute("DROP INDEX recr_idx")


def test_interrupted_swap_rename_recovers_registry(warm, spark):
    """Crash recovery for IndexStore._write_registry's swap window: a
    failure between DROP TABLE <registry> and the rename leaves no
    registry but a complete __swap table. The next read must adopt
    the orphan (finish the rename) instead of letting the next
    write's _clean_tmp silently delete every stored-index row."""
    eng = warm
    rows_before = eng.store._registry_rows()
    assert rows_before  # cold_idx + cold_ivf rows from the fixture
    t = eng.store.INDEX_REGISTRY_TABLE
    tmp = f"{t}__swap"
    # simulate the crash: swap fully written, registry dropped,
    # rename never ran
    spark.table(t).write.saveAsTable(tmp)
    spark.sql(f"DROP TABLE {t}")
    rows_after = eng.store._registry_rows()
    assert rows_after is not None
    assert sorted(r["index_name"] for r in rows_after) == sorted(
        r["index_name"] for r in rows_before
    )
    assert spark.catalog.tableExists(t)
    assert not spark.catalog.tableExists(tmp)
