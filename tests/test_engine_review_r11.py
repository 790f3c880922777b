"""Round-11 engine.py review-sweep regressions.

Each test pins one finding from the engine.py review pass:
availability-check ordering on the stored-index rebuild path, loud
option rejection on DEDUPLICATE exact/simhash, tokenizer swap-crash
recovery, cross-session tokenizer refresh, source-table preservation
on non-stored rebuilds, and vector-denominated index row counts.
"""

import pytest

from declarativeml_spark.engine import Engine
from declarativeml_spark.indexes import ForeignRegistryTableError, IndexStore
from declarativeml_spark.sources.catalog import register_views


def _cleanup(spark, *tables):
    for t in tables:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        except Exception:  # noqa: BLE001 — best-effort teardown
            pass


@pytest.fixture()
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    return Engine(spark, model_dir=str(tmp_path_factory.mktemp("models")))


def test_stored_rebuild_fails_early_on_foreign_registry(engine, spark):
    """A foreign-shaped squatter on the registry name must surface in
    the AVAILABILITY checks — before the live index and its tables are
    destroyed — not in the closing upsert."""
    reg = IndexStore.INDEX_REGISTRY_TABLE
    _cleanup(spark, "rvw_idx_tbl")
    engine.execute(
        "CREATE INDEX rvw_idx ON embeddings USING lsh STORED AS rvw_idx_tbl"
    )
    try:
        spark.sql(f"DROP TABLE IF EXISTS {reg}")
        spark.range(3).write.saveAsTable(reg)
        with pytest.raises(ForeignRegistryTableError):
            engine.execute(
                "CREATE INDEX rvw_idx ON embeddings USING lsh"
                " STORED AS rvw_idx_tbl"
            )
        # the failing statement destroyed nothing: the live index
        # still serves and its durable table still has rows
        assert spark.catalog.tableExists("rvw_idx_tbl")
        assert spark.table("rvw_idx_tbl").count() > 0
        res = engine.execute(
            "SEARCH SIMILAR USING INDEX rvw_idx(threshold=1.15)"
        )
        assert res.count() >= 0  # plan executes against live frames
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {reg}")
        try:
            engine.execute("DROP INDEX rvw_idx")
        except ValueError:
            pass
        _cleanup(spark, "rvw_idx_tbl")


def test_dedup_exact_simhash_reject_options_and_threshold(engine):
    with pytest.raises(ValueError, match="does not accept THRESHOLD"):
        engine.execute("DEDUPLICATE documents USING exact THRESHOLD 0.9")
    with pytest.raises(ValueError, match="does not accept option"):
        engine.execute("DEDUPLICATE documents USING exact(num_hashes=8)")
    with pytest.raises(ValueError, match="does not accept THRESHOLD"):
        engine.execute("DEDUPLICATE documents USING simhash THRESHOLD 0.9")
    with pytest.raises(ValueError, match="does not accept option"):
        engine.execute("DEDUPLICATE documents USING simhash(bands=4)")
    # the happy paths still run
    assert engine.execute("DEDUPLICATE documents USING exact").count() >= 0
    assert engine.execute("DEDUPLICATE documents USING simhash").count() > 0


def test_tokenizer_swap_crash_recovery(engine, spark, tmp_path_factory):
    """A crash between DROP and RENAME leaves the merges stranded in
    ``<t>__swap``; a fresh engine must adopt them (TOKENIZE works) and
    a retrain must not be blocked by the orphan swap."""
    t = "rvw_tok_tbl"
    _cleanup(spark, t, f"{t}__swap")
    engine.execute(
        f"TRAIN TOKENIZER rvw_tok FROM documents VOCAB 40 STORED AS {t}"
    )
    try:
        # simulate the crash window: table gone, complete swap present
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}__swap")
        fresh = Engine(
            spark, model_dir=str(tmp_path_factory.mktemp("models"))
        )
        out = fresh.execute(f"TOKENIZE documents USING {t}")
        assert out.select("n_tokens").first()[0] > 0
        assert spark.catalog.tableExists(t)
        assert not spark.catalog.tableExists(f"{t}__swap")
        # and the same crash state must not block a RETRAIN either
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}__swap")
        fresh2 = Engine(
            spark, model_dir=str(tmp_path_factory.mktemp("models"))
        )
        fresh2.execute(
            f"TRAIN TOKENIZER rvw_tok FROM documents VOCAB 40 STORED AS {t}"
        )
        assert spark.catalog.tableExists(t)
    finally:
        _cleanup(spark, t, f"{t}__swap")


def test_tokenize_survives_other_sessions_retrain(
    engine, spark, smoke_dir, tmp_path_factory
):
    """Another session's swap-rename retrain replaces the merge
    table's part files; this session's next TOKENIZE must refresh the
    per-session file listing instead of failing FAILED_READ_FILE."""
    t = "rvw_tok2_tbl"
    _cleanup(spark, t, f"{t}__swap")
    engine.execute(
        f"TRAIN TOKENIZER rvw_tok2 FROM documents VOCAB 40 STORED AS {t}"
    )
    try:
        engine.execute(f"TOKENIZE documents USING {t}").count()  # warm cache
        other = spark.newSession()
        register_views(other, smoke_dir)
        eng_b = Engine(
            other, model_dir=str(tmp_path_factory.mktemp("models"))
        )
        # a fresh session may not retrain over another session's
        # stored table in place (never-clobber guard), so B resets the
        # name first — the part files under ``t`` are replaced either
        # way, which is what goes stale in A's per-session cache
        other.sql(f"DROP TABLE {t}")
        eng_b.execute(
            f"TRAIN TOKENIZER rvw_tok2 FROM documents VOCAB 44 STORED AS {t}"
        )
        # catalog-fallback path (session A never trained under this
        # engine name) and the session-dict path both re-read cleanly
        out = engine.execute(f"TOKENIZE documents USING {t}")
        assert out.select("n_tokens").first()[0] > 0
        out2 = engine.execute("TOKENIZE documents USING rvw_tok2")
        assert out2.select("n_tokens").first()[0] > 0
    finally:
        _cleanup(spark, t, f"{t}__swap")


def test_nonstored_rebuild_keeps_new_indexs_source_table(
    engine, spark, tmp_path_factory
):
    """CREATE INDEX i ON <i's own prior stored table> must not drop
    that table while reclaiming the registry row — the new in-memory
    index's lineage roots at it."""
    t = "rvw_src_tbl"
    _cleanup(spark, t)
    engine.execute(
        f"CREATE INDEX rvw_src ON embeddings USING lsh STORED AS {t}"
    )
    try:
        fresh = Engine(
            spark, model_dir=str(tmp_path_factory.mktemp("models"))
        )
        fresh.execute(
            f'CREATE INDEX rvw_src ON {t} USING lsh(vec_col="vec")'
        )
        # the source table survived the registry-row reclaim
        assert spark.catalog.tableExists(t)
        res = fresh.execute(
            "SEARCH SIMILAR USING INDEX rvw_src(threshold=1.15)"
        )
        assert res.count() >= 0
        fresh.execute("DROP INDEX rvw_src")
    finally:
        _cleanup(spark, t)


def test_lsh_counts_report_vectors_not_bucket_rows(engine, spark):
    n_vecs = spark.table("embeddings").count()
    out = engine.execute(
        "CREATE INDEX rvw_cnt ON embeddings USING lsh(num_hash_tables=6)"
    ).collect()[0]
    assert out.indexed_rows == n_vecs
    out2 = engine.execute("REFRESH INDEX rvw_cnt").collect()[0]
    assert out2.new_rows == 0 and out2.indexed_rows == n_vecs
    engine.execute("DROP INDEX rvw_cnt")
