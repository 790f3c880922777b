"""Ownership of engine-written tables (declarativeml_spark/indexes.py).

A statement never drops a table its own source reads, a STORED AS
target its source reads is refused before anything is released, and
table names compare without regard to case, as the catalog does.
"""

import pytest

from declarativeml_spark.engine import Engine
from declarativeml_spark.operators.caching import release_all
from declarativeml_spark.sources.catalog import register_views


def _cleanup(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def engine(spark, smoke_dir, tmp_path_factory):
    register_views(spark, smoke_dir)
    return Engine(spark, model_dir=str(tmp_path_factory.mktemp("models")))


def test_rebuild_from_own_stored_table_keeps_it(engine, spark):
    """CREATE INDEX i ON <i's stored table>: the in-memory rebuild reads
    that table, so replacing the stored index must not drop it."""
    t = "own_a_tbl"
    _cleanup(spark, t)
    engine.execute(f"CREATE INDEX own_a ON embeddings USING lsh STORED AS {t}")
    try:
        engine.execute(f'CREATE INDEX own_a ON {t} USING lsh(vec_col="vec")')
        assert spark.catalog.tableExists(t)
        assert t not in engine.store._created_storage
        # without its cache the index recomputes from the source table
        release_all(engine.store.indexes["own_a"]["owned"])
        res = engine.execute("SEARCH SIMILAR USING INDEX own_a(threshold=1.15)")
        assert res.count() > 0
        engine.execute("DROP INDEX own_a")
        assert spark.catalog.tableExists(t)  # an ordinary table now
    finally:
        _cleanup(spark, t)


def test_stored_rebuild_from_own_stored_table_keeps_it(engine, spark):
    """CREATE INDEX i ON <i's stored table> STORED AS <a new table>:
    the old storage is the build's input and survives the release."""
    t, t2 = "own_b_tbl", "own_b_tbl2"
    _cleanup(spark, t, t2)
    engine.execute(f"CREATE INDEX own_b ON embeddings USING lsh STORED AS {t}")
    n_vecs = spark.table("embeddings").count()
    try:
        out = engine.execute(
            f'CREATE INDEX own_b ON {t} USING lsh(vec_col="vec") STORED AS {t2}'
        ).collect()[0]
        assert out.indexed_rows == n_vecs
        assert spark.catalog.tableExists(t) and spark.catalog.tableExists(t2)
        assert t not in engine.store._created_storage
        assert engine.store.indexes["own_b"]["tables"] == [t2]
        res = engine.execute("SEARCH SIMILAR USING INDEX own_b(threshold=1.15)")
        assert res.count() > 0
        engine.execute("DROP INDEX own_b")
        assert not spark.catalog.tableExists(t2)
        assert spark.catalog.tableExists(t)
    finally:
        _cleanup(spark, t, t2)


def test_stored_as_target_read_by_source_is_refused(engine, spark):
    """STORED AS the very table the source reads would drop the build's
    input before the build: a typed error, and the old index serves."""
    t = "own_c_tbl"
    _cleanup(spark, t)
    engine.execute(f"CREATE INDEX own_c ON embeddings USING lsh STORED AS {t}")
    try:
        search = "SEARCH SIMILAR USING INDEX own_c(threshold=1.15)"
        before = _rows(engine.execute(search))
        for source in (t, f"(SELECT * FROM {t}) s"):
            with pytest.raises(ValueError, match="read by the statement's source"):
                engine.execute(
                    f'CREATE INDEX own_c ON {source} USING lsh(vec_col="vec")'
                    f" STORED AS {t}"
                )
        assert spark.catalog.tableExists(t)
        assert _rows(engine.execute(search)) == before
        engine.execute("DROP INDEX own_c")
        assert not spark.catalog.tableExists(t)
    finally:
        _cleanup(spark, t)


def test_index_rebuild_under_recased_table_name(engine, spark):
    """The catalog is case-insensitive: pk_tbl is pk_Tbl, the index's own
    storage, so the rebuild may write it."""
    _cleanup(spark, "pk_tbl")
    engine.execute("CREATE INDEX pk ON embeddings USING lsh STORED AS pk_Tbl")
    try:
        engine.execute("CREATE INDEX pk ON embeddings USING lsh STORED AS pk_tbl")
        assert spark.catalog.tableExists("pk_tbl")
        res = engine.execute("SEARCH SIMILAR USING INDEX pk(threshold=1.15)")
        assert res.count() > 0
        engine.execute("DROP INDEX pk")
        assert not spark.catalog.tableExists("pk_tbl")
    finally:
        _cleanup(spark, "pk_tbl")


def test_tokenizer_retrain_under_recased_table_name(engine, spark):
    """Retraining tk from tk_Tbl to tk_tbl rewrites its own table in
    place rather than refusing it or dropping the new copy."""
    _cleanup(spark, "tk_tbl")
    engine.execute("TRAIN TOKENIZER tk FROM documents VOCAB 40 STORED AS tk_Tbl")
    try:
        engine.execute(
            "TRAIN TOKENIZER tk FROM documents VOCAB 44 STORED AS tk_tbl"
        )
        assert spark.catalog.tableExists("tk_tbl")
        assert engine.execute("TOKENIZE documents USING tk").limit(3).count() == 3
        engine.execute("DROP TOKENIZER tk")
        assert not spark.catalog.tableExists("tk_tbl")
    finally:
        _cleanup(spark, "tk_tbl")
