"""DEDUPLICATE / SEARCH SIMILAR DSL statements (SURVEY §7.5: the
north-star pipeline operators exposed in the reference's grammar
family). Each statement's result is cross-checked against the
corresponding oracle-checked registered query, so the DSL path
inherits the DuckDB-verified semantics.
"""

import pytest

from declarativeml_spark.dsl import parse
from declarativeml_spark.dsl import ir
from declarativeml_spark.engine import Engine
from declarativeml_spark.queries import QUERIES
from declarativeml_spark.sources.catalog import register_views


@pytest.fixture(scope="module")
def engine(spark, smoke_dir):
    register_views(spark, smoke_dir)
    return Engine(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_parse_deduplicate_forms():
    d = parse("DEDUPLICATE documents USING minhash(bands=4) ON text THRESHOLD 0.5")
    assert isinstance(d, ir.Deduplicate)
    assert d.method == "minhash" and d.threshold == 0.5 and d.column == "text"
    assert d.params == {"bands": 4}
    s = parse("SEARCH SIMILAR embeddings USING cosine(query_mod=97) TOP 5")
    assert isinstance(s, ir.SimilaritySearch)
    assert s.k == 5 and s.params == {"query_mod": 97}
    assert parse("SEARCH SIMILAR embeddings").method == "cosine"


def test_parse_rejects_bad_inputs():
    with pytest.raises(ValueError, match="Unknown dedup method"):
        parse("DEDUPLICATE documents USING bogus")
    with pytest.raises(ValueError, match="positive integer"):
        parse("SEARCH SIMILAR embeddings TOP 0")
    with pytest.raises(ValueError, match="THRESHOLD"):
        parse("DEDUPLICATE documents USING exact THRESHOLD 2.0")


def test_dedup_exact_matches_query(engine, spark, smoke_dir):
    dsl = engine.execute("DEDUPLICATE documents USING exact")
    ref = QUERIES["dedup_exact"](spark, smoke_dir)
    assert _rows(dsl) == _rows(ref)


def test_dedup_minhash_matches_query(engine, spark, smoke_dir):
    dsl = engine.execute("DEDUPLICATE documents USING minhash THRESHOLD 0.5")
    ref = QUERIES["dedup_minhash_lsh"](spark, smoke_dir)
    assert _rows(dsl) == _rows(ref)


def test_dedup_ngram_matches_query(engine, spark, smoke_dir):
    dsl = engine.execute(
        'DEDUPLICATE documents USING ngram(block_by=["source", "lang"])'
        " THRESHOLD 0.15"
    )
    ref = QUERIES["dedup_ngram_jaccard"](spark, smoke_dir)
    assert _rows(dsl) == _rows(ref)


def test_dedup_embedding_matches_query(engine, spark, smoke_dir):
    dsl = engine.execute(
        "DEDUPLICATE embeddings USING embedding ON embedding THRESHOLD 0.35"
    )
    ref = QUERIES["embedding_similarity_pairs"](spark, smoke_dir)
    assert _rows(dsl) == _rows(ref)


def test_search_similar_matches_query(engine, spark, smoke_dir):
    dsl = engine.execute("SEARCH SIMILAR embeddings USING cosine TOP 10")
    ref = QUERIES["ann_topk_cosine"](spark, smoke_dir)
    assert _rows(dsl) == _rows(ref)


def test_search_lsh_recall_vs_brute_force(engine, spark, smoke_dir):
    """LSH is approximate; assert the property it actually promises —
    near-dup pairs are recovered at sublinear cost.

    The synthetic embeddings table has NO planted near-dups (minimum
    pairwise distance ≈ 1.02 against a median of ≈ 1.41), so demanding
    recall on a 1.15-threshold tail-of-the-distribution search would
    force the buckets to degenerate to all-pairs — exactly the 100 TB
    failure mode the compound AND-amplified keys exist to prevent. The
    guard instead plants true near-dups (dist ≈ 0.16) and requires the
    bucketed search to find them.
    """
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    rs = np.random.RandomState(7)
    planted = []
    for r in rows:
        planted.append((int(r.vec_id), [float(x) for x in r.embedding]))
        if r.vec_id % 10 == 0:  # every 10th vector gets a near-dup twin
            noise = rs.standard_normal(len(r.embedding)) * 0.02
            planted.append(
                (
                    int(r.vec_id) + 1_000_000,
                    [float(x + n) for x, n in zip(r.embedding, noise)],
                )
            )
        if len(planted) >= 240:
            break
    spark.createDataFrame(
        planted, "vec_id long, embedding array<double>"
    ).createOrReplaceTempView("embeddings_planted")

    out = engine.execute(
        "SEARCH SIMILAR embeddings_planted USING lsh(threshold=0.5)"
    )
    assert out.columns == ["id_a", "id_b", "euclidean_dist"]
    lsh_pairs = {(r.id_a, r.id_b) for r in out.collect()}

    pl = spark.table("embeddings_planted")
    a = pl.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = pl.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    dist = F.expr(
        "SQRT(aggregate(zip_with(ea, eb, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    exact = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")).filter(dist <= 0.5)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert exact_pairs, "planted near-dups produced no brute-force pairs"
    assert lsh_pairs <= exact_pairs, "LSH must never invent pairs (exact verify)"
    recall = len(lsh_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"LSH recall on planted near-dups too low: {recall:.3f}"


def test_search_ivf_recall_vs_brute_force(engine, spark, smoke_dir):
    """IVF is approximate; assert per-query shape and that probing 4
    of 16 cells recovers a solid fraction of the exact top-10 (the
    plumbing breaks → recall collapses to ~n_probe/n_cells)."""
    ivf = engine.execute("SEARCH SIMILAR embeddings USING ivf(n_cells=16, n_probe=4)")
    assert ivf.columns == ["qid", "nid", "cosine", "rnk"]
    exact = QUERIES["ann_topk_cosine"](spark, smoke_dir)
    ivf_pairs = {(r.qid, r.nid) for r in ivf.collect()}
    exact_pairs = {(r.qid, r.nid) for r in exact.collect()}
    assert exact_pairs, "brute-force baseline returned no pairs"
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"IVF recall vs brute force too low: {recall:.3f}"
    # every query returns at most k ranked neighbours, ranks contiguous
    import collections

    per_q = collections.Counter(q for q, _ in ivf_pairs)
    assert max(per_q.values()) <= 10


def test_search_rejects_unknown_options(engine):
    """An unsupported option must be the DSL's typed ValueError, not
    a raw TypeError from **kwargs — and the ivf message must point
    k-means|| knobs (seed/max_iter) at ivf_mllib."""
    import pytest

    with pytest.raises(ValueError, match="ivf_mllib"):
        engine.execute("SEARCH SIMILAR embeddings USING ivf(seed=7) TOP 5")
    with pytest.raises(ValueError, match="does not accept"):
        engine.execute(
            "SEARCH SIMILAR embeddings USING cosine(bucket_length=0.2)"
        )


def test_connected_components_chain(spark):
    """A chain a-b, b-c, c-d must collapse to ONE cluster labelled by
    the minimum id — requires multiple propagation rounds (diameter
    3), plus a separate 2-cluster and a pair ordered high-low."""
    from declarativeml_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "id_a LONG, id_b LONG",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_empty(spark):
    from declarativeml_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert connected_components(pairs).count() == 0


def test_dedup_clusters_matches_query(engine, spark, smoke_dir):
    dsl = engine.execute("DEDUPLICATE documents USING clusters THRESHOLD 0.5")
    ref = QUERIES["dedup_clusters"](spark, smoke_dir)
    assert _rows(dsl) == _rows(ref)


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest
    from declarativeml_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a LONG, id_b LONG"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_rounds=1)


def test_sample_statement(engine, spark, smoke_dir):
    from pyspark.sql import functions as F

    out = engine.execute("SAMPLE documents RATE 0.4")
    docs = spark.read.parquet(f"{smoke_dir}/documents.parquet")
    expected = docs.filter(
        F.expr(
            "pmod(pmod(pmod(doc_id, 2147483647) * 48271, 2147483647)"
            " * 48271, 2147483647)"
        )
        < 0.4 * 2147483647.0
    )
    assert out.count() == expected.count()
    # deterministic: same statement, same rows
    again = engine.execute("SAMPLE documents RATE 0.4")
    assert {r.doc_id for r in out.select("doc_id").collect()} == {
        r.doc_id for r in again.select("doc_id").collect()
    }
    # roughly the requested fraction
    total = docs.count()
    assert 0.25 * total <= out.count() <= 0.55 * total


def test_sample_parse_validation():
    from declarativeml_spark.dsl import parse
    from declarativeml_spark.dsl import ir as _ir

    s = parse("SAMPLE documents RATE 0.25 ON doc_id")
    assert isinstance(s, _ir.SampleCorpus)
    assert s.rate == 0.25 and s.column == "doc_id"
    with pytest.raises(ValueError, match="RATE must be in"):
        parse("SAMPLE documents RATE 1.5")
    with pytest.raises(ValueError, match="RATE must be a number"):
        parse("SAMPLE documents RATE banana")


def test_ivf_native_recall_vs_brute_force(spark, smoke_dir):
    """The deterministic-quantizer IVF must recover a solid fraction
    of the exact top-10 (2 of 8 cells probed)."""
    from declarativeml_spark.operators.dedup import ivf_native_topk

    emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
    ivf = ivf_native_topk(emb)
    exact = QUERIES["ann_topk_cosine"](spark, smoke_dir)
    ivf_pairs = {(r.qid, r.nid) for r in ivf.collect()}
    exact_pairs = {(r.qid, r.nid) for r in exact.collect()}
    assert exact_pairs, "brute-force baseline returned no pairs"
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"native IVF recall too low: {recall:.3f}"


def _n_persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_statement_cache_lifecycle(engine, spark):
    """N statements in one session keep a bounded storage footprint:
    each execute() releases the previous statement's operator persists
    (engine.py), so cached-RDD count does not grow run over run, and an
    explicit release() returns to the pre-statement baseline."""
    engine.release()
    base = _n_persisted(spark)
    counts = []
    for _ in range(3):
        df = engine.execute("DEDUPLICATE documents USING minhash THRESHOLD 0.5")
        df.count()  # consume the result while its caches are live
        counts.append(_n_persisted(spark))
    assert counts[0] > base  # the statement really does persist things
    assert counts[2] <= counts[0]  # ...but the footprint is per-statement
    engine.release()
    assert _n_persisted(spark) <= base


def test_deduplicate_containment_statement(engine, spark, smoke_dir):
    """DEDUPLICATE ... USING containment must produce exactly the
    oracle-checked dedup_ngram_containment pairs, and containment
    must be >= Jaccard on every pair (set algebra: |A∩B|/|A| >=
    |A∩B|/|A∪B|)."""
    out = engine.execute("DEDUPLICATE documents USING containment THRESHOLD 0.5")
    assert out.columns == [
        "id_a", "id_b", "containment_a_in_b", "containment_b_in_a"
    ]
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r) for r in QUERIES["dedup_ngram_containment"](spark, smoke_dir).collect()
    )
    assert got == want
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, smoke_dir).collect()
    }
    for r in out.collect():
        j = jac.get((r.id_a, r.id_b))
        if j is not None:
            assert max(r.containment_a_in_b, r.containment_b_in_a) >= j - 1e-9


def test_search_ivf_mllib_method(engine):
    """The MLlib k-means|| IVF leg stays reachable as USING ivf_mllib
    (init-quality comparisons); the default ivf method is the
    deterministic hash-checked quantizer."""
    out = engine.execute(
        "SEARCH SIMILAR embeddings USING ivf_mllib(n_cells=8, n_probe=2) TOP 5"
    )
    assert out.columns == ["qid", "nid", "cosine", "rnk"]
    rows = out.collect()
    assert rows and max(r.rnk for r in rows) <= 5


def test_train_tokenizer_statement(engine, spark, smoke_dir):
    stmt = parse("TRAIN TOKENIZER bpe1 FROM documents VOCAB 40 TEXT COLUMN text")
    assert isinstance(stmt, ir.TrainTokenizer)
    assert stmt.name == "bpe1" and stmt.vocab == 40
    out = engine.execute("TRAIN TOKENIZER bpe1 FROM documents VOCAB 40")
    rows = out.orderBy("merge_round").collect()
    assert rows, "expected at least one learned merge"
    # engine keeps the learned table by name
    assert "bpe1" in engine.tokenizers
    # learned rules match the oracle-checked registered query's first
    # rounds (same corpus, same greedy algorithm)
    q = QUERIES["tokenizer_bpe_merges"](engine.spark, smoke_dir)
    expect = {r.merge_round: (r.lhs, r.rhs) for r in q.collect()}
    for r in rows[: len(expect)]:
        assert (r.lhs, r.rhs) == expect[r.merge_round], r
    # each merged token is the concatenation, counts are positive
    for r in rows:
        assert r.merged == r.lhs + r.rhs and r.pair_count > 0


def test_train_tokenizer_rejects_bad_vocab(engine):
    with pytest.raises(ValueError, match="VOCAB"):
        parse("TRAIN TOKENIZER t FROM documents VOCAB 1")
    with pytest.raises(ValueError, match="alphabet"):
        engine.execute("TRAIN TOKENIZER t FROM documents VOCAB 5")


def test_bpe_greedy_overlap_is_single_merge(spark):
    """Pair (a,a) on 'aaa' merges ONCE (greedy left-to-right), and the
    learned rounds follow frequency with lexicographic ties."""
    from declarativeml_spark.operators.bpe import bpe_merges

    df = spark.createDataFrame(
        [("aaa bb aaa bb aaa cc",)], "text string"
    )
    out = bpe_merges(df, "text", 3).orderBy("merge_round").collect()
    # round 1: 'aa' appears twice per 'aaa' as raw adjacent pairs
    # (3 words x 2) = 6 > 'bb' (2) -- merging is greedy so each 'aaa'
    # yields exactly one 'aa' + residual 'a'
    assert (out[0].lhs, out[0].rhs, out[0].pair_count) == ("a", "a", 6)
    # after applying (a,a): seqs are [aa,a]; pair (aa,a) has count 3,
    # (b,b) has 2, (c,c) 1
    assert (out[1].lhs, out[1].rhs, out[1].pair_count) == ("aa", "a", 3)
    assert (out[2].lhs, out[2].rhs, out[2].pair_count) == ("b", "b", 2)


def test_create_index_ivf_serves_repeat_searches(engine):
    built = engine.execute(
        "CREATE INDEX emb_ivf ON embeddings USING ivf(n_cells=16)"
    ).collect()
    assert built[0].index_name == "emb_ivf" and built[0].indexed_rows > 0
    direct = engine.execute(
        "SEARCH SIMILAR embeddings USING ivf(n_cells=16, n_probe=4) TOP 10"
    )
    expect = _rows(direct)
    got1 = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_ivf(n_probe=4) TOP 10"
    )
    # the indexed search runs ONLY probe stages: the corpus comes from
    # the materialized cache and the centroids from the checkpoint —
    # the Lloyd build (its DECIMAL(38,12) mean aggregate) is absent
    plan = got1._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "decimal(38,12)" not in plan.lower()
    assert _rows(got1) == expect
    # second search: same snapshot, same result
    got2 = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_ivf(n_probe=4) TOP 10"
    )
    assert _rows(got2) == expect
    # naming the indexed source explicitly is allowed
    got3 = engine.execute(
        "SEARCH SIMILAR embeddings USING INDEX emb_ivf(n_probe=4) TOP 10"
    )
    assert _rows(got3) == expect


def test_create_index_lsh_matches_direct(engine):
    engine.execute("CREATE INDEX emb_lsh ON embeddings USING lsh")
    direct = engine.execute("SEARCH SIMILAR embeddings USING lsh")
    got = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_lsh(threshold=1.15)"
    )
    assert _rows(got) == _rows(direct)


def test_index_errors(engine):
    with pytest.raises(ValueError, match="Unknown index"):
        engine.execute("SEARCH SIMILAR USING INDEX nope TOP 5")
    engine.execute("CREATE INDEX emb_tmp ON embeddings USING ivf")
    with pytest.raises(ValueError, match="built on"):
        engine.execute("SEARCH SIMILAR documents USING INDEX emb_tmp TOP 5")
    with pytest.raises(ValueError, match="build-time options"):
        engine.execute("SEARCH SIMILAR USING INDEX emb_tmp(n_cells=4) TOP 5")
    assert engine.execute("DROP INDEX emb_tmp") == {"dropped": "emb_tmp"}
    with pytest.raises(ValueError, match="Unknown index"):
        engine.execute("SEARCH SIMILAR USING INDEX emb_tmp TOP 5")
    with pytest.raises(ValueError, match="Unknown index"):
        engine.execute("DROP INDEX emb_tmp")
    with pytest.raises(ValueError, match="Unknown index method"):
        parse("CREATE INDEX i ON embeddings USING bogus")
    with pytest.raises(ValueError, match="source cannot be empty"):
        parse("SEARCH SIMILAR USING cosine TOP 5")


def test_indexed_lsh_honors_top_like_direct_path(engine):
    engine.execute("CREATE INDEX emb_lsh_top ON embeddings USING lsh")
    direct = engine.execute("SEARCH SIMILAR embeddings USING lsh TOP 5")
    got = engine.execute("SEARCH SIMILAR USING INDEX emb_lsh_top TOP 5")
    assert _rows(got) == _rows(direct)
    assert len(_rows(got)) == 5
    engine.execute("DROP INDEX emb_lsh_top")


def test_search_similar_rejects_cache_key_option(engine):
    # cache_key is the internal memo handle for immutable bench
    # inputs — exposing it would alias different sources to one
    # frozen quantizer
    with pytest.raises(ValueError, match="does not accept"):
        engine.execute(
            "SEARCH SIMILAR embeddings USING ivf(cache_key='x') TOP 5"
        )


def test_bpe_curve_early_exhaustion_matches_oracle(spark):
    """Pair space exhausted before the round budget: the Spark curve
    pads (round, NULL, 0) exactly like the oracle's empty-generation
    scalar subqueries, so the hash gate holds on degenerate corpora."""
    import duckdb

    from declarativeml_spark.operators.bpe import (
        bpe_compression_curve,
        bpe_curve_oracle_sql,
    )

    rows = [("ab ab ab",), ("ab",)]
    got = [
        tuple(r)
        for r in bpe_compression_curve(
            spark.createDataFrame(rows, "text string"), "text", 4
        ).orderBy("merge_round").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", rows)
    want = [tuple(r) for r in con.execute(bpe_curve_oracle_sql(4)).fetchall()]
    assert got == want
    # round 1 merges (a,b); rounds 2..4 have no pairs left
    assert got[0] == (0, 8, 2) and got[1] == (1, 4, 1)
    assert all(r[1] is None and r[2] == 0 for r in got[2:])


def test_create_index_stored_as_bucketed_table(engine, spark):
    """STORED AS writes the LSH bucket table as a BUCKETED managed
    table: the candidate self-join co-locates on the bucket key (no
    exchange feeding the join), results identical to the in-memory
    index and the direct path."""
    direct = engine.execute("SEARCH SIMILAR embeddings USING lsh")
    expect = _rows(direct)
    engine.execute(
        "CREATE INDEX emb_lsh_stored ON embeddings USING lsh"
        " STORED AS emb_lsh_bucket_tbl"
    )
    assert spark.catalog.tableExists("emb_lsh_bucket_tbl")
    got = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_lsh_stored(threshold=1.15)"
    )
    # shuffle-free candidate join: with broadcast disabled, the join
    # over the bucketed table must read both sides without an Exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = engine.execute(
            "SEARCH SIMILAR USING INDEX emb_lsh_stored(threshold=1.15)"
        )
        probe.count()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the pair-distinct above the join still shuffles; the JOIN's
        # subtree (printed after the SortMergeJoin line) must not —
        # both sides read the bucket table co-partitioned
        assert "SortMergeJoin" in plan, plan
        join_subtree = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_subtree, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert _rows(got) == expect
    # ivf STORED AS: corpus bucketed by cell + a centroid table
    engine.execute(
        "CREATE INDEX emb_ivf_stored ON embeddings USING ivf(n_cells=16)"
        " STORED AS emb_ivf_bucket_tbl"
    )
    assert spark.catalog.tableExists("emb_ivf_bucket_tbl")
    assert spark.catalog.tableExists("emb_ivf_bucket_tbl_centroids")
    direct_ivf = engine.execute(
        "SEARCH SIMILAR embeddings USING ivf(n_cells=16, n_probe=4) TOP 10"
    )
    got_ivf = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_ivf_stored(n_probe=4) TOP 10"
    )
    assert _rows(got_ivf) == _rows(direct_ivf)
    # DROP INDEX drops the stored tables too
    engine.execute("DROP INDEX emb_lsh_stored")
    engine.execute("DROP INDEX emb_ivf_stored")
    assert not spark.catalog.tableExists("emb_lsh_bucket_tbl")
    assert not spark.catalog.tableExists("emb_ivf_bucket_tbl")
    assert not spark.catalog.tableExists("emb_ivf_bucket_tbl_centroids")


def test_stored_index_rebuild_and_ownership(engine, spark):
    """Rebuilding an index under the same STORED AS table must leave
    the FRESH tables in place (the old record's drop runs before the
    new write); a pre-existing table the engine didn't write is never
    silently dropped."""
    engine.execute(
        "CREATE INDEX emb_rb ON embeddings USING lsh STORED AS emb_rb_tbl"
    )
    first = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_rb(threshold=1.15)")
    )
    # the documented rebuild workflow: same index name, same table
    engine.execute(
        "CREATE INDEX emb_rb ON embeddings USING lsh STORED AS emb_rb_tbl"
    )
    assert spark.catalog.tableExists("emb_rb_tbl")
    again = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_rb(threshold=1.15)")
    )
    assert again == first
    # a foreign table of the target name is user data — typed error,
    # no silent drop (temp views count: STORED AS embeddings errors)
    with pytest.raises(ValueError, match="does not belong"):
        engine.execute(
            "CREATE INDEX emb_rb2 ON embeddings USING lsh"
            " STORED AS embeddings"
        )
    assert spark.catalog.tableExists("embeddings")
    engine.execute("DROP INDEX emb_rb")
    assert not spark.catalog.tableExists("emb_rb_tbl")


def test_failing_create_index_preserves_existing_index(engine, spark):
    """A CREATE INDEX that fails validation (unknown option, foreign
    storage target) must leave the existing same-name index AND its
    durable tables untouched (ADVICE r5: validation formerly ran after
    the old-index release, so a typo'd rebuild destroyed the index)."""
    engine.execute(
        "CREATE INDEX emb_keep ON embeddings USING lsh STORED AS emb_keep_tbl"
    )
    before = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_keep(threshold=1.15)")
    )
    with pytest.raises(ValueError, match="does not accept"):
        engine.execute(
            "CREATE INDEX emb_keep ON embeddings USING lsh(bogus=1)"
            " STORED AS emb_keep_tbl"
        )
    with pytest.raises(ValueError, match="does not belong"):
        engine.execute(
            "CREATE INDEX emb_keep ON embeddings USING lsh"
            " STORED AS embeddings"
        )
    # the working index survived both failures
    assert spark.catalog.tableExists("emb_keep_tbl")
    after = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_keep(threshold=1.15)")
    )
    assert after == before
    # a second index may not steal a live index's storage tables
    with pytest.raises(ValueError, match="belongs to live index"):
        engine.execute(
            "CREATE INDEX emb_thief ON embeddings USING lsh"
            " STORED AS emb_keep_tbl"
        )
    assert spark.catalog.tableExists("emb_keep_tbl")
    engine.execute("DROP INDEX emb_keep")
    assert not spark.catalog.tableExists("emb_keep_tbl")


def test_failed_index_build_unmarks_storage(engine, spark):
    """A build that fails AFTER validation (missing vector column) must
    discard the session-ownership marks for its STORED AS targets —
    otherwise a user table later created under that name would be
    silently dropped by the next same-target CREATE INDEX (ADVICE r5)."""
    with pytest.raises(Exception):
        # documents has no `embedding` column — the build itself fails
        engine.execute(
            "CREATE INDEX doc_bad ON documents USING lsh"
            " STORED AS doc_bad_tbl"
        )
    assert "doc_bad_tbl" not in engine.store._created_storage
    assert not spark.catalog.tableExists("doc_bad_tbl")
    # the name now belongs to the user: the engine refuses to reuse it
    spark.sql("CREATE TABLE doc_bad_tbl (x INT) USING parquet")
    try:
        with pytest.raises(ValueError, match="does not belong"):
            engine.execute(
                "CREATE INDEX doc_bad2 ON embeddings USING lsh"
                " STORED AS doc_bad_tbl"
            )
        assert spark.catalog.tableExists("doc_bad_tbl")
    finally:
        spark.sql("DROP TABLE IF EXISTS doc_bad_tbl")


def test_tokenize_statement_round_trips(engine, spark, smoke_dir):
    """TOKENIZE ∘ TRAIN TOKENIZER: encoding with the learned rules
    reproduces the learn side's final generation (token totals match
    the oracle-checked encode query), and the merge chain applies in
    learning order."""
    engine.execute("TRAIN TOKENIZER bpe_apply FROM documents VOCAB 40")
    out = engine.execute("TOKENIZE documents USING bpe_apply")
    assert "tokens" in out.columns and "n_tokens" in out.columns
    rows = out.select("doc_id", "tokens", "n_tokens").limit(50).collect()
    assert rows
    merges = {
        r.merged for r in engine.tokenizers["bpe_apply"].collect()
    }
    # every token is a single char or a learned merge product
    for r in rows:
        assert r.n_tokens == len(r.tokens)
        for tok in r.tokens:
            assert len(tok) == 1 or tok in merges, tok
    # map-side only: no exchange anywhere in the encode plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # unknown tokenizer is a typed error
    with pytest.raises(ValueError, match="Unknown tokenizer"):
        engine.execute("TOKENIZE documents USING never_trained")
    with pytest.raises(ValueError, match="no column"):
        engine.execute("TOKENIZE documents USING bpe_apply TEXT COLUMN nope")


def test_tokenizer_stored_as_lifecycle(engine, spark, smoke_dir):
    """TRAIN TOKENIZER … STORED AS persists the merge table; a FRESH
    engine (new session dict) can TOKENIZE USING the stored table;
    DROP TOKENIZER removes table + session entry; foreign tables are
    never silently overwritten."""
    from declarativeml_spark.engine import Engine

    engine.execute(
        "TRAIN TOKENIZER bpe_dur FROM documents VOCAB 40"
        " STORED AS bpe_dur_tbl"
    )
    assert spark.catalog.tableExists("bpe_dur_tbl")
    in_session = engine.execute(
        "TOKENIZE documents USING bpe_dur"
    ).agg({"n_tokens": "sum"}).collect()[0][0]
    # fresh engine: session dict is empty, the stored table serves
    fresh = Engine(spark)
    cross_session = fresh.execute(
        "TOKENIZE documents USING bpe_dur_tbl"
    ).agg({"n_tokens": "sum"}).collect()[0][0]
    assert cross_session == in_session
    # a foreign table target errors without touching the table
    with pytest.raises(ValueError, match="does not belong"):
        engine.execute(
            "TRAIN TOKENIZER thief FROM documents VOCAB 40"
            " STORED AS embeddings"
        )
    # another tokenizer may not steal the stored table
    with pytest.raises(ValueError, match="belongs to tokenizer"):
        engine.execute(
            "TRAIN TOKENIZER thief2 FROM documents VOCAB 40"
            " STORED AS bpe_dur_tbl"
        )
    # rebuild under the same name+table works (the documented workflow)
    engine.execute(
        "TRAIN TOKENIZER bpe_dur FROM documents VOCAB 40"
        " STORED AS bpe_dur_tbl"
    )
    assert spark.catalog.tableExists("bpe_dur_tbl")
    assert engine.execute("DROP TOKENIZER bpe_dur") == {"dropped": "bpe_dur"}
    assert not spark.catalog.tableExists("bpe_dur_tbl")
    with pytest.raises(ValueError, match="Unknown tokenizer"):
        engine.execute("DROP TOKENIZER bpe_dur")


def test_refresh_index_lsh_equals_cold_rebuild(engine, spark, smoke_dir):
    """REFRESH INDEX on an LSH index: only new rows are keyed and
    appended; because bucket keys are a deterministic function of the
    vector, search-after-refresh must EQUAL a cold rebuild on the
    unioned source."""
    spark.sql(
        "SELECT * FROM embeddings WHERE vec_id % 2 = 0"
    ).createOrReplaceTempView("emb_growing")
    engine.execute("CREATE INDEX emb_grow ON emb_growing USING lsh")
    # counts report VECTORS (distinct vec_id), not (vector × table)
    # bucket rows — same meaning as the ivf branch
    half_rows = (
        engine.store.indexes["emb_grow"]["frames"]["keyed"]
        .select("vec_id")
        .distinct()
        .count()
    )
    # the source grows: the view now serves the full table
    spark.sql("SELECT * FROM embeddings").createOrReplaceTempView(
        "emb_growing"
    )
    out = engine.execute("REFRESH INDEX emb_grow").collect()[0]
    assert out.new_rows > 0
    assert out.indexed_rows == half_rows + out.new_rows
    refreshed = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_grow(threshold=1.15)")
    )
    # cold rebuild on the same (grown) source
    engine.execute("CREATE INDEX emb_cold ON emb_growing USING lsh")
    cold = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_cold(threshold=1.15)")
    )
    assert refreshed == cold
    # a second refresh with no new rows is a no-op
    again = engine.execute("REFRESH INDEX emb_grow").collect()[0]
    assert again.new_rows == 0 and again.indexed_rows == out.indexed_rows
    engine.execute("DROP INDEX emb_grow")
    engine.execute("DROP INDEX emb_cold")
    with pytest.raises(ValueError, match="Unknown index"):
        engine.execute("REFRESH INDEX emb_grow")


def test_refresh_index_ivf_frozen_centroids(engine, spark, smoke_dir):
    """IVF refresh assigns new rows to the FROZEN quantizer: centroids
    are unchanged, new ids become searchable, totals match the union."""
    spark.sql(
        "SELECT * FROM embeddings WHERE vec_id % 2 = 0"
    ).createOrReplaceTempView("emb_growing_ivf")
    engine.execute(
        "CREATE INDEX emb_gi ON emb_growing_ivf USING ivf(n_cells=8)"
    )
    cents_before = _rows(engine.store.indexes["emb_gi"]["frames"]["cents"])
    n_half = engine.store.indexes["emb_gi"]["frames"]["corpus"].count()
    spark.sql("SELECT * FROM embeddings").createOrReplaceTempView(
        "emb_growing_ivf"
    )
    out = engine.execute("REFRESH INDEX emb_gi").collect()[0]
    assert out.new_rows > 0 and out.indexed_rows == n_half + out.new_rows
    assert _rows(engine.store.indexes["emb_gi"]["frames"]["cents"]) == cents_before
    # odd (new) ids are now searchable: probe results include them
    got = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_gi(n_probe=8, query_mod=97) TOP 20"
    ).collect()
    ids = {r.qid for r in got} | {r.nid for r in got}
    assert any(i % 2 == 1 for i in ids), sorted(ids)[:10]
    engine.execute("DROP INDEX emb_gi")


def test_refresh_index_stored_bucketed_append(engine, spark, smoke_dir):
    """STORED AS refresh appends with the SAME bucket spec: the
    candidate join stays exchange-free below the join after growth,
    and results equal a cold rebuild on the grown source."""
    spark.sql(
        "SELECT * FROM embeddings WHERE vec_id % 2 = 0"
    ).createOrReplaceTempView("emb_growing_st")
    engine.execute(
        "CREATE INDEX emb_gs ON emb_growing_st USING lsh"
        " STORED AS emb_gs_tbl"
    )
    spark.sql("SELECT * FROM embeddings").createOrReplaceTempView(
        "emb_growing_st"
    )
    out = engine.execute("REFRESH INDEX emb_gs").collect()[0]
    assert out.new_rows > 0
    refreshed = _rows(
        engine.execute("SEARCH SIMILAR USING INDEX emb_gs(threshold=1.15)")
    )
    engine.execute(
        "CREATE INDEX emb_gs_cold ON emb_growing_st USING lsh"
    )
    cold = _rows(
        engine.execute(
            "SEARCH SIMILAR USING INDEX emb_gs_cold(threshold=1.15)"
        )
    )
    assert refreshed == cold
    # co-located join survives the append: no Exchange below the join
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = engine.execute(
            "SEARCH SIMILAR USING INDEX emb_gs(threshold=1.15)"
        )
        probe.count()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    engine.execute("DROP INDEX emb_gs")
    engine.execute("DROP INDEX emb_gs_cold")
    assert not spark.catalog.tableExists("emb_gs_tbl")


def test_refresh_index_stored_ivf_append(engine, spark, smoke_dir):
    """A STORED AS ivf index refreshed after its source grew: the new
    rows append to the bucketed corpus table, the centroid table is
    unchanged, and the appended ids are searchable."""
    spark.sql(
        "SELECT * FROM embeddings WHERE vec_id % 2 = 0"
    ).createOrReplaceTempView("emb_growing_sivf")
    out0 = engine.execute(
        "CREATE INDEX emb_gsi ON emb_growing_sivf USING ivf(n_cells=8)"
        " STORED AS emb_gsi_tbl"
    ).collect()[0]
    cents_before = _rows(spark.table("emb_gsi_tbl_centroids"))
    spark.sql("SELECT * FROM embeddings").createOrReplaceTempView(
        "emb_growing_sivf"
    )
    out = engine.execute("REFRESH INDEX emb_gsi").collect()[0]
    assert out.new_rows > 0
    assert out.indexed_rows == out0.indexed_rows + out.new_rows
    assert _rows(spark.table("emb_gsi_tbl_centroids")) == cents_before
    got = engine.execute(
        "SEARCH SIMILAR USING INDEX emb_gsi(n_probe=8, query_mod=97) TOP 20"
    ).collect()
    ids = {r.qid for r in got} | {r.nid for r in got}
    assert any(i % 2 == 1 for i in ids), sorted(ids)[:10]
    engine.execute("DROP INDEX emb_gsi")
    assert not spark.catalog.tableExists("emb_gsi_tbl")
    assert not spark.catalog.tableExists("emb_gsi_tbl_centroids")


def test_tokenize_large_vocab_map_path(engine, spark, smoke_dir):
    """Past MAX_CODEGEN_RULES the nested-aggregate expression exceeds
    Catalyst's parser limit — the engine must route through the Arrow
    encoder with IDENTICAL greedy semantics. Proven two ways: (a) a
    >64-rule tokenize no longer crashes, (b) on the same real merge
    table both paths produce byte-identical tokens."""
    from declarativeml_spark.operators.bpe import (
        MAX_CODEGEN_RULES,
        bpe_tokenize_map,
        bpe_tokens_expr,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{smoke_dir}/documents.parquet").limit(40)
    # (b) path equivalence on the real learned rules
    engine.execute("TRAIN TOKENIZER bpe_eq FROM documents VOCAB 40")
    rules = [
        (r.lhs, r.rhs)
        for r in engine.tokenizers["bpe_eq"].orderBy("merge_round").collect()
    ]
    expr_out = {
        r.doc_id: list(r.tokens)
        for r in docs.withColumn(
            "tokens", F.expr(bpe_tokens_expr("text", rules))
        ).select("doc_id", "tokens").collect()
    }
    map_out = {
        r.doc_id: list(r.tokens)
        for r in bpe_tokenize_map(docs, "text", rules)
        .select("doc_id", "tokens")
        .collect()
    }
    assert map_out == expr_out
    # (a) a synthetic >cap merge table tokenizes without crashing
    big_rules = [(1, "x", "q")] + [
        (i + 2, "xq", "q") for i in range(MAX_CODEGEN_RULES + 30)
    ]
    spark.createDataFrame(
        [(r, lhs, rhs) for r, lhs, rhs in big_rules],
        "merge_round long, lhs string, rhs string",
    ).write.mode("overwrite").saveAsTable("big_merge_tbl")
    try:
        out = engine.execute(
            "TOKENIZE documents USING big_merge_tbl"
        )
        assert out.limit(5).count() == 5  # plans AND executes
    finally:
        spark.sql("DROP TABLE IF EXISTS big_merge_tbl")


def test_index_and_tokenizer_storage_never_collide(engine, spark):
    """The two durable artifact kinds share _created_storage, but
    session ownership is NOT permission to clean: CREATE INDEX must
    refuse a live tokenizer's merge table and vice versa."""
    engine.execute(
        "TRAIN TOKENIZER bpe_coll FROM documents VOCAB 40"
        " STORED AS coll_tbl"
    )
    with pytest.raises(ValueError, match="belongs to tokenizer"):
        engine.execute(
            "CREATE INDEX coll_idx ON embeddings USING lsh"
            " STORED AS coll_tbl"
        )
    # the merge table survived and still serves
    assert spark.catalog.tableExists("coll_tbl")
    assert engine.execute("TOKENIZE documents USING bpe_coll").limit(
        3
    ).count() == 3
    engine.execute("DROP TOKENIZER bpe_coll")
    # and the reverse direction
    engine.execute(
        "CREATE INDEX coll_idx2 ON embeddings USING lsh"
        " STORED AS coll_tbl2"
    )
    with pytest.raises(ValueError, match="belongs to live index"):
        engine.execute(
            "TRAIN TOKENIZER bpe_coll2 FROM documents VOCAB 40"
            " STORED AS coll_tbl2"
        )
    assert spark.catalog.tableExists("coll_tbl2")
    engine.execute("DROP INDEX coll_idx2")


def test_tokenizer_retrain_syncs_stored_table(engine, spark):
    """Retraining a STORED tokenizer WITHOUT repeating STORED AS must
    refresh the durable table too — otherwise a fresh session would
    silently encode with the outdated rules."""
    engine.execute(
        "TRAIN TOKENIZER bpe_sync FROM documents VOCAB 40"
        " STORED AS sync_tbl"
    )
    v40 = {tuple(r) for r in spark.table("sync_tbl").collect()}
    engine.execute("TRAIN TOKENIZER bpe_sync FROM documents VOCAB 45")
    v45 = {tuple(r) for r in spark.table("sync_tbl").collect()}
    assert len(v45) > len(v40)  # more merges learned AND persisted
    session_rules = {
        tuple(r) for r in engine.tokenizers["bpe_sync"].collect()
    }
    assert session_rules == v45
    engine.execute("DROP TOKENIZER bpe_sync")
    assert not spark.catalog.tableExists("sync_tbl")


def test_refresh_index_exchange_count_stays_flat(engine, spark, smoke_dir):
    """The scale property REFRESH INDEX exists for: as the index GROWS
    across refreshes, the search plan's shuffle structure must not
    degrade — same Exchange count at 1/3, 2/3, and full size, and
    never an Exchange below the candidate join (the bucketed append
    preserves co-location)."""
    counts = []
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.sql(
            "SELECT * FROM embeddings WHERE vec_id % 3 = 0"
        ).createOrReplaceTempView("emb_flat")
        engine.execute(
            "CREATE INDEX emb_flat_ix ON emb_flat USING lsh"
            " STORED AS emb_flat_tbl"
        )
        for stage, pred in enumerate(("vec_id % 3 <= 1", "TRUE"), start=1):
            spark.sql(
                f"SELECT * FROM embeddings WHERE {pred}"
            ).createOrReplaceTempView("emb_flat")
            grew = engine.execute("REFRESH INDEX emb_flat_ix").collect()[0]
            assert grew.new_rows > 0, f"stage {stage} added nothing"
            probe = engine.execute(
                "SEARCH SIMILAR USING INDEX emb_flat_ix(threshold=1.15)"
            )
            probe.count()
            plan = probe._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan.split("SortMergeJoin", 1)[1], plan
            counts.append(plan.count("Exchange"))
        assert len(set(counts)) == 1, f"exchange count drifted: {counts}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        engine.execute("DROP INDEX emb_flat_ix")
