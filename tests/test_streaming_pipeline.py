"""Streaming frames through the batch operators: the same operator
on a stream and on a batch frame of the same rows gives the same
answer (the batch semantics are the oracle-checked ones)."""

from declarativeml_spark.sources.catalog import load_table
from declarativeml_spark.streaming.pipeline import session_window_stats


def test_session_window_stream_matches_batch(spark, smoke_dir, tmp_path):
    src = str(tmp_path / "sess_src")
    load_table(spark, smoke_dir, "events").limit(800).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    out = session_window_stats(
        stream, ts_col="ts", key_col="user_id", value_col="value", gap="2 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in spark.sql("SELECT * FROM sess_sink").collect()
    }

    batch = session_window_stats(
        spark.read.parquet(src),
        ts_col="ts",
        key_col="user_id",
        value_col="value",
        gap="2 hours",
        streaming=False,
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in batch.collect()
    }
    # append-mode emits only watermark-closed sessions; every emitted
    # session must match its batch twin exactly, and most must emit
    assert streamed <= want
    assert len(streamed) >= len(want) * 0.5
    assert len(want) > 10


def test_score_quality_on_stream(spark, smoke_dir, tmp_path):
    """quality_margin is a stateless per-row HOF fold, so the SAME
    operator must run unchanged on a streaming frame and produce
    exactly the batch margins."""
    from declarativeml_spark.operators.textops import quality_margin

    docs = load_table(spark, smoke_dir, "documents").select("doc_id", "text")
    src = tmp_path / "sq_src"
    docs.repartition(4).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))

    out = quality_margin(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sq_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r["doc_id"], r["n_tokens"], r["margin"])
        for r in spark.sql("SELECT * FROM sq_sink").collect()
    )
    want = sorted(
        (r["doc_id"], r["n_tokens"], r["margin"])
        for r in quality_margin(docs).collect()
    )
    assert got == want



def test_session_window_stats_is_session_tz_independent(spark):
    """Session boundaries render on the NTZ wall clock in ANY session
    timezone — a bare NTZ->LTZ cast shifted them by the session offset
    under Asia/Kolkata (+5:30)."""
    ev = spark.createDataFrame(
        [(1, 10.0, "2024-01-01 10:45:00"), (1, 20.0, "2024-01-01 10:50:00")],
        "user_id long, value double, ts string",
    ).selectExpr("user_id", "value", "CAST(ts AS TIMESTAMP_NTZ) AS ts")
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    results = {}
    try:
        for tz in ("UTC", "Asia/Kolkata"):
            spark.conf.set(tz_key, tz)
            rows = session_window_stats(
                ev, "ts", "user_id", "value", streaming=False
            ).collect()
            results[tz] = [tuple(r) for r in rows]
    finally:
        spark.conf.set(tz_key, prev)
    assert results["UTC"] == results["Asia/Kolkata"]
    assert results["UTC"] == [
        (1, "2024-01-01 10:45:00", "2024-01-01 11:20:00", 2, 30.0)
    ]
