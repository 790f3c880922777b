"""Streaming layer: COMPUTE on a stream, event bus, windowed aggs."""

import pytest
from pyspark.sql import functions as F

from declarativeml_spark.engine import Engine
from declarativeml_spark.functions.kernels import apply_compute
from declarativeml_spark.sources.catalog import load_table
from declarativeml_spark.streaming.events import EVENT_SCHEMA, EventBus


def test_compute_stream(spark, smoke_dir, tmp_path):
    # stage a small parquet dir as a file-stream source
    src = str(tmp_path / "stream_src")
    load_table(spark, smoke_dir, "events").limit(200).write.parquet(src)
    schema = spark.read.parquet(src).schema

    Engine(spark).execute(
        "COMPUTE vstream FROM table(value) INTO column(v_sig) EVERY 2 TICKS USING sigmoid"
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        apply_compute(stream, "vstream")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("vstream_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM vstream_sink")
    assert out.count() == 200
    row = out.select("value", "v_sig").first()
    import math

    assert abs(row.v_sig - 1 / (1 + math.exp(-row.value))) < 1e-9


def test_event_bus_batch_rules(spark):
    bus = EventBus(spark)
    fired = {}

    bus.when(
        "training.%",
        "CAST(get_json_object(payload, '$.accuracy') AS DOUBLE) < 0.8",
        lambda df: fired.__setitem__("retrain", df.count()),
    )
    bus.subscribe("deploy.%", lambda df: fired.__setitem__("deploys", df.count()))

    bus.publish("training.epoch_complete", {"accuracy": 0.75, "model": "m1"})
    bus.publish("training.epoch_complete", {"accuracy": 0.95, "model": "m1"})
    bus.publish("deploy.requested", {"model": "m1"})
    bus.publish("unrelated.event", {})

    counts = bus.dispatch_batch()
    assert fired["retrain"] == 1  # only the low-accuracy event
    assert fired["deploys"] == 1
    assert counts["sub0"] == 1 and counts["sub1"] == 1


def test_event_bus_streaming_dispatch(spark, tmp_path):
    bus = EventBus(spark)
    seen = []
    bus.subscribe("click", lambda df: seen.append(df.count()), name="clicks")

    src = str(tmp_path / "events_src")
    rows = [
        ("click", "{}", __import__("datetime").datetime(2024, 1, 1, 0, 0, 0), "a"),
        ("view", "{}", __import__("datetime").datetime(2024, 1, 1, 0, 0, 1), "a"),
        ("click", "{}", __import__("datetime").datetime(2024, 1, 1, 0, 0, 2), "b"),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = bus.start_stream(stream)
    q.processAllAvailable()
    q.stop()
    assert sum(seen) == 2


def test_watermarked_windowed_agg(spark, smoke_dir, tmp_path):
    """Streaming windowed aggregation with watermark over the events
    table (SURVEY §2.9 'free if needed' surface, exercised for real)."""
    src = str(tmp_path / "win_src")
    load_table(spark, smoke_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # append mode emits only watermark-closed windows; the batch total
    # bounds it from above
    batch_total = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .count()
        .count()
    )
    emitted = spark.sql("SELECT * FROM win_sink").count()
    assert 0 < emitted <= batch_total


def test_event_pattern_underscore_is_literal(spark):
    """Event types routinely contain underscores; an unescaped ``_``
    is a LIKE single-char wildcard that silently overmatches
    (review r11)."""
    import datetime

    bus = EventBus(spark)
    hits = []
    bus.subscribe("training.epoch_complete", lambda df: hits.append(df.count()))
    bus.publish("training.epoch_complete", {})
    bus.publish("training.epochXcomplete", {})
    bus.dispatch_batch()
    assert sum(hits) == 1
    # glob-* still works across the literal underscore
    star_hits = []
    bus.subscribe("model_saved.*", lambda df: star_hits.append(df.count()))
    bus.publish("model_saved.v1", {})
    bus.publish("modelXsaved.v1", {})
    bus.dispatch_batch()
    assert sum(star_hits) == 1


def test_dispatch_batch_isolates_failing_handler(spark):
    """One raising handler must not skip later subscriptions' delivery
    (review r11) — the error still surfaces after the fan-out."""
    import pytest as _pytest

    bus = EventBus(spark)
    seen = []

    def boom(df):
        raise RuntimeError("handler exploded")

    bus.subscribe("x.*", boom, name="bad")
    bus.subscribe("x.*", lambda df: seen.append(df.count()), name="good")
    bus.publish("x.go", {})
    with _pytest.raises(RuntimeError, match="handler"):
        bus.dispatch_batch()
    assert sum(seen) == 1  # the later subscription still fired


def test_event_stream_default_trigger_is_live(spark, tmp_path):
    """start_stream must not self-terminate after the initial
    catch-up: a rule engine on a live stream keeps running
    (review r11); the availableNow drain shape stays opt-in."""
    import datetime

    bus = EventBus(spark)
    seen = []
    bus.subscribe("tick", lambda df: seen.append(df.count()))
    src = str(tmp_path / "live_src")
    rows = [("tick", "{}", datetime.datetime(2024, 1, 1), "a")]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = bus.start_stream(stream, query_name="live_rules")
    try:
        q.processAllAvailable()
        assert q.isActive  # live: did NOT transition to TERMINATED
        # a second batch arriving later is still dispatched
        spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert sum(seen) == 2
    finally:
        q.stop()
    # drain-and-stop stays available as the explicit backfill shape
    q2 = bus.start_stream(stream, query_name="drain_rules", available_now=True)
    q2.awaitTermination(60)
    assert not q2.isActive
