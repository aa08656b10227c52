"""Type-matrix round-trip (FIXTURES.md §5 all_types) and Jet-named
metrics from streaming progress."""

import datetime
import time
from decimal import Decimal

from pyspark.sql import functions as F


def test_all_types_roundtrip(spark, tmp_path):
    """The §1.2 type matrix (ToConverters.java:47-70) + Spark's superset
    (array/map/struct, rejected by Jet SQL): write parquet, read back,
    aggregate each column."""
    row = (
        True, 1, 2, 3, 4, 1.5, 2.5, Decimal("12345.6789012345"),
        "s", datetime.date(2024, 1, 2), "13:14:15",
        datetime.datetime(2024, 1, 2, 3, 4, 5),
        [1, 2, 3], {"a": 1}, (7, "x"),
    )
    schema = (
        "c_boolean boolean, c_tinyint tinyint, c_smallint smallint, c_int int, "
        "c_bigint bigint, c_real float, c_double double, c_decimal decimal(38,10), "
        "c_varchar string, c_date date, c_time string, c_timestamp timestamp_ntz, "
        "c_array array<int>, c_map map<string,int>, c_row struct<a:int,b:string>"
    )
    df = spark.createDataFrame([row], schema)
    path = str(tmp_path / "all_types")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes) == dict(df.dtypes)
    r = back.select(
        F.col("c_boolean").alias("b"),
        (F.col("c_tinyint") + F.col("c_smallint") + F.col("c_int") + F.col("c_bigint")).alias("ints"),
        F.round(F.col("c_real") + F.col("c_double"), 2).alias("floats"),
        (F.col("c_decimal") + F.col("c_decimal")).alias("dec"),  # + keeps scale 10; * would rescale
        F.upper("c_varchar").alias("s"),
        F.year("c_date").alias("y"),
        F.date_format("c_timestamp", "HH:mm:ss").alias("t"),
        F.element_at("c_array", 2).alias("a2"),
        F.col("c_map")["a"].alias("ma"),
        F.col("c_row.a").alias("ra"),
    ).collect()[0]
    assert r["ints"] == 10 and r["floats"] == 4.0 and r["a2"] == 2 and r["ma"] == 1 and r["ra"] == 7
    assert r["dec"] == Decimal("24691.3578024690")
    assert r["y"] == 2024 and r["t"] == "03:04:05"


def test_jet_metrics_listener(spark, tmp_path):
    """JetMetricsListener translates streaming progress to MetricNames
    (receivedCount, totalKeys, executionTimeMs)."""
    from hazelcast_jet_spark.metrics import JetMetricsListener

    listener = JetMetricsListener()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "src")
        spark.range(100).withColumn("k", F.col("id") % 10).write.parquet(src)
        stream = (
            spark.readStream.schema("id long, k long").parquet(src)
            .groupBy("k").count()
        )
        q = (
            stream.writeStream.format("memory").queryName("metrics_probe")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        deadline = time.time() + 10
        while "metrics_probe" not in listener.latest and time.time() < deadline:
            time.sleep(0.5)
        m = listener.latest["metrics_probe"]
        assert m["receivedCount"] == 100
        assert m["totalKeys"] == 10
        assert m["executionTimeMs"] > 0
    finally:
        spark.streams.removeListener(listener)


def test_jet_metrics_listener_json_events(spark, tmp_path, monkeypatch):
    """JetMetricsListener builds each event from one ``jevent.json()``:
    while progress events are delivered no Java exception is converted
    (PySpark's ``fromJObject`` events convert several per event, one per
    py4j map iteration), and the metrics the callback receives equal
    ``progress_to_jet_metrics`` of the ``recentProgress`` entry with the
    same batch id."""
    import threading

    import pyspark.errors.exceptions.captured as captured

    from hazelcast_jet_spark.metrics import (JetMetricsListener,
                                             progress_to_jet_metrics)

    converted = []
    real = captured.convert_exception

    def counting(e):
        converted.append(e)
        return real(e)

    monkeypatch.setattr(captured, "convert_exception", counting)
    batch_ids, received, three = [], [], threading.Event()

    class Recording(JetMetricsListener):
        def onQueryProgress(self, event):  # noqa: N802
            batch_ids.append(event.progress.batchId)
            super().onQueryProgress(event)
            if len(received) >= 3:
                three.set()

    listener = Recording(lambda name, m: received.append((name, m)))
    spark.streams.addListener(listener)
    try:
        q = (spark.readStream.format("rate-micro-batch")
             .option("rowsPerBatch", 100).option("numPartitions", 2)
             .option("startTimestamp", 1_600_000_000_000)
             .option("advanceMillisPerBatch", 1000).load()
             .withWatermark("timestamp", "0 seconds")
             .groupBy(F.window("timestamp", "2 seconds", "1 second"),
                      (F.col("value") % 10).alias("k"))
             .count()
             .writeStream.format("noop").outputMode("append")
             .queryName("jet_json_events")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        try:
            assert three.wait(120), q.exception()
            n_converted = len(converted)
            # every event delivered so far has its entry in
            # recentProgress: Spark records a progress before posting it
            n = len(received)
            got = dict(zip(batch_ids[:n], received[:n]))
            progress = {p.batchId: p for p in q.recentProgress}
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(listener)
    assert n_converted == 0
    assert len(got) >= 3
    for bid, (name, m) in got.items():
        assert name == "jet_json_events"
        assert m == progress_to_jet_metrics(progress[bid]), bid
    assert m["receivedCount"] == 100 and m["totalKeys"] > 0
