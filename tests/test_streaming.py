"""Streaming tests: windowed aggregation over a real stream, stateful
map with TTL eviction, exactly-once restart from checkpoint.

Mirrors the reference's streaming suites (SURVEY §5): AssertionSinks on
bounded streams, SlidingWindowP/SessionWindowP semantics, snapshot
restart (JobRestartWithSnapshotTest)."""

import glob
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hazelcast_jet_spark.streaming.run import read_stream_table, run_to_batch
from hazelcast_jet_spark.streaming.stateful import map_stateful_stream


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    """Stream window agg (availableNow, complete) == batch window agg."""
    stream = read_stream_table(spark, sf_dir, "events")
    windowed = stream.groupBy(F.window("ts", "6 hours")).agg(F.count(F.lit(1)).alias("n"))
    got = {
        (r["window"]["start"], r["n"]) for r in run_to_batch(windowed, "complete").collect()
    }
    from hazelcast_jet_spark.session import load_table
    batch = load_table(spark, sf_dir, "events").groupBy(F.window("ts", "6 hours")).agg(
        F.count(F.lit(1)).alias("n")
    )
    want = {(r["window"]["start"], r["n"]) for r in batch.collect()}
    assert got == want


def test_stateful_ttl_eviction(spark, tmp_path):
    """Keyed mapStateful with TTL: state evicted when the watermark passes
    lastTouched + ttl; the eviction branch emits a final record
    (TransformStatefulP.java:56,100-151 ≡ EventTimeTimeout)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: key 'a' at t=10:00 ; batch 2: key 'b' at t=14:00 (watermark
    # jumps 4h, TTL 1h → 'a' evicted during batch 2)
    spark.createDataFrame(
        [("a", "2024-01-01 10:00:00")], "k string, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(src + "/f1")
    time.sleep(1.1)
    spark.createDataFrame(
        [("b", "2024-01-01 14:00:00")], "k string, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(src + "/f2")

    schema = spark.read.parquet(src + "/f1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
        .withWatermark("ts", "0 seconds")
    )

    ttl_ms = 3600 * 1000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame({"k": [key[0]], "n": [n], "evicted": [True]})
        else:
            n = state.get[0] if state.exists else 0
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl_ms)
            yield pd.DataFrame({"k": [key[0]], "n": [n], "evicted": [False]})

    out = stream.groupBy("k").applyInPandasWithState(
        fn, "k string, n bigint, evicted boolean", "n bigint",
        "update", GroupStateTimeout.EventTimeTimeout,
    )
    rows = {(r["k"], r["n"], r["evicted"]) for r in run_to_batch(out, "update").collect()}
    assert ("a", 1, False) in rows and ("b", 1, False) in rows
    assert ("a", 1, True) in rows, f"TTL eviction did not fire: {rows}"


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop a streaming job mid-input and restart from the checkpoint: the
    sink contains every input row exactly once (Jet: snapshot + replay,
    SURVEY §2.12; Spark: checkpoint + WAL)."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    spark.range(0, 100).write.parquet(src + "/f1")

    schema = spark.read.parquet(src + "/f1").schema

    def start():
        return (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/f*")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination()
    time.sleep(1.1)
    spark.range(100, 250).write.parquet(src + "/f2")
    q = start()
    q.awaitTermination()

    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(250)), f"expected exactly-once 0..249, got {len(got)} rows"


def test_job_lifecycle_and_snapshot(spark, tmp_path):
    """Job.suspend/resume/exportSnapshot/from_snapshot (Job.java,
    JobStateSnapshot.java): state survives suspension; a job started from
    an exported snapshot does not reprocess consumed input."""
    from hazelcast_jet_spark.streaming.job import Job, JobStatus

    src, out, out2, ckpt = (str(tmp_path / d) for d in ("src", "out", "out2", "ckpt"))
    os.makedirs(src)
    spark.range(0, 50).write.parquet(src + "/f1")
    schema = spark.read.parquet(src + "/f1").schema

    def start(out_dir):
        # foreachBatch sink: commit tracking lives in the checkpoint, so
        # exported snapshots are clonable (see Job.from_snapshot note)
        def fn(ckpt_dir):
            return (
                spark.readStream.schema(schema).parquet(src + "/f*")
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                )
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True).start()
            )
        return fn

    job = Job(start(out), ckpt, "j1")
    job.join()
    job.suspend()
    assert job.status == JobStatus.SUSPENDED
    snap = job.export_snapshot("s1")

    # new input arrives; resumed job processes ONLY the new file
    time.sleep(1.1)
    spark.range(50, 80).write.parquet(src + "/f2")
    job.resume()
    job.join()
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == list(range(80))

    # a job cloned from the snapshot (taken before f2) sees f2 as new work
    job.suspend()
    job2 = Job.from_snapshot(start(out2), snap, str(tmp_path / "ckpt2"), "j2")
    job2.join()
    got2 = sorted(r["id"] for r in spark.read.parquet(out2).collect())
    assert got2 == list(range(50, 80)), f"snapshot clone reprocessed: {got2[:5]}…"
    job2.cancel()
    assert not os.path.exists(str(tmp_path / "ckpt2"))


def test_streaming_session_window_complete(spark, sf_dir):
    """Keyed session windows on a real stream (SessionWindowP.java:79):
    complete mode on bounded input == batch session_window result."""
    stream = read_stream_table(spark, sf_dir, "events")
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        (r["session_window"]["start"], r["user_id"], r["n"])
        for r in run_to_batch(agg, "complete").collect()
    }
    from hazelcast_jet_spark.session import load_table
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r["session_window"]["start"], r["user_id"], r["n"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_pipeline_facade_streaming(spark, sf_dir):
    """StreamStage through the Pipeline façade: read_from(map_journal) →
    add_timestamps → window().aggregate() → observable-style collection
    (StreamStage.java:56 / StageWithKeyAndWindow.java:53)."""
    from hazelcast_jet_spark import AggregateOperations as agg
    from hazelcast_jet_spark.pipeline import Pipeline, WindowDefinition
    from hazelcast_jet_spark.streaming.run import read_stream_table, run_to_batch

    p = Pipeline.create(spark)
    stage = p.read_from(read_stream_table(spark, sf_dir, "events"))
    assert type(stage).__name__ == "StreamStage"
    windowed = (
        stage.add_timestamps("ts", "0 seconds")
        .grouping_key("event_type")
        .window(WindowDefinition.tumbling("6 hours"))
        .aggregate(n=agg.counting())
    )
    got = {
        (r["window_start"], r["event_type"], r["n"])
        for r in run_to_batch(windowed.df, "complete").collect()
    }
    from hazelcast_jet_spark.session import load_table
    want = {
        (r["ws"], r["event_type"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_early_results_period(spark, tmp_path):
    """setEarlyResultsPeriod analog: update-mode periodic triggers emit a
    window's partial aggregate repeatedly as data keeps arriving — the
    memory sink sees the same window more than once with growing counts."""
    import time as _time

    from pyspark.sql import functions as F

    from hazelcast_jet_spark.source_builder import SourceBuilder
    from hazelcast_jet_spark.streaming.run import early_results_writer

    def poll(state, start):
        o = start["offset"]
        if o >= 40:
            return [], {"offset": o}
        # 10 events per micro-batch, all inside the same 1-hour window
        rows = [(f"2024-01-01 10:{i % 60:02d}:00", 1) for i in range(o, o + 10)]
        return rows, {"offset": o + 10}

    src = (
        SourceBuilder.stream("jet_test_early_src")
        .schema("ts string, v int")
        .poll(poll)
        .build(spark)
    )
    windowed = (
        src.select(F.col("ts").cast("timestamp").alias("ts"), "v")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        early_results_writer(windowed, period="250 milliseconds")
        .format("memory")
        .queryName("early_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            rows = spark.table("early_out").collect()
            if any(r["n"] >= 40 for r in rows):
                break
            _time.sleep(0.5)
        counts = sorted(r["n"] for r in spark.table("early_out").collect())
        # multiple partial emissions of the same window, ending at the total
        assert counts[-1] == 40 and len(counts) >= 2, counts
    finally:
        q.stop()


def test_stream_stream_join(spark, sf_dir):
    """Stream-stream inner equi-join (absent in the reference — Spark
    extension, SURVEY §2.6 row): two file streams joined on the key give
    the same rows as the batch join."""
    from hazelcast_jet_spark.streaming.run import read_stream_table, run_to_batch

    n = read_stream_table(spark, sf_dir, "nation")
    r = read_stream_table(spark, sf_dir, "region")
    joined = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        "n_name", "r_name"
    )
    got = sorted(tuple(x) for x in run_to_batch(joined, "append").collect())

    from hazelcast_jet_spark.session import load_table
    nb, rb = load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    want = sorted(
        tuple(x)
        for x in nb.join(rb, nb["n_regionkey"] == rb["r_regionkey"])
        .select("n_name", "r_name").collect()
    )
    assert got == want and len(got) == 25


def test_socket_source_contract(spark):
    """Sources.socket (Sources.java:950) against a real loopback TCP
    server: lines arrive as rows.  Closes SURVEY §2.2 row 18
    ('partial/untested')."""
    import socket as _socket
    import threading

    from hazelcast_jet_spark.sources import Sources
    from hazelcast_jet_spark.streaming.run import run_to_batch

    srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        conn.sendall(b"alpha\nbeta\ngamma\n")
        # leave the connection open long enough for a micro-batch to drain
        import time as _t
        _t.sleep(4)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        stream = Sources.socket("127.0.0.1", port)(spark)
        out = (
            stream.writeStream.format("memory")
            .queryName("sock_rows").outputMode("append").start()
        )
        import time as _t
        deadline = _t.time() + 30
        while _t.time() < deadline:
            got = {r.value for r in spark.table("sock_rows").collect()}
            if got >= {"alpha", "beta", "gamma"}:
                break
            _t.sleep(0.5)
        out.stop()
        assert got >= {"alpha", "beta", "gamma"}
    finally:
        srv.close()


def test_idle_source_watermark_policy(spark, tmp_path):
    """Jet's idle-partition timeout analog: with multipleWatermarkPolicy=
    max, an idle union leg cannot hold the watermark back — windows fed by
    the live leg still close and append-emit.  (Default min policy would
    pin the watermark at the idle leg's floor and emit nothing.)"""
    import datetime as dt
    import time as _time

    from pyspark.sql import functions as F

    from hazelcast_jet_spark.source_builder import SourceBuilder
    from hazelcast_jet_spark.streaming.run import idle_source_watermark_policy

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def live_poll(state, start):
        o = start["offset"]
        if o >= 120:
            return [], {"offset": o}
        rows = [(base + dt.timedelta(seconds=i), i) for i in range(o, o + 30)]
        return rows, {"offset": o + 30}

    live = (
        SourceBuilder.stream("jet_test_live_src")
        .schema("ts timestamp, v int")
        .poll(live_poll)
        .replay(lambda s, a, b: [(base + dt.timedelta(seconds=i), i)
                                 for i in range(a["offset"], b["offset"])])
        .build(spark)
    )
    idle = (
        SourceBuilder.stream("jet_test_idle_src")
        .schema("ts timestamp, v int")
        .poll(lambda state, start: ([], dict(start)))
        .replay(lambda s, a, b: [])
        .build(spark)
    )
    idle_source_watermark_policy(spark, "max")
    try:
        unioned = live.withWatermark("ts", "1 second").unionByName(
            idle.withWatermark("ts", "1 second"))
        windowed = (
            unioned.groupBy(F.window("ts", "10 seconds"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            windowed.writeStream.format("memory")
            .queryName("idle_policy_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + 60
            rows = []
            while _time.time() < deadline:
                rows = spark.table("idle_policy_out").collect()
                if len(rows) >= 3:
                    break
                _time.sleep(0.5)
            # closed 10s windows of 10 events each despite the idle leg
            assert len(rows) >= 3 and all(r["n"] == 10 for r in rows), rows
        finally:
            q.stop()
    finally:
        spark.conf.unset("spark.sql.streaming.multipleWatermarkPolicy")


def test_continuous_aggregate_rollup(spark, tmp_path, sf_dir):
    """Hypertable-style continuous aggregate: the materialized rollup
    table equals the batch windowed aggregation, stays correct across a
    checkpointed restart with new data, and each batch upserts only
    touched windows."""
    import json

    from pyspark.sql import functions as F

    from hazelcast_jet_spark.session import load_table
    from hazelcast_jet_spark.streaming.rollup import continuous_aggregate, read_rollup

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    rows = sorted(ev.collect(), key=lambda r: (r.ts, r.event_id))
    half = len(rows) // 2
    src = tmp_path / "in"
    src.mkdir()
    tbl, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")

    def emit(name, chunk):
        with open(src / name, "w") as f:
            for r in chunk:
                f.write(json.dumps({"event_id": r.event_id, "ts": r.ts.isoformat(sep=" "),
                                    "event_type": r.event_type, "value": r.value}) + "\n")

    schema = "event_id long, ts timestamp_ntz, event_type string, value double"
    aggs = {"n": F.count(F.lit(1)), "sv": F.sum("value")}

    def run_once():
        stream = spark.readStream.schema(schema).json(str(src))
        q = continuous_aggregate(stream, tbl, "1 hour", keys=["event_type"],
                                 aggs=aggs, checkpoint=ckpt, num_buckets=8)
        q.awaitTermination(120)

    emit("a.json", rows[:half])
    run_once()
    emit("b.json", rows[half:])
    run_once()  # restart from checkpoint — exactly-once upsert replay

    got = {(r.window_start, r.event_type): (r.n, round(r.sv, 6))
           for r in read_rollup(spark, tbl, ["window_start", "event_type"], 8).collect()}
    want = {
        (r.window_start, r.event_type): (r.n, round(r.sv, 6))
        for r in ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type", "n", "sv").collect()
    }
    assert got == want and len(got) > 100


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """LEFT OUTER stream-stream join with event-time watermarks on both
    legs: unmatched left rows flush as null-extended output once the
    watermark passes their interval (needs the trailing no-data
    micro-batch availableNow runs after the last file).  Matches the
    batch left join exactly."""
    import os

    from hazelcast_jet_spark.streaming.run import run_to_batch

    left_rows = [(i, f"2024-01-01 10:{i:02d}:00") for i in range(10)]
    # only even keys get a right-side match, 30s after the left event
    right_rows = [(i, f"2024-01-01 10:{i:02d}:30") for i in range(0, 10, 2)]
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    for d, rows, half in ((ldir, left_rows, 5), (rdir, right_rows, 3)):
        os.makedirs(d)
        df = spark.createDataFrame(rows, "k long, ts string").select(
            "k", F.col("ts").cast("timestamp").alias("ts"))
        df.limit(half).write.parquet(d + "/f1")
        df.subtract(df.limit(half)).write.parquet(d + "/f2")

    schema = "k long, ts timestamp"
    l = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
         .parquet(ldir + "/f*")
         .select(F.col("k").alias("lk"), F.col("ts").alias("lts"))
         .withWatermark("lts", "0 seconds"))
    r = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
         .parquet(rdir + "/f*")
         .select(F.col("k").alias("rk"), F.col("ts").alias("rts"))
         .withWatermark("rts", "0 seconds"))
    joined = l.join(
        r,
        (F.col("lk") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 MINUTE")),
        "left_outer",
    )
    got = sorted(((x["lk"], x["rk"]) for x in run_to_batch(joined, "append").collect()),
                 key=lambda t: (t[0], t[1] is None, t[1] or 0))
    # every left row flushes EXCEPT the stream's final event (k=9): the
    # watermark stops at the last observed timestamp (10:09:00), which
    # never passes 9's interval end — correct streaming semantics; an
    # unbounded source would flush it on the next watermark advance.
    want = sorted(((i, i if i % 2 == 0 else None) for i in range(9)),
                  key=lambda t: (t[0], t[1] is None, t[1] or 0))
    assert got == want


# ---------------------------------------------------------------------------
# Kafka connector option-building (KafkaSources.java:51 / KafkaSinks.java:101)
# — the broker-independent contract: subscription modes, property pass-
# through, and the streaming checkpoint requirement.
# ---------------------------------------------------------------------------


def test_kafka_source_option_builder():
    from hazelcast_jet_spark.sources import Sources

    opts = Sources.kafka_options("b1:9092,b2:9092", "t1", "t2",
                                 **{"kafka.group.id": "g", "startingOffsets": "earliest"})
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "t1,t2"
    assert opts["kafka.group.id"] == "g"           # consumer property pass-through
    assert opts["startingOffsets"] == "earliest"   # source option pass-through

    # alternative subscription modes replace subscribe
    opts = Sources.kafka_options("b:9092", subscribePattern="t.*")
    assert "subscribe" not in opts and opts["subscribePattern"] == "t.*"

    import pytest
    with pytest.raises(ValueError):                # both modes at once
        Sources.kafka_options("b:9092", "t1", assign='{"t1":[0]}')
    with pytest.raises(ValueError):                # no subscription at all
        Sources.kafka_options("b:9092")


def test_kafka_sink_option_builder_and_checkpoint_contract(spark):
    import pytest
    from hazelcast_jet_spark.sinks import Sinks

    opts = Sinks.kafka_options("b:9092", "out", **{"kafka.acks": "all"})
    assert opts == {"kafka.bootstrap.servers": "b:9092", "topic": "out",
                    "kafka.acks": "all"}
    with pytest.raises(ValueError):
        Sinks.kafka_options("b:9092", "")

    # a STREAMING frame without a durable checkpoint must be rejected
    # before any broker contact (exactly-once depends on the checkpoint)
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="checkpoint"):
        Sinks.kafka("b:9092", "out")(stream)


def test_rocksdb_state_store(spark, sf_dir):
    """use_rocksdb_state (the 100 TB keyed-state path): a keyed streaming
    aggregation under the RocksDB provider produces the same results as
    the default heap store, and the state operator really ran on RocksDB
    (rocksdb* custom metrics present in the query progress)."""
    import uuid

    from hazelcast_jet_spark.streaming.run import use_rocksdb_state

    def run_counts():
        e = read_stream_table(spark, sf_dir, "events")
        agg = e.groupBy("event_type").count()
        name = f"rocks_{uuid.uuid4().hex[:10]}"
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
        prog = q.lastProgress
        rows = {r["event_type"]: r["count"]
                for r in spark.table(name).collect()}
        return rows, prog

    baseline, _ = run_counts()
    use_rocksdb_state(spark)
    try:
        assert (spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                .endswith("RocksDBStateStoreProvider"))
        got, prog = run_counts()
        assert got == baseline
        metrics = prog["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics
    finally:
        use_rocksdb_state(spark, enabled=False)


def test_minhash_index_streaming_ingest_equals_batch(spark, sf_dir, tmp_path):
    """Streaming incremental dedup: docs arrive over two micro-batches;
    the union of per-epoch pair outputs must equal ONE batch LSH pass
    over the whole corpus (within-batch pairs from the self pass,
    cross-batch pairs from the index probe), and the epoch-keyed index
    left behind must serve later probes exactly like a build-once index."""
    from pyspark.sql import functions as F
    from hazelcast_jet_spark.operators import dedup
    from hazelcast_jet_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    landing = str(tmp_path / "landing")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        landing + "/f0")
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        landing + "/f1")

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    idx = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    q = dedup.minhash_index_streaming_ingest(
        stream, idx, pairs_dir, str(tmp_path / "ckpt"),
        num_hashes=8, bands=4, k=3, threshold=0.5)
    q.awaitTermination(120)

    got = {
        (min(r["index_id"], r["new_id"]), max(r["index_id"], r["new_id"]),
         r["jaccard_sim"])
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in dedup.minhash_lsh_pairs(
            d, num_hashes=8, bands=4, k=3, threshold=0.5).collect()
    }
    assert got == want and len(want) > 0

    # the stream-built index serves later probes like a build-once index
    probe_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= 400)
    once = str(tmp_path / "once")
    dedup.minhash_index_build(d, once, num_hashes=8, bands=4, k=3)
    r_stream = sorted(map(tuple, dedup.minhash_index_probe(
        spark, idx, probe_docs, num_hashes=8, bands=4, k=3,
        threshold=0.5).collect()))
    r_once = sorted(map(tuple, dedup.minhash_index_probe(
        spark, once, probe_docs, num_hashes=8, bands=4, k=3,
        threshold=0.5).collect()))
    assert r_stream == r_once


def test_distinct_within_watermark_bounded_state(spark, tmp_path):
    """Bounded-state streaming dedup (StageWithKey.distinct(within=...) →
    dropDuplicatesWithinWatermark): duplicates inside the horizon
    collapse; once the watermark passes a key's event time + delay its
    state is EVICTED, so a far-later duplicate re-emits — the O(keys in
    window) state bound an unbounded stream needs.  Plain distinct() on
    the same stream keeps state forever (the same key never re-emits)."""
    import datetime as dt
    from pyspark.sql import functions as F
    from hazelcast_jet_spark.pipeline import Pipeline
    from hazelcast_jet_spark.streaming.run import run_to_batch

    land = tmp_path / "land"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write(name, rows):
        spark.createDataFrame(rows, "k string, ts timestamp") \
            .coalesce(1).write.parquet(str(land / name))

    write("b1", [("A", t0), ("A", t0 + dt.timedelta(seconds=10)), ("B", t0)])
    write("b2", [("C", t0 + dt.timedelta(hours=3)),
                 ("B", t0 + dt.timedelta(seconds=20))])
    # state eviction runs at batch END against that batch's watermark, so
    # the expired key needs one batch of separation before its re-emit
    write("b3", [("D", t0 + dt.timedelta(hours=3, minutes=1))])
    write("b4", [("A", t0 + dt.timedelta(hours=3, minutes=5))])

    def stream():
        return (spark.readStream.schema("k string, ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(str(land)))

    p = Pipeline.create(spark)
    bounded = (p.read_from(stream()).add_timestamps("ts", "1 minute")
               .grouping_key("k").distinct(within="1 minute"))
    got = {r["k"]: r["n"] for r in
           run_to_batch(bounded.df, "append")
           .groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    # A@10:00 emitted; A@+10s deduped; state evicted at the end of the
    # batch after the watermark passed 10:01; A@13:05 re-emitted.  B's
    # late dup arrives while its state is still live → dropped.
    assert got == {"A": 2, "B": 1, "C": 1, "D": 1}

    forever = (p.read_from(stream()).add_timestamps("ts", "1 minute")
               .grouping_key("k").distinct())
    got2 = {r["k"]: r["n"] for r in
            run_to_batch(forever.df, "append")
            .groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got2 == {"A": 1, "B": 1, "C": 1, "D": 1}  # unbounded: never re-emits


def test_ingest_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once claim, tested directly: re-running an epoch (the
    crash-between-sink-commit-and-checkpoint case) must leave pairs AND
    index content identical — in particular the replay must NOT probe
    its own already-written epoch (which would emit jaccard-1.0
    self-pairs the original run never produced)."""
    from pyspark.sql import functions as F
    from hazelcast_jet_spark.operators import dedup
    from hazelcast_jet_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    b0 = d.filter(F.col("doc_id") % 2 == 0)
    b1 = d.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    kw = dict(num_hashes=8, bands=4, k=3, threshold=0.5)
    dedup.ingest_epoch(b0, 0, idx, pairs, **kw)
    dedup.ingest_epoch(b1, 1, idx, pairs, **kw)
    first = sorted(map(tuple, spark.read.parquet(pairs).collect()))
    n_idx = spark.read.parquet(f"{idx}/shingles").count()
    assert any(r for r in first), "fixture should produce pairs"
    # self-pair guard: no pair may relate a doc to itself
    assert all(a != b for a, b, *_ in
               [(r[0], r[1]) for r in spark.read.parquet(pairs)
                .select("index_id", "new_id").collect()])

    # REPLAY epoch 1 against the index that already contains epoch 1
    dedup.ingest_epoch(b1, 1, idx, pairs, **kw)
    replayed = sorted(map(tuple, spark.read.parquet(pairs).collect()))
    assert replayed == first
    assert spark.read.parquet(f"{idx}/shingles").count() == n_idx


def test_distinct_within_conflicting_watermark_rejected(spark):
    """distinct(within=X) with an upstream watermark of a DIFFERENT delay
    must raise, not silently dedup on the unrelated horizon (Spark allows
    one watermark per stream; the dedup horizon IS that delay)."""
    import pytest
    from pyspark.sql import functions as F
    from hazelcast_jet_spark.pipeline import Pipeline

    stream = (spark.readStream.format("rate").option("rowsPerSecond", 1).load()
              .select(F.col("value").cast("string").alias("k"), "timestamp"))
    p = Pipeline.create(spark)
    stage = p.read_from(stream).add_timestamps("timestamp", "10 seconds")
    with pytest.raises(ValueError, match="conflicts with the upstream"):
        stage.grouping_key("k").distinct(within="1 minute")
    # equal delay (different spelling) is accepted
    out = stage.grouping_key("k").distinct(within="10 seconds")
    assert out.df.isStreaming


def test_streaming_count_min_equals_batch(spark, sf_dir):
    """The streamed CMS (complete-mode agg over readStream) lands on
    exactly the batch sketch — counter-for-counter."""
    from hazelcast_jet_spark.operators.sketch import count_min_build
    from hazelcast_jet_spark.session import load_table
    from hazelcast_jet_spark.streaming.run import (
        read_stream_table, run_to_batch)

    stream = run_to_batch(
        count_min_build(read_stream_table(spark, sf_dir, "events"),
                        "user_id", width=64, depth=3, seed="eq"),
        "complete")
    batch = count_min_build(load_table(spark, sf_dir, "events"),
                            "user_id", width=64, depth=3, seed="eq")
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_scd2_stream_crash_restart_manifest_mode(spark, tmp_path):
    """The exactly-once CDC→warehouse story end-to-end (r10 verdict #5):
    an SCD2 stream against a MANIFEST-mode table (PUT-IF-ABSENT commits,
    no renames) crashes in the at-least-once danger window — AFTER a
    batch's table.apply committed but BEFORE the checkpoint recorded the
    batch — then resumes FROM THE SAME CHECKPOINT.  The restart replays
    the uncommitted batch (idempotent merge), finishes the rest, and the
    interval table equals the batch rebuild from the full log."""
    import os

    from pyspark.sql.streaming import StreamingQueryException

    from hazelcast_jet_spark.operators.timeseries import scd2_intervals
    from hazelcast_jet_spark.storage import KeyedParquetTable
    from hazelcast_jet_spark.streaming.scd2 import scd2_stream_maintain

    b1 = [(1, 10, "A", 100), (2, 10, "X", 200)]
    b2 = [(1, 20, "B", 101), (3, 5, "Q", 300)]
    b3 = [(2, 40, "Y", 201), (1, 30, "A", 102)]
    schema = "k long, t long, s string, id long"
    src = str(tmp_path / "src"); os.makedirs(src)
    for i, b in enumerate([b1, b2, b3]):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            src + f"/f{i + 1}")

    table = KeyedParquetTable(str(tmp_path / "scd2"), ["k"], num_buckets=8,
                              commit_mode="manifest")
    real_apply = table.apply
    crashed = {"done": False}

    def crashing_apply(*a, **kw):
        out = real_apply(*a, **kw)  # the table COMMITS this batch...
        if not crashed["done"] and table._latest_manifest()[0] >= 2:
            crashed["done"] = True
            raise RuntimeError("injected crash after commit")  # ...then die
        return out

    table.apply = crashing_apply
    ckpt = str(tmp_path / "ck")

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
        q = scd2_stream_maintain(stream, table, "k", "t", "s", "id",
                                 checkpoint=ckpt)
        q.awaitTermination()

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    assert crashed["done"]
    v_crash = table._latest_manifest()[0]
    assert v_crash >= 2  # some batches durably committed before the crash

    # resume from the SAME checkpoint: the crashed batch replays (its
    # offsets never committed), the merge is idempotent, the rest follows
    run()

    full = scd2_intervals(
        spark.createDataFrame(b1 + b2 + b3, schema), "k", "t", "s", "id")
    key = lambda r: (r["k"], r["version"])  # noqa: E731
    want = {key(r): tuple(r) for r in full.collect()}
    got = {key(r): tuple(r) for r in table.read(spark).collect()}
    assert got == want
    # the replayed batch re-committed (manifest version advanced) without
    # tripping the writer-conflict contract (single writer, new version)
    assert table._latest_manifest()[0] > v_crash


def test_scd2_stream_maintain_matches_batch_rebuild(spark, tmp_path):
    """CDC stream -> SCD2 history table: after two micro-batches the
    table equals the batch rebuild from the full log; re-applying the
    same batches (fresh checkpoint = forced replay) is idempotent."""
    import os

    from hazelcast_jet_spark.operators.timeseries import scd2_intervals
    from hazelcast_jet_spark.storage import KeyedParquetTable
    from hazelcast_jet_spark.streaming.scd2 import scd2_stream_maintain

    b1 = [(1, 10, "A", 100), (1, 20, "A", 101), (2, 10, "X", 200)]
    b2 = [(1, 30, "B", 102), (2, 40, "X", 201),   # X repeat collapses
          (3, 5, "Q", 300)]                       # new key
    schema = "k long, t long, s string, id long"
    src = str(tmp_path / "src"); os.makedirs(src)
    spark.createDataFrame(b1, schema).write.parquet(src + "/f1")
    spark.createDataFrame(b2, schema).write.parquet(src + "/f2")

    table = KeyedParquetTable(str(tmp_path / "scd2"), ["k"], num_buckets=8)

    def run(ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
        q = scd2_stream_maintain(stream, table, "k", "t", "s", "id",
                                 checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()

    run("ck1")
    full = scd2_intervals(
        spark.createDataFrame(b1 + b2, schema), "k", "t", "s", "id")
    key = lambda r: (r["k"], r["version"])
    want = {key(r): tuple(r) for r in full.collect()}
    got = {key(r): tuple(r) for r in table.read(spark).collect()}
    assert got == want
    assert len(got) == 4  # (1,A),(1,B),(2,X),(3,Q)

    # forced replay of both batches: same table (idempotent merge)
    run("ck2")
    got2 = {key(r): tuple(r) for r in table.read(spark).collect()}
    assert got2 == want


def test_stream_event_transitions_across_batches_equals_batch(spark, tmp_path):
    """stream_event_transitions: per-key carried state stitches the
    transition at the micro-batch BOUNDARY (maxFilesPerTrigger=1 forces
    one file per batch); summed deltas == the batch operator."""
    import os

    from pyspark.sql import functions as F

    from hazelcast_jet_spark.operators.timeseries import event_transitions
    from hazelcast_jet_spark.streaming.run import run_to_batch
    from hazelcast_jet_spark.streaming.transitions import (
        stream_event_transitions)

    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string")
    b1 = [(1, "2024-01-01 00:00:00", 1, "view"),
          (2, "2024-01-01 00:01:00", 1, "view"),
          (3, "2024-01-01 00:00:30", 2, "view")]
    # batch 2 continues both users: the view->click for user 1 and
    # view->purchase for user 2 SPAN the batch boundary
    b2 = [(4, "2024-01-01 00:02:00", 1, "click"),
          (5, "2024-01-01 00:03:00", 2, "purchase"),
          (6, "2024-01-01 00:04:00", 2, "view")]
    src = str(tmp_path / "src"); os.makedirs(src)
    # ONE part file per logical batch (.coalesce(1)) with strictly
    # increasing mtimes: a multi-part directory under
    # maxFilesPerTrigger=1 splits a logical batch into several
    # micro-batches whose order (mtime ties broken by path) can
    # interleave users across batches and violate the operator's
    # in-order-per-key contract — the r6 flake.
    import glob as _glob
    import time as _time
    for bi, batch in enumerate([b1, b2]):
        d = src + f"/f{bi + 1}"
        spark.createDataFrame(
            [(i, __import__("datetime").datetime.fromisoformat(t), u, e)
             for i, t, u, e in batch], schema).coalesce(1).write.parquet(d)
        for f in _glob.glob(d + "/*.parquet"):
            os.utime(f, (1700000000 + bi * 60, 1700000000 + bi * 60))
        _time.sleep(0.01)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        emitted = run_to_batch(stream_event_transitions(stream), "update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {(r.from_type, r.to_type): r.n for r in
           emitted.groupBy("from_type", "to_type")
           .agg(F.sum("cnt").alias("n")).collect()}

    batch_df = spark.createDataFrame(
        [(i, __import__("datetime").datetime.fromisoformat(t), u, e)
         for i, t, u, e in b1 + b2], schema)
    want = {(r.from_type, r.to_type): r.n_trans
            for r in event_transitions(batch_df).collect()}
    assert got == want
    assert got[("view", "click")] == 1      # crossed the boundary
    assert got[("view", "purchase")] == 1   # crossed the boundary


def test_stream_event_transitions_out_of_order_guard(spark, tmp_path):
    """The in-order-per-key contract is POLICED, not assumed: a later
    micro-batch delivering an event older than the carried state raises
    by default (loud), and with on_out_of_order='drop' the late row is
    discarded while in-order rows keep counting."""
    import datetime as dt
    import glob
    import os

    from pyspark.sql import functions as F

    from hazelcast_jet_spark.streaming.run import run_to_batch
    from hazelcast_jet_spark.streaming.transitions import (
        stream_event_transitions)

    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string")
    b1 = [(2, dt.datetime(2024, 1, 1, 0, 5), 1, "view")]
    # batch 2 delivers an EARLIER event for user 1 -> contract violation
    b2 = [(1, dt.datetime(2024, 1, 1, 0, 1), 1, "click"),
          (3, dt.datetime(2024, 1, 1, 0, 9), 1, "purchase")]
    src = str(tmp_path / "src"); os.makedirs(src)
    for bi, batch in enumerate([b1, b2]):
        d = src + f"/f{bi + 1}"
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(d)
        for f in glob.glob(d + "/*.parquet"):
            os.utime(f, (1700000000 + bi * 60, 1700000000 + bi * 60))

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))

    with pytest.raises(Exception) as ei:
        run_to_batch(stream_event_transitions(stream()), "update")
    assert "in-order" in str(ei.value) or "older than the carried" in str(
        ei.value)

    emitted = run_to_batch(
        stream_event_transitions(stream(), on_out_of_order="drop"),
        "update")
    got = {(r.from_type, r.to_type): r.n for r in
           emitted.groupBy("from_type", "to_type")
           .agg(F.sum("cnt").alias("n")).collect()}
    # the late click is dropped; view(b1) -> purchase(b2) still stitches
    assert got == {("view", "purchase"): 1}


def test_stream_event_transitions_rejects_bad_policy():
    from hazelcast_jet_spark.streaming.transitions import (
        stream_event_transitions)
    with pytest.raises(ValueError):
        stream_event_transitions(None, on_out_of_order="explode")


def test_streaming_corpus_card_equals_batch(spark, sf_dir):
    """The continuous data card (complete-mode counters over readStream
    + batch fold) equals the identical operators over the batch reader —
    row-for-row, so the live and at-rest reports can never disagree
    (r8 verdict #6)."""
    from hazelcast_jet_spark.operators.profile import (
        corpus_card_fold, corpus_card_stream_counters)
    from hazelcast_jet_spark.session import load_table
    from hazelcast_jet_spark.streaming.run import (
        read_stream_table, run_to_batch)

    counters = run_to_batch(
        corpus_card_stream_counters(
            read_stream_table(spark, sf_dir, "documents")), "complete")
    stream_card = corpus_card_fold(counters.localCheckpoint())
    batch_card = corpus_card_fold(corpus_card_stream_counters(
        load_table(spark, sf_dir, "documents")))
    s = [tuple(r) for r in stream_card.collect()]
    b = [tuple(r) for r in batch_card.collect()]
    assert s == b and len(s) > 0


def test_corpus_card_fold_matches_full_card_shared_columns(spark, sf_dir):
    """The streamable fold agrees with profile.corpus_data_card on every
    column both produce (the batch card adds percentiles + LSH near-dup
    rate, which are not incrementally maintainable)."""
    from hazelcast_jet_spark.operators.profile import (
        corpus_card_fold, corpus_card_stream_counters, corpus_data_card)
    from hazelcast_jet_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    lite = corpus_card_fold(corpus_card_stream_counters(docs))
    full = corpus_data_card(docs)
    shared = [c for c in lite.columns if c in full.columns]
    l = [tuple(r) for r in lite.select(shared).orderBy("source").collect()]
    f = [tuple(r) for r in full.select(shared).orderBy("source").collect()]
    assert l == f


def test_checkpoint_file_manager_loads(spark):
    """The configured checkpoint file manager class exists on this JVM and
    is what Spark's factory builds for the session.  Spark moved the class
    between 3.5 and 4.1; a move shows here instead of as every stream
    failing at start.  ``ephemeral_checkpoint_confs`` sets the same
    manager in a session ``get_spark`` did not configure."""
    from functools import reduce

    from hazelcast_jet_spark.session import (CHECKPOINT_FILE_MANAGER,
                                             CHECKPOINT_FILE_MANAGER_CONF)
    from hazelcast_jet_spark.streaming.run import ephemeral_checkpoint_confs

    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == CHECKPOINT_FILE_MANAGER
    jvm = spark._jvm
    assert jvm.java.lang.Class.forName(CHECKPOINT_FILE_MANAGER).getName() \
        == CHECKPOINT_FILE_MANAGER
    factory = reduce(getattr, (CHECKPOINT_FILE_MANAGER.rsplit(".", 1)[0]
                               + ".CheckpointFileManager").split("."), jvm)
    made = factory.create(jvm.org.apache.hadoop.fs.Path("file:///tmp"),
                          spark._jsparkSession.sessionState().newHadoopConf())
    assert made.getClass().getName() == CHECKPOINT_FILE_MANAGER

    spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)
    try:
        with ephemeral_checkpoint_confs(spark):
            assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == CHECKPOINT_FILE_MANAGER
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) is None
    finally:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)


def test_session_checkpoint_state_and_restart(spark, tmp_path):
    """The checkpoint a ``get_spark`` session writes: a sliding-window
    count on rate-micro-batch, stopped after a few batches, leaves exactly
    the open windows' counts in the state store, with Spark's
    ``<n>.delta.crc`` checksum and Hadoop's ``.<n>.delta.crc`` sidecar in
    every state partition; a restart from it emits the next windows with
    their closed-form counts, none duplicated or lost."""
    import threading

    from hazelcast_jet_spark import AggregateOperations as A
    from hazelcast_jet_spark import Pipeline, Sinks, WindowDefinition

    rows, keys, t0 = 100, 10, 1_600_000_000   # batch b: values [b*rows, (b+1)*rows) at t0+b s
    per_batch = rows // keys
    ckpt = str(tmp_path / "ckpt")

    def run(n_batches):
        out, done = {}, threading.Event()

        def on_batch(bdf, bid):
            # a batch the stop interrupted before its commit is replayed
            # under the same id on restart: keep one output per id
            out[bid] = sorted(tuple(r) for r in bdf.select(
                F.col("window_start").cast("long") - t0, "key", "n").collect())
            if len(out) >= n_batches:
                done.set()

        source = lambda s: (s.readStream.format("rate-micro-batch")  # noqa: E731
                            .option("rowsPerBatch", rows)
                            .option("numPartitions", 2)
                            .option("startTimestamp", t0 * 1000)
                            .option("advanceMillisPerBatch", 1000).load())
        q = (Pipeline.create(spark).read_from(source)
             .add_timestamps("timestamp", "0 seconds")
             .with_column("key", F.col("value") % keys)
             .grouping_key("key")
             .window(WindowDefinition.sliding("2 seconds", "1 second"))
             .aggregate(n=A.counting())
             .write_to(Sinks.for_each_batch(on_batch, checkpoint=ckpt)))
        try:
            assert done.wait(120), q.exception()
        finally:
            q.stop()
        return out

    def last_commit():
        return max(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                   if f.isdigit())

    def closed_form(w, last):
        # window [w, w+2) holds the batches w and w+1 that ran by ``last``
        return per_batch * sum(1 for b in (w, w + 1) if 0 <= b <= last)

    first = run(4)
    last = last_commit()
    emitted = {w for bid, out in first.items() if bid <= last for w, _, _ in out}
    open_windows = set(range(-1, last + 1)) - emitted
    state = {(r.w, r.key): r.n for r in spark.read.format("statestore").load(ckpt)
             .select((F.col("key.window.start").cast("long") - t0).alias("w"),
                     F.col("key.key").alias("key"), F.col("value.count").alias("n"))
             .collect()}
    assert open_windows and state == {
        (w, k): closed_form(w, last) for w in open_windows for k in range(keys)}

    parts = glob.glob(os.path.join(ckpt, "state", "0", "[0-9]*"))
    assert len(parts) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    for p in parts:
        names = set(os.listdir(p))
        for v in range(1, last + 2):   # state version = batch id + 1
            assert {f"{v}.delta", f"{v}.delta.crc", f".{v}.delta.crc"} <= names, (p, v)

    second = run(3)
    assert max(second) > last and min(second) == last + 1
    for bid in set(first) & set(second):
        assert first[bid] == second[bid]    # a replayed batch emits the same rows
    by_window = {}
    for bid, out in {**first, **second}.items():
        for w, k, n in out:
            by_window.setdefault(w, {}).setdefault(k, []).append((bid, n))
    assert open_windows <= set(by_window)   # the restart closed the open windows
    assert sorted(by_window) == list(range(-1, max(by_window) + 1))
    for w, per_key in by_window.items():
        assert sorted(per_key) == list(range(keys)), w
        for k, seen in per_key.items():
            assert len(seen) == 1, (w, k, seen)             # not duplicated
            assert seen[0][1] == closed_form(w, seen[0][0]), (w, k, seen)


def test_state_partitions_default_and_rescale(spark, tmp_path):
    """``get_spark`` sets one shuffle partition per core.  A streaming
    query takes its state partition count from the session only when its
    checkpoint is new: a checkpoint written under 8 partitions resumes
    with its 8 state partitions under the default, emitting every window
    once with its closed-form count, and a fresh checkpoint under the
    default gets ``defaultParallelism`` state partitions."""
    import threading

    from hazelcast_jet_spark import AggregateOperations as A
    from hazelcast_jet_spark import Pipeline, Sinks, WindowDefinition

    rows, keys, t0 = 100, 10, 1_600_000_000   # batch b: values [b*rows, (b+1)*rows) at t0+b s
    per_batch = rows // keys
    default = spark.conf.get("spark.sql.shuffle.partitions")
    assert default == str(spark.sparkContext.defaultParallelism)

    def run(ckpt, n_batches):
        out, done = {}, threading.Event()

        def on_batch(bdf, bid):
            out[bid] = sorted(tuple(r) for r in bdf.select(
                F.col("window_start").cast("long") - t0, "key", "n").collect())
            if len(out) >= n_batches:
                done.set()

        source = lambda s: (s.readStream.format("rate-micro-batch")  # noqa: E731
                            .option("rowsPerBatch", rows)
                            .option("numPartitions", 2)
                            .option("startTimestamp", t0 * 1000)
                            .option("advanceMillisPerBatch", 1000).load())
        q = (Pipeline.create(spark).read_from(source)
             .add_timestamps("timestamp", "0 seconds")
             .with_column("key", F.col("value") % keys)
             .grouping_key("key")
             .window(WindowDefinition.sliding("2 seconds", "1 second"))
             .aggregate(n=A.counting())
             .write_to(Sinks.for_each_batch(on_batch, checkpoint=ckpt)))
        try:
            assert done.wait(120), q.exception()
        finally:
            q.stop()
        return out

    def state_parts(ckpt):
        return len(glob.glob(os.path.join(ckpt, "state", "0", "[0-9]*")))

    old = str(tmp_path / "old")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        first = run(old, 2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    assert state_parts(old) == 8
    second = run(old, 3)
    assert state_parts(old) == 8
    assert min(second) <= max(first) + 1 and max(second) > max(first)

    by_window = {}
    for bid, out in {**first, **second}.items():
        for w, k, n in out:
            by_window.setdefault((w, k), set()).add((bid, n))
    windows = sorted({w for w, _ in by_window})
    assert windows == list(range(-1, windows[-1] + 1))
    for (w, k), seen in by_window.items():
        assert len(seen) == 1, (w, k, seen)          # emitted once
        n = seen.pop()[1]
        assert n == per_batch * sum(1 for b in (w, w + 1) if b >= 0), (w, k)
    assert {k for _, k in by_window} == set(range(keys))

    fresh = str(tmp_path / "fresh")
    run(fresh, 1)
    assert state_parts(fresh) == spark.sparkContext.defaultParallelism


def test_run_to_batch_leaves_no_checksum_threads(spark, tmp_path):
    """``run_to_batch`` turns checkpoint file checksums off, so its
    queries start none of Spark's ``ChecksumCheckpointFileManager``
    thread pools, which outlive the query that made them (a checkpointed
    query with checksums on leaves four threads per state partition)."""
    src = str(tmp_path / "src")
    spark.range(100).withColumn("k", F.col("id") % 10).write.parquet(src)

    def checksum_threads():
        threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet()
        return {t.getId() for t in threads.toArray()
                if t.getName().startswith("ChecksumCheckpointFileManager-Thread-")}

    before = checksum_threads()
    for _ in range(3):
        stream = (spark.readStream.schema("id long, k long").parquet(src)
                  .groupBy("k").count())
        assert run_to_batch(stream, "complete").count() == 10
    assert checksum_threads() - before == set()
