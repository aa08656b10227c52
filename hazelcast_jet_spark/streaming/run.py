"""Streaming execution helpers: run a bounded stream to completion and
hand back batch results (the AssertionSinks/Observable pattern for
streaming stages — pipeline/test/AssertionSinks.java,
Sinks.observable Sinks.java:1382).

`availableNow` processes everything present then stops — Jet's "batch
source is a stream that completes" unification (core/Processor.java:262).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from hazelcast_jet_spark.session import (CHECKPOINT_FILE_MANAGER,
                                         CHECKPOINT_FILE_MANAGER_CONF)


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over a driver parquet table, with the same nanos→NTZ
    normalization as session.load_table (file stream needs an explicit
    schema, taken from the batch reader)."""
    import os

    from pyspark.sql import functions as F

    from hazelcast_jet_spark.session import load_table

    batch = load_table(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # FileStreamSource force-sets basePath to the path itself unless the
    # path is a glob, which breaks single-file sources ("basePath must be
    # a directory").  [f]irst-char glob matches exactly the same file.
    glob_path = os.path.join(sf_dir, f"[{name[0]}]{name[1:]}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        stream = spark.readStream.schema(raw.schema).parquet(glob_path)
        if dict(raw.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts",
                F.expr(
                    "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"
                    " + make_dt_interval(0, 0, 0, CAST(ts DIV 1000000000 AS DOUBLE))"
                    " + make_dt_interval(0, 0, 0, CAST((ts DIV 1000) % 1000000 AS DOUBLE) / 1000000.0)"
                ),
            )
        return stream
    return spark.readStream.schema(batch.schema).parquet(glob_path)


def idle_source_watermark_policy(spark: SparkSession, policy: str = "max") -> None:
    """EventTimeMapper idle-partition timeout analog (EventTimeMapper.java:
    42): with Jet, a source partition that stays idle past the timeout is
    EXCLUDED from the watermark so live partitions keep the stream moving.

    Spark's per-query watermark is the MIN across all watermarked inputs
    by default, so one idle leg of a union/join stalls every window.
    ``multipleWatermarkPolicy=max`` tracks the FASTEST input instead —
    the same observable effect (idle legs can't hold the watermark back),
    applied per-session rather than per-partition with a timeout.  Late
    rows from the slow leg may then be dropped, exactly as Jet drops
    events arriving after its idle-advanced watermark."""
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)


#: Spark's disk-backed state store provider (bundled since 3.2): state
#: spills to local RocksDB instead of living on the JVM heap.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")


def use_rocksdb_state(spark: SparkSession, enabled: bool = True,
                      changelog_checkpointing: bool = True) -> None:
    """Switch streaming state to RocksDB — the 100 TB state path.

    The default HDFSBackedStateStore keeps every key's state on the
    executor HEAP (a map per partition): fine for the gate's bounded
    runs, but keyed state at corpus scale (billions of dedup keys,
    per-user session state) must spill.  Jet faces the same wall with
    on-heap IMap state and answers with cluster memory; Spark's answer
    is RocksDB per partition + incremental (changelog) checkpointing,
    which also shrinks per-commit checkpoint IO from full-snapshot to
    delta-size.  Applies to queries STARTED afterwards (the provider is
    fixed per query at start)."""
    if enabled:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            str(changelog_checkpointing).lower())
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def early_results_writer(df: DataFrame, period: str = "1 second"):
    """``WindowDefinition.setEarlyResultsPeriod(ms)`` analog
    (WindowDefinition.java:70): a pre-configured ``writeStream`` in update
    mode with a ``processingTime`` trigger of ``period`` — every period,
    the windows whose aggregate changed emit their CURRENT (partial)
    result, i.e. speculative early results before the watermark closes the
    window.  Attach a format/sink and ``start()``.

    Divergence note (SURVEY §4.2, now closed partway): the emission grain
    is the trigger period across all keys, not Jet's per-window timer —
    same observable cadence, coarser scheduling."""
    return df.writeStream.outputMode("update").trigger(processingTime=period)


class ephemeral_checkpoint_confs:
    """Context manager scoping checkpoint-robustness confs DOWN for
    bounded throwaway runs (availableNow gates, bench probes): Spark 4's
    per-file checkpoint checksums and the 100-batch retention history
    protect LONG-LIVED checkpoints on unreliable storage — for a
    temp-dir checkpoint that is deleted when the query stops they are
    pure I/O overhead (measured: −16% wall across 5 stateful streaming
    gates, and the checksum writer's shutdown stalls disappear).
    Production streams with real recovery requirements keep the session
    defaults; this narrows the change to the ephemeral-run helpers.
    The checkpoint file manager is set as well, because these runs often
    start in a session that ``get_spark`` did not build and so would
    fork a process per checkpoint file (see ``session``'s docstring)."""

    _CONFS = {
        "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
        "spark.sql.streaming.minBatchesToRetain": "2",
        CHECKPOINT_FILE_MANAGER_CONF: CHECKPOINT_FILE_MANAGER,
    }

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.prev: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self._CONFS.items():
            self.prev[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, v in self.prev.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        return False


def run_to_batch(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame with availableNow into a memory sink
    and return the final table as a batch DataFrame.

    ``complete`` mode emits every window/group at the end regardless of
    watermark position — deterministic for bounded input, which is what
    the correctness oracle needs.  ``update``/``append`` reproduce Jet's
    incremental emission instead.
    """
    name = f"obs_{uuid.uuid4().hex[:12]}"
    with ephemeral_checkpoint_confs(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession.table(name)
