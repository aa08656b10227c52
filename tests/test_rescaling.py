"""Rescaling from snapshot (SURVEY §2.12; Job.java restart semantics):
a stateful streaming job checkpointed under one cluster topology resumes
under a DIFFERENT topology with its state intact and exactly-once output.

Spark's model: the state store keeps its partition count from the
checkpoint, and those partitions are redistributed over however many
cores/executors the restarted cluster has — which is precisely Jet's
"rescale from an exported snapshot".  Two subprocesses with different
local[N] masters share one checkpoint to prove it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PHASE = textwrap.dedent("""
    import sys
    master, src, out, ckpt, session = sys.argv[1:6]
    from pyspark.sql import SparkSession, functions as F
    if session == "get_spark":
        sys.path.insert(0, sys.argv[6])
        from hazelcast_jet_spark.session import (
            CHECKPOINT_FILE_MANAGER, CHECKPOINT_FILE_MANAGER_CONF, get_spark)
        spark = get_spark("rescale-phase")
        assert spark.sparkContext.master == master
        assert (spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF)
                == CHECKPOINT_FILE_MANAGER)
    else:
        spark = (SparkSession.builder.master(master)
                 .config("spark.sql.shuffle.partitions", "8")
                 .config("spark.ui.enabled", "false")
                 .appName("rescale-phase").getOrCreate())
    schema = "id long"
    counts = (
        spark.readStream.schema(schema).parquet(src + "/f*")
        .groupBy((F.col("id") % 10).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (counts.writeStream.outputMode("update")
         .foreachBatch(lambda df, bid:
             df.withColumn("bid", F.lit(bid))
               .write.mode("append").parquet(out))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    spark.stop()
""")


def _run_phase(master: str, src: str, out: str, ckpt: str,
               session: str = "bare") -> None:
    """One phase in its own JVM.  ``session`` is "bare" (a plain builder,
    Spark's default checkpoint file manager) or "get_spark" (the
    package's session, master ``local[N]`` through SPARK_GRAFT_CPUS)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=master[len("local["):-1],
               SPARK_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _PHASE, master, src, out, ckpt, session, REPO],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, f"phase on {master} failed:\n{r.stderr[-2000:]}"


def _latest_counts(spark, out):
    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        if r["key"] not in latest or r["bid"] > latest[r["key"]][0]:
            latest[r["key"]] = (r["bid"], r["n"])
    return {k: n for k, (_, n) in latest.items()}


def test_stateful_restart_under_different_parallelism(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    spark.range(0, 100).repartition(4).write.parquet(src + "/f1")
    _run_phase("local[3]", src, out, ckpt)          # topology A

    spark.range(100, 250).repartition(4).write.parquet(src + "/f2")
    _run_phase("local[8]", src, out, ckpt)          # topology B, same ckpt

    got = _latest_counts(spark, out)
    assert got == {k: 25 for k in range(10)}, got


def test_default_manager_checkpoint_resumes_under_get_spark(spark, tmp_path):
    """A checkpoint written through Spark's default (FileContext-based)
    checkpoint file manager resumes in a ``get_spark`` session, which
    commits through the FileSystem-based one: state intact, each input row
    counted exactly once."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    spark.range(0, 100).repartition(4).write.parquet(src + "/f1")
    _run_phase("local[3]", src, out, ckpt)          # default manager

    spark.range(100, 250).repartition(4).write.parquet(src + "/f2")
    _run_phase("local[2]", src, out, ckpt, session="get_spark")

    got = _latest_counts(spark, out)
    assert got == {k: 25 for k in range(10)}, got
    assert spark.read.parquet(out).count() == 20    # one row per key per batch
