"""Sinks — Jet sink connectors mapped onto df.write / writeStream / collect.

Reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/pipeline/
Sinks.java (136-1400) and pipeline/test/AssertionSinks.java:60-173.

Each factory returns ``fn(df) -> result`` consumed by
`GeneralStage.write_to`.  Streaming DataFrames get `writeStream` with a
checkpoint (Jet: distributed snapshots → exactly-once; Spark: checkpoint +
WAL — SURVEY §2.12).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Observable(list):
    """Client-side result handle — Observable.java:95 / Sinks.observable
    (Sinks.java:1382).  A plain list of Rows."""


class Sinks:
    @staticmethod
    def observable():
        """Sinks.observable — Sinks.java:1382: deliver results to client."""
        def sink(df: DataFrame):
            if df.isStreaming:
                q = (
                    df.writeStream.format("memory")
                    .queryName("observable")
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                return Observable(df.sparkSession.table("observable").collect())
            return Observable(df.collect())
        return sink

    @staticmethod
    def map(path: str, mode: str = "overwrite"):
        """Sinks.map — Sinks.java:136: upsert into an IMap ≈ write a managed
        columnar table (streaming: append with checkpoint)."""
        def sink(df: DataFrame):
            if df.isStreaming:
                return (
                    df.writeStream.format("parquet")
                    .option("path", path)
                    .option("checkpointLocation", path + "_ckpt")
                    .outputMode("append")
                    .start()
                )
            df.write.mode(mode).parquet(path)
            return path
        return sink

    @staticmethod
    def _keyed_merge_sink(path: str, keys: list[str], merge_fn, num_buckets: int,
                          commit_mode: str = "rename",
                          replace_batch_keys: bool = False):
        """Shared body of mapWithMerging / mapWithUpdating /
        mapWithEntryProcessor: read ONLY the touched bucket partitions, let
        ``merge_fn(current_subset, new_df)`` resolve each key, rewrite just
        those buckets.  The merged plan is cached so apply()'s read + write
        execute it once.

        ``replace_batch_keys`` selects the delete semantics: False (the
        merging contract) retains keys merge_fn omits; True (the updating
        contract) declares every key of the INCOMING batch changed, so a
        batch key absent from merge_fn's output is REMOVED — Jet's
        updateFn-returns-null."""
        def sink(df: DataFrame):
            from hazelcast_jet_spark.storage import KeyedParquetTable

            table = KeyedParquetTable(path, keys, num_buckets, commit_mode=commit_mode)
            if not table.exists():
                table.overwrite(merge_fn(None, df))
                return path
            bks = sorted(
                r[0] for r in df.select(table.bucket_of(df).alias("b")).distinct().collect()
            )
            current = table.read(df.sparkSession, buckets=bks)
            merged = merge_fn(current, df).cache()
            try:
                changed = (df if replace_batch_keys else merged) \
                    .select(*keys).distinct()
                table.apply(merged, changed, buckets=bks)
            finally:
                merged.unpersist()
            return path
        return sink

    @staticmethod
    def map_with_merging(path: str, keys: list[str], merge_fn, num_buckets: int = 64,
                         commit_mode: str = "rename"):
        """Sinks.mapWithMerging — Sinks.java:313: upsert with a merge fn on
        key conflict.  Backed by storage.KeyedParquetTable: the current
        rows of ONLY the touched bucket partitions are read (partition
        pruning), ``merge_fn(current_subset, new_df) -> merged_df``
        resolves conflicts, and just those buckets are rewritten via a
        staged, manifest-committed atomic swap — O(changed buckets) per
        call, the Delta-MERGE shape on plain parquet.  On first write
        merge_fn receives current=None.

        .. warning:: **merge_fn contract (changed in r2):** ``current`` is
           the touched-bucket SUBSET of the table, not a full snapshot,
           and keys merge_fn omits from its output are RETAINED (not
           dropped).  Per-key merges are unaffected; cross-key logic
           (global dedup, ranking over the whole table) must read the
           table itself instead of relying on ``current``."""
        return Sinks._keyed_merge_sink(
            path, keys,
            lambda cur, new: new if cur is None else merge_fn(cur, new),
            num_buckets, commit_mode,
        )

    @staticmethod
    def map_with_updating(path: str, keys: list[str], update_fn,
                          num_buckets: int = 64, commit_mode: str = "rename"):
        """Sinks.mapWithUpdating — Sinks.java:481: per key, absent →
        insert, present → ``updateFn(oldValue, item)``, and a null return
        REMOVES the key.  DataFrame translation of that per-entry loop:
        ``update_fn(current, new_df) -> DataFrame`` receives the table's
        CURRENT rows restricted to the batch's keys (``None`` on first
        write) plus the incoming batch, and returns the post-update rows
        for those keys — a batch key it omits is deleted (the
        returns-null branch), while keys outside the batch are never
        touched.  Same KeyedParquetTable backing as
        :meth:`map_with_merging`: partition-pruned bucket reads, staged
        manifest-committed rewrites of O(changed buckets).

        Contract difference vs ``map_with_merging``: the output must
        cover ONLY batch keys (rows for other keys would duplicate their
        retained table rows), and omission deletes instead of retains —
        exactly the Jet merging/updating split (merge resolves conflicts,
        update owns the key's fate).  Exactly-once under replay needs an
        idempotent ``update_fn``, the same caveat Sinks.java:516
        documents.
        """
        def fn(cur: DataFrame | None, new: DataFrame) -> DataFrame:
            if cur is None:
                return update_fn(None, new)
            touched = cur.join(new.select(*keys).distinct(), keys, "left_semi")
            return update_fn(touched, new)
        return Sinks._keyed_merge_sink(path, keys, fn, num_buckets,
                                       commit_mode, replace_batch_keys=True)

    @staticmethod
    def files(directory: str, fmt: str = "text", mode: str = "overwrite",
              roll_by_date: str | None = None, date_col: str | None = None,
              max_records_per_file: int | None = None):
        """Sinks.files — Sinks.java:1026 (exactly-once via checkpoint when
        streaming, matching FileSinkBuilder.exactlyOnce).

        Rolling (FileSinkBuilder.java rollByDate/rollByFileSize):

        * ``roll_by_date`` — a Spark date pattern (e.g. ``"yyyy-MM-dd"``)
          routing rows into dated subdirectories
          ``<directory>/roll=<formatted>/`` via ``partitionBy``, the
          distributed analog of Jet's per-date files (every writer node
          appends under the current date dir; here every task does).
          ``date_col`` picks the event-time column to roll on; ``None``
          rolls on processing time (``current_timestamp()``), Jet's
          wall-clock semantics.
        * ``max_records_per_file`` — bounds file size the way
          rollByFileSize bounds bytes; records, not bytes, is the knob
          Spark's writer exposes (``maxRecordsPerFile``), and a stable
          row schema makes the two equivalent up to row width.
        """
        def sink(df: DataFrame):
            roll_cols: list[str] = []
            if roll_by_date is not None:
                ts = F.col(date_col) if date_col is not None \
                    else F.current_timestamp()
                df = df.withColumn("roll", F.date_format(ts, roll_by_date))
                roll_cols = ["roll"]
            if df.isStreaming:
                w = (df.writeStream.format(fmt)
                     .option("path", directory)
                     .option("checkpointLocation", directory + "_ckpt"))
                if roll_cols:
                    w = w.partitionBy(*roll_cols)
                if max_records_per_file is not None:
                    w = w.option("maxRecordsPerFile", max_records_per_file)
                return w.start()
            w = df.write.mode(mode).format(fmt)
            if roll_cols:
                w = w.partitionBy(*roll_cols)
            if max_records_per_file is not None:
                w = w.option("maxRecordsPerFile", max_records_per_file)
            w.save(directory)
            return directory
        return sink

    @staticmethod
    def json(directory: str, mode: str = "overwrite"):
        """Sinks.json — Sinks.java:1045."""
        return Sinks.files(directory, "json", mode)

    @staticmethod
    def jdbc(url: str, table: str, mode: str = "append", **options):
        """Sinks.jdbc — Sinks.java:1246 (batched writes; exactly-once needs
        an idempotent target key, same caveat as Jet's non-XA mode)."""
        def sink(df: DataFrame):
            df.write.format("jdbc").option("url", url).option("dbtable", table).options(**options).mode(mode).save()
            return table
        return sink

    @staticmethod
    def jdbc_transactional(url: str, table: str, checkpoint: str | None = None,
                           commit_log: str = "jet_epoch_commits",
                           batch_epoch: int = 0, keys: list[str] | None = None,
                           **options):
        """Exactly-once JDBC APPENDS without XA — closes the gap
        ``Sinks.jdbc`` documents (reference: XaSinkProcessorBase's 2PC;
        here the warehouse epoch-commit pattern instead):

        1. each epoch's rows land in a per-epoch STAGING table via the
           normal parallel ``spark.write.jdbc`` (at-least-once, but
           isolated — a replay just overwrites the same staging table);
        2. one driver-side DB TRANSACTION publishes it:
           ``INSERT INTO target SELECT * FROM staging`` + a row in the
           ``commit_log`` marker table, atomically.  A replayed epoch
           finds its marker and no-ops.

        Crash anywhere: before the txn → replay re-stages + publishes;
        mid-txn → DB rolls back; after commit → replay no-ops (a
        leftover staging table is dropped then).  Net effect:
        exactly-once appends even for non-idempotent rows — the
        guarantee Jet gets from XA, obtained from an epoch marker
        instead of 2PC.  Streaming use requires a durable
        ``checkpoint`` (epoch ids must survive restarts).  The batch
        form publishes as ``batch_epoch`` — rerunning the same job is a
        no-op; DISTINCT batch loads into one table must pass distinct
        epochs.

        With ``keys`` the publish step is a ``MERGE`` (update matched,
        insert new) instead of a plain INSERT — keyed last-writer-wins
        UPSERTS into an RDBMS, the CdcSinks-to-database path (each
        epoch's frame should hold one row per key, e.g. out of
        ``cdc.latest_by_key``); the epoch marker still suppresses
        replays so re-applied epochs can't resurrect older values.
        """
        driver = options.get("driver")

        def _exec_update(conn, sql: str) -> None:
            st = conn.createStatement()
            try:
                st.executeUpdate(sql)
            finally:
                st.close()

        def _publish(batch_df: DataFrame, epoch_id: int) -> None:
            spark = batch_df.sparkSession
            jvm = spark._jvm
            staging = f"stg_{table}_{epoch_id}"
            (batch_df.write.format("jdbc").option("url", url)
             .option("dbtable", staging).options(**options)
             .mode("overwrite").save())
            if driver:
                jvm.java.lang.Class.forName(driver)
            conn = jvm.java.sql.DriverManager.getConnection(url)
            try:
                conn.setAutoCommit(False)
                for ddl in (
                    f"CREATE TABLE {commit_log} "
                    "(target VARCHAR(128), epoch_id BIGINT)",
                    f"CREATE TABLE {table} AS SELECT * FROM {staging} "
                    "WITH NO DATA",
                ):
                    try:
                        _exec_update(conn, ddl)
                        conn.commit()
                    except Exception:
                        conn.rollback()  # already exists
                st = conn.createStatement()
                try:
                    rs = st.executeQuery(
                        f"SELECT 1 FROM {commit_log} WHERE target = '{table}'"
                        f" AND epoch_id = {int(epoch_id)}")
                    already = rs.next()
                    rs.close()
                finally:
                    st.close()
                if not already:
                    if keys:
                        # Spark's jdbc writer CREATEs quoted (case-exact)
                        # column names — the MERGE must quote them too
                        cols = batch_df.columns
                        q = '"{}"'.format
                        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
                        sets = ", ".join(
                            f"t.{q(c)} = s.{q(c)}" for c in cols if c not in keys)
                        ins_cols = ", ".join(q(c) for c in cols)
                        ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
                        _exec_update(
                            conn,
                            f"MERGE INTO {table} t USING {staging} s ON {on} "
                            + (f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else "")
                            + f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) "
                            f"VALUES ({ins_vals})")
                    else:
                        _exec_update(
                            conn, f"INSERT INTO {table} SELECT * FROM {staging}")
                    _exec_update(conn,
                                 f"INSERT INTO {commit_log} VALUES "
                                 f"('{table}', {int(epoch_id)})")
                    conn.commit()  # rows + marker become visible atomically
                try:
                    _exec_update(conn, f"DROP TABLE {staging}")
                    conn.commit()
                except Exception:
                    conn.rollback()
            finally:
                conn.close()

        def sink(df: DataFrame):
            if df.isStreaming:
                if not checkpoint:
                    raise ValueError(
                        "jdbc_transactional on a stream requires a durable "
                        "checkpoint (epoch ids must survive restarts)")
                return (df.writeStream.foreachBatch(_publish)
                        .option("checkpointLocation", checkpoint)
                        .trigger(availableNow=True).start())
            _publish(df, batch_epoch)
            return table

        sink.publish_epoch = _publish  # exposed for idempotence tests
        return sink

    @staticmethod
    def kafka_options(bootstrap_servers: str, topic: str, **options) -> dict:
        """Option map for Spark's kafka sink — unit-testable without a
        broker (KafkaSinks.java:101 builds producer Properties likewise).
        Producer properties pass through with their ``kafka.`` prefix."""
        if not topic:
            raise ValueError("kafka sink requires a topic")
        opts = {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}
        opts.update(options)
        return opts

    @staticmethod
    def kafka(bootstrap_servers: str, topic: str, checkpoint: str | None = None,
              **options):
        """KafkaSinks.kafka — extensions/kafka/.../KafkaSinks.java:101.
        Streaming use REQUIRES an explicit durable ``checkpoint``: a fresh
        temp checkpoint per run would silently break exactly-once across
        restarts (the sink's EOS = checkpointed offsets + idempotent or
        transactional producer).  Delivery is at-least-once into the
        broker (no producer transactions wired — see README 'Delivery
        guarantees')."""
        opts = Sinks.kafka_options(bootstrap_servers, topic, **options)

        def sink(df: DataFrame):
            w = (
                df.writeStream if df.isStreaming else df.write
            )
            w = w.format("kafka")
            for k, v in opts.items():
                w = w.option(k, v)
            if df.isStreaming:
                if not checkpoint:
                    raise ValueError(
                        "Sinks.kafka on a stream needs checkpoint= (a durable "
                        "path; exactly-once across restarts depends on it)"
                    )
                return w.option("checkpointLocation", checkpoint).start()
            return w.save()
        return sink

    @staticmethod
    def map_with_entry_processor(path: str, keys: list[str], processor_fn,
                                 num_buckets: int = 64, commit_mode: str = "rename"):
        """Sinks.mapWithEntryProcessor — Sinks.java:606: apply a per-key
        processor to the current entry given the incoming row.

        ``processor_fn(current_df, incoming_df) -> new_rows_df`` receives
        the current rows of the touched bucket partitions (≈ the entry
        processor seeing its map partition; None on first write) and the
        incoming batch; rows it returns replace their keys, keys it omits
        keep their current value.  Same O(changed-buckets) keyed-table
        write path as mapWithMerging."""
        return Sinks._keyed_merge_sink(path, keys, processor_fn, num_buckets, commit_mode)

    @staticmethod
    def socket(host: str, port: int):
        """Sinks.socket — Sinks.java:950: newline-delimited rows to a TCP
        socket.  Streaming: one connection per micro-batch (foreachBatch);
        rows are collected per batch — this is a debug/export sink, same
        as the reference's (not a throughput path)."""
        def _send(batch_df: DataFrame, batch_id: int) -> None:
            import socket as _socket

            payload = "".join(
                ",".join("" if v is None else str(v) for v in row) + "\n"
                for row in batch_df.collect()
            )
            with _socket.create_connection((host, port)) as s:
                s.sendall(payload.encode("utf-8"))

        def sink(df: DataFrame):
            if df.isStreaming:
                return df.writeStream.foreachBatch(_send).start()
            _send(df, 0)
            return None
        return sink

    @staticmethod
    def reliable_topic(path: str):
        """Sinks.reliableTopic — Sinks.java:843: durable pub-sub topic.
        Spark-native analog: an append-only json log directory with a
        checkpoint (subscribers readStream it); in a Kafka deployment use
        Sinks.kafka, the 1:1 mapping."""
        def sink(df: DataFrame):
            if df.isStreaming:
                return (
                    df.writeStream.format("json")
                    .option("path", path)
                    .option("checkpointLocation", path + "_ckpt")
                    .outputMode("append")
                    .start()
                )
            df.write.mode("append").json(path)
            return path
        return sink

    @staticmethod
    def logger(n: int = 20):
        """Sinks.logger — Sinks.java:913 (debug)."""
        def sink(df: DataFrame):
            if df.isStreaming:
                return df.writeStream.format("console").start()
            df.show(n, truncate=False)
            return None
        return sink

    @staticmethod
    def noop():
        """Sinks.noop — Sinks.java:1067: drain and discard through Spark's
        ``noop`` data source, which evaluates every output column without
        moving data to the driver (a ``count()`` would let the optimizer
        prune the columns it does not need)."""
        def sink(df: DataFrame):
            if df.isStreaming:
                q = df.writeStream.format("noop").trigger(availableNow=True).start()
                q.awaitTermination()
                return None
            df.write.format("noop").mode("overwrite").save()
            return None
        return sink

    @staticmethod
    def for_each_batch(fn: Callable, checkpoint: str | None = None):
        """SinkBuilder — pipeline/SinkBuilder.java:44: custom sink via
        foreachBatch(fn(batch_df, batch_id))."""
        def sink(df: DataFrame):
            if df.isStreaming:
                w = df.writeStream.foreachBatch(fn)
                if checkpoint:
                    w = w.option("checkpointLocation", checkpoint)
                return w.start()
            fn(df, 0)
            return None
        return sink


class AssertionSinks:
    """pipeline/test/AssertionSinks.java:60-173 — throwing test sinks."""

    @staticmethod
    def assert_any_order(expected: list):
        def sink(df: DataFrame):
            got = sorted([tuple(r) for r in df.collect()])
            want = sorted([tuple(r) if not isinstance(r, tuple) else r for r in expected])
            assert got == want, f"assertAnyOrder failed:\n got={got}\nwant={want}"
            return got
        return sink

    @staticmethod
    def assert_ordered(expected: list):
        def sink(df: DataFrame):
            got = [tuple(r) for r in df.collect()]
            want = [tuple(r) if not isinstance(r, tuple) else r for r in expected]
            assert got == want, f"assertOrdered failed:\n got={got}\nwant={want}"
            return got
        return sink

    @staticmethod
    def assert_contains(expected: list):
        def sink(df: DataFrame):
            got = {tuple(r) for r in df.collect()}
            missing = [e for e in expected if tuple(e) not in got]
            assert not missing, f"assertContains missing {missing}"
            return got
        return sink

    @staticmethod
    def assert_collected(assert_fn):
        """AssertionSinks.assertCollected — AssertionSinks.java:134: run
        ``assert_fn(items)`` over EVERYTHING the (bounded) stage produced;
        an empty result calls it with ``[]``.  Batch only — the streaming
        twin is :meth:`assert_collected_eventually`."""
        def sink(df: DataFrame):
            if df.isStreaming:
                raise ValueError(
                    "assert_collected is batch-only; use "
                    "assert_collected_eventually for streams "
                    "(AssertionSinks.java:129)")
            items = [tuple(r) for r in df.collect()]
            assert_fn(items)
            return items
        return sink

    @staticmethod
    def assert_collected_eventually(timeout_seconds: int, assert_fn):
        """AssertionSinks.assertCollectedEventually — AssertionSinks.java
        :173: re-run ``assert_fn(all items so far)`` after every
        micro-batch, swallowing ``AssertionError`` until
        ``timeout_seconds`` passes, then rethrowing the last one; any
        other exception propagates immediately.  On success the query is
        STOPPED (the reference terminates the job with
        AssertionCompletedException so ``join()`` returns; here the
        returned handle's ``awaitTermination()`` returns normally) —
        same caveat: don't share a job with other assertions."""
        import time

        def sink(df: DataFrame):
            if not df.isStreaming:
                # bounded input: one shot, no retry loop needed
                return AssertionSinks.assert_collected(assert_fn)(df)
            state = {"items": [], "deadline": time.time() + timeout_seconds,
                     "last": None, "done": False}

            def for_each(batch_df: DataFrame, _epoch: int):
                state["items"].extend(tuple(r) for r in batch_df.collect())
                try:
                    assert_fn(list(state["items"]))
                except AssertionError as e:
                    state["last"] = e
                    if time.time() >= state["deadline"]:
                        raise
                    return
                state["done"] = True

            query = df.writeStream.foreachBatch(for_each) \
                .outputMode("append").start()

            class _Handle:
                """join()-style wrapper: awaitTermination returns once the
                assertion has passed (query stopped) or rethrows."""

                def __init__(self, q):
                    self.query = q

                def awaitTermination(self, timeout: float | None = None):
                    end = time.time() + (timeout if timeout is not None
                                         else timeout_seconds + 30)
                    while time.time() < end:
                        if state["done"]:
                            self.query.stop()
                            self.query.awaitTermination()
                            return True
                        if not self.query.isActive:
                            self.query.awaitTermination()  # rethrow if failed
                            break
                        time.sleep(0.2)
                    if not state["done"]:
                        # stop the still-active query before raising —
                        # leaking it keeps collecting rows into driver
                        # memory for the life of the session
                        if self.query.isActive:
                            self.query.stop()
                        raise (state["last"] or TimeoutError(
                            "assertCollectedEventually: no assertion pass "
                            f"within {timeout_seconds}s and no items failed"))
                    return True

                def stop(self):
                    self.query.stop()

            return _Handle(query)
        return sink


class S3Sinks:
    """S3 object writer — extensions/s3/.../S3Sinks.java:54-98, expressed
    as the s3a:// path half Spark needs (same contract split as
    S3Sources: path building tested S3-free; IO via Spark's writers +
    hadoop-aws on a real cluster).  Delivery matches Sinks.files:
    exactly-once per epoch under streaming checkpoints."""

    @staticmethod
    def s3(bucket: str, prefix: str = "", fmt: str = "parquet",
           mode: str = "append", **options):
        from hazelcast_jet_spark.sources import S3Sources

        [path] = S3Sources.s3_paths(bucket, prefix)

        def sink(df: DataFrame):
            if df.isStreaming:
                w = df.writeStream.format(fmt).options(**options)
                return w.start(path)
            df.write.format(fmt).options(**options).mode(mode).save(path)
            return path
        return sink
