"""Pipeline façade — Jet's pipeline API shape over Spark DataFrames.

Reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/pipeline/
Pipeline.java, BatchStage.java:63-270, StreamStage.java:56-240,
BatchStageWithKey.java:66-466, StageWithWindow.java, WindowDefinition.java.

Every stage method records a *declarative* DataFrame transformation —
Catalyst fuses map/filter chains (Jet does this by hand in
impl/pipeline/Planner.java:117-135), pushes filters into scans, and picks
join strategies.  Nothing here schedules execution; `write_to` does.

Typical use::

    p = Pipeline.create(spark)
    (p.read_from(Sources.parquet(path))
      .filter(F.col("l_quantity") < 10)
      .grouping_key("l_returnflag")
      .aggregate(cnt=agg.counting())
      .write_to(Sinks.observable()))
    rows = p.run()
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hazelcast_jet_spark.streaming.stateful import map_stateful_batch

_INTERVAL_UNIT_S = {
    "microsecond": 1e-6, "millisecond": 1e-3, "second": 1.0,
    "minute": 60.0, "hour": 3600.0, "day": 86400.0, "week": 604800.0,
}


def _interval_seconds(s: str) -> float:
    """Duration string ('10 minutes', '1 hour 30 minutes') → seconds, for
    comparing a requested horizon against a plan-printed watermark delay."""
    total, matched = 0.0, False
    for num, unit in re.findall(r"([\d.]+)\s*([a-zA-Z]+)", s):
        unit = unit.lower().rstrip("s")
        if unit not in _INTERVAL_UNIT_S:
            raise ValueError(f"unsupported interval unit {unit!r} in {s!r}")
        total += float(num) * _INTERVAL_UNIT_S[unit]
        matched = True
    if not matched:
        raise ValueError(f"cannot parse interval {s!r}")
    return total


def _cond(c: Column | str) -> Column:
    return F.expr(c) if isinstance(c, str) else c


def _cols(cs) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cs]


# --------------------------------------------------------------------------
# window definitions (reference: pipeline/WindowDefinition.java:70-143)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class WindowDefinition:
    kind: str            # "tumbling" | "sliding" | "session"
    size: str            # duration string, e.g. "10 seconds"
    slide: str | None = None   # sliding only
    gap: str | None = None     # session only

    @staticmethod
    def tumbling(size: str) -> "WindowDefinition":
        """WindowDefinition.tumbling(size) — WindowDefinition.java:119-122."""
        return WindowDefinition("tumbling", size)

    @staticmethod
    def sliding(size: str, slide_by: str) -> "WindowDefinition":
        """WindowDefinition.sliding(size, slideBy) — WindowDefinition.java:98."""
        return WindowDefinition("sliding", size, slide=slide_by)

    @staticmethod
    def session(gap: str) -> "WindowDefinition":
        """WindowDefinition.session(gap) — WindowDefinition.java:143."""
        return WindowDefinition("session", size="", gap=gap)

    def column(self, ts_col: str) -> Column:
        if self.kind == "tumbling":
            return F.window(F.col(ts_col), self.size)
        if self.kind == "sliding":
            return F.window(F.col(ts_col), self.size, self.slide)
        return F.session_window(F.col(ts_col), self.gap)

    @property
    def struct_name(self) -> str:
        """Name of the window struct column Spark produces."""
        return "session_window" if self.kind == "session" else "window"


# --------------------------------------------------------------------------
# stages
# --------------------------------------------------------------------------

class GeneralStage:
    """Shared ops of BatchStage/StreamStage (reference: GeneralStage.java)."""

    def __init__(self, df: DataFrame, pipeline: "Pipeline"):
        self.df = df
        self.pipeline = pipeline
        self.ts_col: str | None = None
        self.ts_ntz: bool = False

    def _wrap(self, df: DataFrame) -> "GeneralStage":
        s = type(self)(df, self.pipeline)
        s.ts_col = self.ts_col
        s.ts_ntz = self.ts_ntz
        return s

    # --- projections / filters (GeneralStage.java:78-116) ---------------

    def map(self, *cols: Column | str) -> "GeneralStage":
        """map(mapFn) — GeneralStage.java:78.  Column-expression fast path:
        stays inside whole-stage codegen (Jet fuses TransformP vertices;
        Catalyst collapses Projects)."""
        return self._wrap(self.df.select(*_cols(cols)))

    def with_column(self, name: str, col: Column) -> "GeneralStage":
        return self._wrap(self.df.withColumn(name, col))

    def filter(self, cond: Column | str) -> "GeneralStage":
        """filter(predicateFn) — GeneralStage.java:95."""
        return self._wrap(self.df.filter(_cond(cond)))

    def flat_map(self, col: Column | str, alias: str, keep: list | None = None) -> "GeneralStage":
        """flatMap(fn -> Traverser) — GeneralStage.java:116.  0..n outputs
        per input via explode of an array expression."""
        keep_cols = _cols(keep) if keep is not None else [F.col(c) for c in self.df.columns]
        return self._wrap(self.df.select(*keep_cols, F.explode(_cond(col)).alias(alias)))

    # --- arbitrary-Python escape hatches (the Jet "UDF surface") --------

    def map_pandas(self, fn: Callable, schema) -> "GeneralStage":
        """map/mapUsingService with an arbitrary Python fn —
        GeneralStage.java:78,305.  Arrow-batched `mapInPandas` (the slow
        path relative to Column exprs, but vectorized; never per-row)."""
        return self._wrap(self.df.mapInPandas(fn, schema))

    def map_using_service(self, service_factory: Callable[[], Any], fn: Callable, schema) -> "GeneralStage":
        """mapUsingService(serviceFactory, mapFn) — GeneralStage.java:305.

        `service_factory` is invoked lazily once per executor task batch
        (Jet: once per member, ServiceFactory.java) — e.g. a model or
        connection pool.  `fn(service, pdf) -> pdf`.
        """
        def run(batches):
            service = service_factory()
            for pdf in batches:
                yield fn(service, pdf)
        return self._wrap(self.df.mapInPandas(run, schema))

    def map_using_service_async(self, service_factory: Callable[[], Any], async_fn: Callable,
                                schema, max_concurrent: int = 4) -> "GeneralStage":
        """mapUsingServiceAsync — GeneralStage.java:354-459: async calls
        against a shared service with bounded concurrency (Jet default: 4
        concurrent ops per processor).  ``async_fn(service, row_dict) ->
        dict`` awaits e.g. an HTTP/model call; rows in each Arrow batch
        are gathered concurrently, output order preserved (the
        ``AsyncTransformUsingServiceOrderedP`` variant)."""
        def run(batches):
            import asyncio

            import pandas as pd

            service = service_factory()

            async def process(records):
                sem = asyncio.Semaphore(max_concurrent)

                async def one(rec):
                    async with sem:
                        return await async_fn(service, rec)

                return await asyncio.gather(*[one(r) for r in records])

            for pdf in batches:
                results = asyncio.run(process(pdf.to_dict("records")))
                yield pd.DataFrame(results)

        return self._wrap(self.df.mapInPandas(run, schema))

    def custom_transform(self, fn: Callable[[DataFrame], DataFrame]) -> "GeneralStage":
        """customTransform — GeneralStage.java:1282; df.transform escape hatch."""
        return self._wrap(self.df.transform(fn))

    # --- enrichment (GeneralStage.java:678-739,582-635) ------------------

    def map_using_imap(self, dim: DataFrame, key, dim_key, how: str = "left") -> "GeneralStage":
        """mapUsingIMap(mapName, lookupKeyFn, mapFn) — GeneralStage.java:678.
        Key-lookup enrichment ≡ broadcast join against the dimension table
        (streaming: stream-static join, same code path)."""
        return self._wrap(self.df.join(F.broadcast(dim), _cond(key) == _cond(dim_key), how))

    map_using_replicated_map = map_using_imap

    # --- joins (GeneralStage.java:774-952) --------------------------------

    def hash_join(self, right: "GeneralStage | DataFrame", on, how: str = "left",
                  broadcast: bool = True) -> "GeneralStage":
        """hashJoin(stage1, JoinClause, outputFn) — GeneralStage.java:774;
        HashJoinP.java.  Jet always broadcasts the enrichment side and uses
        left-outer semantics; we keep that default but let Catalyst drop
        the hint if the side is too big (AQE re-plans at runtime)."""
        rdf = right.df if isinstance(right, GeneralStage) else right
        if broadcast:
            rdf = F.broadcast(rdf)
        return self._wrap(self.df.join(rdf, on, how))

    def inner_hash_join(self, right, on, broadcast: bool = True) -> "GeneralStage":
        """innerHashJoin — GeneralStage.java:819."""
        return self.hash_join(right, on, "inner", broadcast)

    def hash_join2(self, r1, on1, r2, on2, how: str = "left") -> "GeneralStage":
        """hashJoin2 — GeneralStage.java:864: two enrichment stages at once."""
        return self.hash_join(r1, on1, how).hash_join(r2, on2, how)

    def hash_join_builder(self) -> "HashJoinBuilder":
        """hashJoinBuilder() — GeneralStage.java:954: Tag-based N-way
        enrichment in ONE composite build step."""
        return HashJoinBuilder(self)

    # --- distribution / debugging (GeneralStage.java:1031-1265) ----------

    def rebalance(self, num_or_cols=None) -> "GeneralStage":
        """rebalance()/rebalance(keyFn) — GeneralStage.java:1031-1098."""
        if num_or_cols is None:
            return self._wrap(self.df.repartition(self.df.sparkSession.sparkContext.defaultParallelism))
        if isinstance(num_or_cols, int):
            return self._wrap(self.df.repartition(num_or_cols))
        return self._wrap(self.df.repartition(*_cols([num_or_cols])))

    def peek(self, name: str = "peek", *metrics: Column) -> "GeneralStage":
        """peek() — GeneralStage.java:1210; `df.observe` keeps it zero-cost
        in the plan (metrics surface via QueryExecutionListener)."""
        if not metrics:
            metrics = (F.count(F.lit(1)).alias("rows"),)
        return self._wrap(self.df.observe(name, *metrics))

    def set_name(self, name: str) -> "GeneralStage":
        """Stage.setName — Stage.java: names the stage in plans/UIs
        (``df.alias``; streaming queries additionally take queryName at
        the sink)."""
        return self._wrap(self.df.alias(name))

    def to_dot_string(self, physical: bool = False) -> str:
        """DAG.toDotString analog at stage granularity (DAG.java:440) —
        the GraphViz DOT of this stage's plan; see
        :func:`to_dot_string`."""
        return to_dot_string(self.df, physical=physical)

    def set_local_parallelism(self, n: int) -> "GeneralStage":
        """Stage.setLocalParallelism — Stage.java:102.  Spark's task count
        comes from splits/shuffle-partitions rather than per-vertex
        processor counts; the honest analog is an explicit repartition of
        this stage's output (prefer leaving AQE to size partitions)."""
        return self._wrap(self.df.repartition(n))

    # --- event time (GeneralStage.java:1155) ------------------------------

    def add_timestamps(self, ts_col: str, allowed_lag: str = "0 seconds") -> "GeneralStage":
        """addTimestamps(tsFn, allowedLag) — GeneralStage.java:1155 ≡
        withWatermark (streaming); batch stages just record the column.

        Spark watermarks require TIMESTAMP (with local timezone); a
        TIMESTAMP_NTZ event-time column is converted by interpreting its
        wall clock AS UTC (``timestamp_micros`` over an NTZ epoch diff —
        session-timezone-INDEPENDENT, unlike a plain cast, which buckets
        windows differently under a non-UTC session tz and broke
        stream==batch window parity).  The windowed-aggregate stages
        convert the window bounds back to NTZ (``ts_ntz`` flag), so the
        streaming result is column-identical to the batch stage's
        NTZ windows under ANY session timezone."""
        df = self.df
        ntz = False
        if df.isStreaming:
            if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
                ntz = True
                df = df.withColumn(ts_col, F.expr(
                    f"timestamp_micros(timestampdiff(MICROSECOND, "
                    f"CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), "
                    f"`{ts_col}`))"))
            df = df.withWatermark(ts_col, allowed_lag)
        s = self._wrap(df)
        s.ts_col = ts_col
        s.ts_ntz = ntz
        return s

    # --- grouping ---------------------------------------------------------

    def grouping_key(self, *keys) -> "StageWithKey":
        """groupingKey(keyFn) — BatchStage.java / StreamStage.java."""
        return StageWithKey(self, list(keys))

    # --- stateful record-at-a-time (GeneralStage.java:156-265) ------------

    def map_stateful_global(self, fn: Callable, schema, order_col: str | None = None):
        """Global mapStateful — GeneralStage.java:156: one ``groupBy()``
        applyInPandas group (Jet also funnels through ONE processor —
        GlobalMapStatefulTransform.java — so this is semantics-faithful;
        it is inherently non-scalable in both systems).  Bounded stages
        only, like :meth:`StageWithKey.map_stateful`."""
        return self._wrap(map_stateful_batch(self.df, [], fn, schema, order_col))

    def write_to(self, sink) -> Any:
        """writeTo(sink) — triggers execution (Jet: jet.newJob().join())."""
        return self.pipeline._execute(self.df, sink)


class HashJoinBuilder:
    """hashJoinBuilder — pipeline/GeneralHashJoinBuilder.java: register N
    enrichment stages via :meth:`add` (each returns its Tag, Jet's
    ``Tag<T>`` handle), then :meth:`build` emits ONE composite plan that
    joins every stage broadcast-style against the primary stage.

    Spark re-expression: the composite is a chain of broadcast hash joins
    — Catalyst builds each tiny side's hash table once and streams the
    primary side through all of them in a single whole-stage-codegen
    pass, which is exactly Jet's HashJoinP replicated-lookup execution.
    Instead of an ItemsByTag tuple, the enrichment columns land flat in
    the output row; ``tag_cols(tag)`` names the columns a given stage
    contributed (alias upstream on collisions)."""

    def __init__(self, left: GeneralStage):
        self._left = left
        self._stages: list[tuple] = []

    def add(self, right, on, how: str = "left", broadcast: bool = True) -> int:
        """add(stage, joinClause) -> Tag (GeneralHashJoinBuilder.java:117)."""
        rdf = right.df if isinstance(right, GeneralStage) else right
        self._stages.append((rdf, on, how, broadcast))
        return len(self._stages) - 1

    def tag_cols(self, tag: int) -> list[str]:
        """Column names the stage registered under ``tag`` contributes —
        the ItemsByTag.get(tag) analog."""
        return list(self._stages[tag][0].columns)

    def build(self) -> GeneralStage:
        """build(mapToOutputFn) — GeneralHashJoinBuilder.java:152: one
        composite join of every added stage."""
        if not self._stages:
            raise ValueError("add at least one enrichment stage")
        out = self._left
        for rdf, on, how, broadcast in self._stages:
            out = out.hash_join(rdf, on, how, broadcast)
        return out


class BatchStage(GeneralStage):
    """Bounded stage (reference: pipeline/BatchStage.java:63-270)."""

    def distinct(self) -> "BatchStage":
        """BatchStage.distinct() — BatchStage.java:221."""
        return self._wrap(self.df.distinct())

    def merge(self, other: "BatchStage | DataFrame") -> "BatchStage":
        """merge(other) — BatchStage.java:234 (union-all of same-typed stages)."""
        odf = other.df if isinstance(other, GeneralStage) else other
        return self._wrap(self.df.unionByName(odf))

    def sort(self, *cols) -> "BatchStage":
        """BatchStage.sort — BatchStage.java:84-104.  Jet: local sort +
        single-receiver ordered merge; Spark's range-partitioned global
        sort is strictly more scalable."""
        return self._wrap(self.df.orderBy(*_cols(cols)))

    def aggregate(self, **named_ops: Column) -> "BatchStage":
        """Full-stage aggregate → 1 row — BatchStage.java:293."""
        return self._wrap(self.df.agg(*(c.alias(n) for n, c in named_ops.items())))

    def window(self, wdef: WindowDefinition) -> "StageWithWindow":
        return StageWithWindow(self, wdef)


class StreamStage(GeneralStage):
    """Unbounded stage (reference: pipeline/StreamStage.java:56-240)."""

    def merge(self, other: "StreamStage | DataFrame") -> "StreamStage":
        odf = other.df if isinstance(other, GeneralStage) else other
        return self._wrap(self.df.unionByName(odf))

    def window(self, wdef: WindowDefinition) -> "StageWithWindow":
        """window(wDef) — StageWithWindow.java:51."""
        return StageWithWindow(self, wdef)


class StageWithKey:
    """Stage after groupingKey — BatchStageWithKey.java:66-466 /
    StreamStageWithKey.java:60-385."""

    def __init__(self, stage: GeneralStage, keys: list):
        self.stage = stage
        self.keys = keys

    def aggregate(self, **named_ops: Column) -> GeneralStage:
        """groupingKey(k).aggregate(op) — BatchStageWithKey.java:176.
        Spark's hash aggregate does local partial + shuffled merge, same
        two-stage shape as Jet's accumulateByKeyP/combineByKeyP
        (Processors.java:323-425)."""
        df = self.stage.df.groupBy(*_cols(self.keys)).agg(
            *(c.alias(n) for n, c in named_ops.items())
        )
        return self.stage._wrap(df)

    def distinct(self, within: str | None = None) -> GeneralStage:
        """groupingKey(k).distinct() — BatchStageWithKey.java:66.

        ``within`` (streaming only, e.g. ``"10 minutes"``): bounded-state
        dedup via ``dropDuplicatesWithinWatermark`` — duplicates arriving
        within the delay of each other collapse to one, and each key's
        state is DROPPED once the watermark passes it.  Plain streaming
        ``distinct()`` keeps every key forever (state grows with distinct
        keys — the thing that kills an unbounded stream at 100 TB);
        ``within`` trades exactly-once dedup beyond the horizon for O(keys
        in the watermark window) state, the same trade Jet users make by
        putting a TTL on the DistinctP backing map.  Requires an upstream
        ``add_timestamps``/``withWatermark``.
        """
        keys = [str(k) for k in self.keys]
        if within is None:
            return self.stage._wrap(self.stage.df.dropDuplicates(keys))
        df = self.stage.df
        if not df.isStreaming:
            return self.stage._wrap(df.dropDuplicates(keys))
        # the dedup horizon IS the watermark delay.  If add_timestamps
        # already set a watermark, reuse it (Spark forbids redefining) —
        # but ONLY when its delay equals the requested horizon: silently
        # substituting an unrelated delay (e.g. add_timestamps' default
        # '0 seconds' lag) would change the dedup semantics without any
        # signal.  Otherwise apply `within` on the event column.
        plan = df._jdf.queryExecution().analyzed().toString()
        m = re.search(r"EventTimeWatermark [^,]+, (.+)", plan)
        if m:
            existing = m.group(1).strip()
            if _interval_seconds(existing) != _interval_seconds(within):
                raise ValueError(
                    f"distinct(within={within!r}) conflicts with the upstream "
                    f"watermark delay {existing!r}: Spark allows one watermark "
                    f"per stream, and the dedup horizon IS that delay.  Set "
                    f"the same duration in add_timestamps(lag=...) or drop "
                    f"`within` to reuse the upstream horizon explicitly."
                )
        else:
            ts = self.stage.ts_col or "timestamp"
            if dict(df.dtypes).get(ts) == "timestamp_ntz":
                df = df.withColumn(ts, F.col(ts).cast("timestamp"))
            df = df.withWatermark(ts, within)
        return self.stage._wrap(df.dropDuplicatesWithinWatermark(keys))

    def rolling_aggregate(self, op: Column, order_col: str | None = None,
                          name: str = "rolling") -> GeneralStage:
        """rollingAggregate(aggrOp) — StreamStageWithKey.java:296.

        Batch: running aggregate via a window frame ordered by
        ``order_col``.  Streaming: update-mode ``groupBy().agg()`` — the
        running value lives in the JVM state store and each micro-batch
        emits the keys it updated (per-batch granularity instead of Jet's
        per-event; zero Python in the loop, ~10× cheaper than routing
        through applyInPandasWithState — keep map_stateful for genuinely
        custom state)."""
        if self.stage.df.isStreaming:
            df = self.stage.df.groupBy(*_cols(self.keys)).agg(op.alias(name))
            return self.stage._wrap(df)
        if order_col is None:
            raise ValueError("rolling_aggregate on a bounded stage needs order_col")
        w = (
            Window.partitionBy(*_cols(self.keys))
            .orderBy(F.col(order_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return self.stage._wrap(self.stage.df.withColumn(name, op.over(w)))

    def map_stateful(self, fn: Callable, schema,
                     order_col: str | None = None) -> GeneralStage:
        """Keyed mapStateful — StreamStageWithKey.java:116-320;
        TransformStatefulP.java:48-151.  Bounded stages only: applyInPandas
        per key, ``fn`` sees the key's rows ordered by ``order_col``.  A
        streaming stage raises ``ValueError``: per-key state carried
        across micro-batches, with TTL eviction, is
        ``streaming.map_stateful_stream`` (applyInPandasWithState)."""
        return self.stage._wrap(
            map_stateful_batch(self.stage.df, self.keys, fn, schema, order_col)
        )

    def filter_stateful(self, pred_fn: Callable,
                        order_col: str | None = None) -> GeneralStage:
        """Keyed filterStateful — GeneralStage.java:188: ``pred_fn(pdf) ->
        pdf-subset`` returns the rows of one key to keep (stateful
        predicate over the key's history, e.g. first-occurrence dedup)."""
        return self.map_stateful(pred_fn, self.stage.df.schema, order_col)

    def flat_map_stateful(self, fn: Callable, schema,
                          order_col: str | None = None) -> GeneralStage:
        """Keyed flatMapStateful — GeneralStage.java:226: 0..n output rows
        per input, driven by per-key state; output schema is the fn's."""
        return self.map_stateful(fn, schema, order_col)

    def window(self, wdef: WindowDefinition) -> "StageWithKeyAndWindow":
        """StageWithKeyAndWindow — StageWithKeyAndWindow.java:53."""
        return StageWithKeyAndWindow(self.stage, self.keys, wdef)


def _bound_back_to_ntz(stage: GeneralStage, col: Column) -> Column:
    """Window bound → the event-time domain of the input: when the
    stream's NTZ event time was converted wall-clock-as-UTC for the
    watermark (GeneralStage.add_timestamps), read the bound's UTC wall
    clock back as NTZ (unix_micros + the load_table interval recipe —
    both legs session-timezone-independent), so streaming window bounds
    equal the batch stage's NTZ windows bit-for-bit."""
    if not stage.ts_ntz:
        return col
    us = F.unix_micros(col)
    us_frac = us % F.lit(1000000)
    # (us - frac)/1e6 is integral, so the double division is IEEE-exact;
    # the sub-second part mirrors load_table's correctly-rounded recipe
    return (
        F.expr("CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)")
        + F.make_dt_interval(secs=((us - us_frac) / F.lit(1000000))
                             .cast("double"))
        + F.make_dt_interval(secs=us_frac.cast("double") / F.lit(1000000.0))
    )


class StageWithWindow:
    """StageWithWindow.java:51-235 (non-keyed windowed aggregation)."""

    def __init__(self, stage: GeneralStage, wdef: WindowDefinition):
        self.stage = stage
        self.wdef = wdef

    def aggregate(self, **named_ops: Column) -> GeneralStage:
        ts = self.stage.ts_col
        if ts is None:
            raise ValueError("call add_timestamps(ts_col) before window()")
        df = self.stage.df.groupBy(self.wdef.column(ts)).agg(
            *(c.alias(n) for n, c in named_ops.items())
        )
        # WindowResult{start,end,result} — datamodel/WindowResult.java
        w = self.wdef.struct_name
        df = df.select(
            _bound_back_to_ntz(self.stage, F.col(f"{w}.start"))
            .alias("window_start"),
            _bound_back_to_ntz(self.stage, F.col(f"{w}.end"))
            .alias("window_end"),
            *[F.col(n) for n in named_ops],
        )
        return self.stage._wrap(df)


class StageWithKeyAndWindow:
    """StageWithKeyAndWindow.java:53-226."""

    def __init__(self, stage: GeneralStage, keys: list, wdef: WindowDefinition):
        self.stage = stage
        self.keys = keys
        self.wdef = wdef

    def aggregate(self, **named_ops: Column) -> GeneralStage:
        ts = self.stage.ts_col
        if ts is None:
            raise ValueError("call add_timestamps(ts_col) before window()")
        df = self.stage.df.groupBy(self.wdef.column(ts), *_cols(self.keys)).agg(
            *(c.alias(n) for n, c in named_ops.items())
        )
        # KeyedWindowResult{start,end,key,result} — datamodel/KeyedWindowResult.java
        key_names = [k if isinstance(k, str) else k._jc.toString() for k in self.keys]
        w = self.wdef.struct_name
        df = df.select(
            _bound_back_to_ntz(self.stage, F.col(f"{w}.start"))
            .alias("window_start"),
            _bound_back_to_ntz(self.stage, F.col(f"{w}.end"))
            .alias("window_end"),
            *[F.col(k) for k in key_names],
            *[F.col(n) for n in named_ops],
        )
        return self.stage._wrap(df)


# --------------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------------

class Pipeline:
    """Pipeline.create() — pipeline/Pipeline.java.

    `read_from` returns a BatchStage or StreamStage depending on the
    source (Jet's batch/stream unification §1.3 ≡ DataFrame.isStreaming).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._result = None
        self._last_df: DataFrame | None = None
        self._n_stages = 0

    @staticmethod
    def create(spark: SparkSession) -> "Pipeline":
        return Pipeline(spark)

    def read_from(self, source) -> GeneralStage:
        # source: DataFrame | fn(spark)->DataFrame | SourceBuilder (.build)
        if hasattr(source, "build"):
            df = source.build(self.spark)
        elif callable(source):
            df = source(self.spark)
        else:
            df = source
        cls = StreamStage if df.isStreaming else BatchStage
        self._last_df = df
        self._n_stages += 1
        return cls(df, self)

    def _execute(self, df: DataFrame, sink):
        self._last_df = df
        self._result = sink(df)
        return self._result

    def run(self):
        """jet.newJob(p).join() analog: returns the last sink's result."""
        return self._result

    def is_empty(self) -> bool:
        """Pipeline.isEmpty — Pipeline.java:144: no stages declared."""
        return self._n_stages == 0

    def to_dot_string(self) -> str:
        """Pipeline.toDotString — Pipeline.java:133-137: a GraphViz DOT
        rendering of the declared dataflow.  Jet renders its vertex DAG;
        the Spark analog is the ANALYZED logical plan of the most
        recently declared (or executed) stage — the same graph Catalyst
        optimizes, before physical planning."""
        if self._last_df is None:
            return "digraph DAG {\n}"
        return to_dot_string(self._last_df)


def to_dot_string(df: DataFrame, physical: bool = False) -> str:
    """GraphViz DOT rendering of a DataFrame's plan — the engine's
    analog of DAG.toDotString (core/DAG.java:440-505): one node per
    plan operator (named like Jet vertices, de-duplicated with ``#k``
    suffixes), one edge per dataflow hop (child → parent), vertices
    annotated with their output arity the way Jet annotates
    localParallelism.  ``physical=True`` renders the executed physical
    plan instead (post-AQE operator names: exchanges, hash joins,
    codegen stages) — the truthful picture of what will run.
    """
    qe = df._jdf.queryExecution()
    root = qe.executedPlan() if physical else qe.analyzed()

    def children(node):
        # AQE/codegen wrappers hold their subtree in fields, not
        # children() — descend so the rendered graph is the real one
        if node.nodeName() == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        seq = node.children()
        return [seq.apply(i) for i in range(seq.length())]

    names: dict[str, int] = {}
    lines: list[str] = []
    edges: list[str] = []

    def esc(s: str) -> str:
        return s.replace('"', '\\"')

    def walk(node) -> str:
        base = node.nodeName()
        k = names.get(base, 0)
        names[base] = k + 1
        name = base if k == 0 else f"{base}#{k}"
        try:
            arity = node.output().length()
        except Exception:
            arity = 0
        lines.append(f'\t"{esc(name)}" [outputs={arity}];')
        for ch in children(node):
            edges.append(f'\t"{esc(walk(ch))}" -> "{esc(name)}";')
        return name

    walk(root)
    return "digraph DAG {\n" + "\n".join(lines + edges) + "\n}"
