"""Streaming one-sided CUSUM change detection — the live twin of
``operators/timeseries.cusum_alarms`` (reference analog: keyed
``mapStateful`` over a journal, TransformStatefulP.java:48).

Per-key state is the running CUSUM statistic plus the last-seen time
ordinal: each micro-batch continues ``S_t = max(0, S_{t-1} + (x_t −
target − slack))`` from the carried value, so the union of emissions
over the run equals the batch detector row for row.  The reference
level ``target`` is a BATCH input (a static (key, target) table,
stream-static broadcast-joined) — a causal stream cannot know its own
full-series mean, so the production shape is yesterday's rollup mean
feeding today's detector.  State is O(1) per key forever (one double +
one ordinal).

The steps are the batch loop (``timeseries.cusum_frame``) run from the
carried statistic; late rows (``kalman.late_ordinals``) raise or drop
through ``stateful.in_order_rows`` whatever the micro-batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_cusum_alarms(series: DataFrame, key_col: str, time_col: str,
                        value_col: str, targets: DataFrame,
                        slack: float = 0.0, threshold: float = 5.0,
                        on_out_of_order: str = "raise") -> DataFrame:
    """Keyed stateful CUSUM over a streaming frame of ``(key, time,
    value)`` rows; ``targets`` is a bounded static ``(key_col, target)``
    reference table (broadcast into the stream).

    Emits each input row extended with ``(target, cusum, alarm)`` in
    update mode; the add/sub/max steps are the batch
    :func:`~hazelcast_jet_spark.operators.timeseries.cusum_alarms`'s own
    loop, so bounded-input runs replay it bit-for-bit
    regardless of trigger boundaries.  ``time_col`` must be a DATE
    column; state keeps its ordinal.
    """
    from hazelcast_jet_spark.operators.timeseries import cusum_frame
    from hazelcast_jet_spark.streaming.kalman import late_ordinals
    from hazelcast_jet_spark.streaming.stateful import (
        appended_schema, in_order_rows, map_stateful_stream)

    take = in_order_rows("stream_cusum_alarms", time_col, on_out_of_order)
    sl, th = float(slack), float(threshold)

    joined = series.join(
        F.broadcast(targets.select(key_col, "target")), key_col)

    def fn(key, pdfs, state):
        s, last_ord = state.get if state.exists else (0.0, None)
        rows = take(key, pdfs, late_ordinals(time_col, last_ord))
        if rows is None:
            return
        rows, s = cusum_frame(rows, value_col, s, sl, th)
        state.update((float(s), rows[time_col].iloc[-1].toordinal()))
        yield rows

    return map_stateful_stream(
        joined, [key_col], fn,
        output_schema=appended_schema(joined, "cusum double, alarm boolean"),
        state_schema="s double, last_ord bigint",
        output_mode="update",
    )
