"""Streaming local-level Kalman filtering — the live twin of
``operators/timeseries.kalman_level`` (reference analog: keyed
``mapStateful`` over a journal, TransformStatefulP.java:48).

Per-key state is the filter posterior ``(level x, variance P)`` plus the
last-seen time ordinal: each micro-batch sorts its own rows, continues
the recurrence from the carried posterior, and emits its rows with the
filtered level and gain — so the union of emissions over the run equals
the batch filter row for row.  State is O(1) per key however long the
stream runs (two doubles and an int — the smallest possible stateful
footprint for an adaptive smoother).

The steps are the batch loop (``timeseries.kalman_steps``) run from the
carried posterior; late rows (:func:`late_ordinals`) raise or drop
through ``stateful.in_order_rows`` rather than rewind the filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def late_ordinals(time_col: str, last_ord: int | None):
    """Late rows of the DATE-keyed twins: a day ordinal <= the carried
    one or repeated within the batch, so a duplicate (key, day) is
    rejected whether or not a trigger boundary splits the pair."""
    def late(rows):
        ords = rows[time_col].map(lambda d: d.toordinal())
        bad = ords.duplicated(keep="first")
        return bad if last_ord is None else bad | (ords <= last_ord)
    return late


def stream_kalman_level(series: DataFrame, key_col: str, time_col: str,
                        value_col: str, q: float = 1.0, r: float = 4.0,
                        on_out_of_order: str = "raise") -> DataFrame:
    """Keyed stateful Kalman filter over a streaming frame of
    ``(key, time, value)`` rows (e.g. a daily-rollup CDC feed).

    Emits each input row extended with ``(level, gain)`` in update mode;
    the emitted recurrence is the batch
    :func:`~hazelcast_jet_spark.operators.timeseries.kalman_level`'s own
    step loop, so bounded-input runs replay the batch filter bit-for-bit
    regardless of micro-batch boundaries.
    ``time_col`` must be a DATE column; state keeps its ordinal.

    Duplicate ``(key, time)`` rows raise (or drop all but the first)
    whatever the batch boundaries (:func:`late_ordinals`).
    """
    from hazelcast_jet_spark.operators.timeseries import kalman_steps
    from hazelcast_jet_spark.streaming.stateful import (
        appended_schema, in_order_rows, map_stateful_stream)

    take = in_order_rows("stream_kalman_level", time_col, on_out_of_order)
    qf, rf = float(q), float(r)

    def fn(key, pdfs, state):
        x, p, last_ord = state.get if state.exists else (None, None, None)
        rows = take(key, pdfs, late_ordinals(time_col, last_ord))
        if rows is None:
            return
        rows["level"], rows["gain"], x, p = kalman_steps(
            rows[value_col], qf, rf, x, p)
        state.update((float(x), float(p),
                      rows[time_col].iloc[-1].toordinal()))
        yield rows

    return map_stateful_stream(
        series, [key_col], fn,
        output_schema=appended_schema(series, "level double, gain double"),
        state_schema="x double, p double, last_ord bigint",
        output_mode="update",
    )
