"""Streaming first-order event-transition counting — the live twin of
``operators/timeseries.event_transitions`` (reference analog: a keyed
``mapStateful`` over the event journal, TransformStatefulP.java:48).

Per-key state is ONE carried event (its time, order id and type): each
micro-batch sorts its own rows, stitches them onto the carried last
event, and emits the batch's (from_type, to_type) DELTA counts — so the
downstream sum over all emissions equals the batch transition matrix.
State is O(1) per key however long the stream runs.

Correct under per-key in-order delivery across micro-batches (the event
journal / Kafka-partition ordering assumption; within a batch, rows are
sorted).  A later batch delivering an EARLIER event for a key would
stitch it after the carried one; ``stateful.in_order_rows`` polices
that on ``(time, order id)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_event_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    order_col: str = "event_id",
    type_col: str = "event_type",
    on_out_of_order: str = "raise",
) -> DataFrame:
    """Keyed stateful transition counter over a streaming DataFrame.

    Returns a streaming frame of per-batch delta rows ``(from_type,
    to_type, cnt)`` (update mode); ``sum(cnt)`` per pair over the full
    run equals the batch :func:`~hazelcast_jet_spark.operators.
    timeseries.event_transitions` counts.  Event-time state is stored
    as integer MICROseconds (never float epoch — Arrow rejects the
    timestamp cast on float ns-residue).

    ``on_out_of_order`` polices the documented in-order-per-key contract:
    a micro-batch delivering an event OLDER than the carried state would
    otherwise stitch it after the carried one and silently corrupt the
    matrix.  ``"raise"`` (default) fails the batch loudly;
    ``"drop"`` discards the late rows and keeps counting.
    """
    from collections import Counter

    import pandas as pd

    from hazelcast_jet_spark.streaming.stateful import (in_order_rows,
                                                        map_stateful_stream)

    take = in_order_rows("stream_event_transitions", [time_col, order_col],
                         on_out_of_order)

    def fn(key, pdfs, state):
        last_us, last_id, last_type = (state.get if state.exists
                                       else (None, None, None))

        def late(rows):
            # (time, id) lexicographically before the carried event
            if last_us is None:
                return None
            us = rows[time_col].map(lambda t: int(pd.Timestamp(t).value // 1000))
            return (us < last_us) | ((us == last_us) & (rows[order_col] < last_id))

        rows = take(key, pdfs, late)
        if rows is None:
            return
        counts: Counter = Counter()
        prev = last_type
        for ty in rows[type_col].tolist():
            if prev is not None:
                counts[(prev, ty)] += 1
            prev = ty
        tail = rows.iloc[-1]
        state.update((
            int(pd.Timestamp(tail[time_col]).value // 1000),
            int(tail[order_col]),
            str(tail[type_col]),
        ))
        if counts:
            yield pd.DataFrame({
                "from_type": [a for (a, _b) in counts],
                "to_type": [b for (_a, b) in counts],
                "cnt": list(counts.values()),
            })

    return map_stateful_stream(
        events.select(key_col, time_col, order_col, type_col),
        [key_col], fn,
        output_schema="from_type string, to_type string, cnt bigint",
        state_schema="last_us bigint, last_id bigint, last_type string",
        output_mode="update",
    )
