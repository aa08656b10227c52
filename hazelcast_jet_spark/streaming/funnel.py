"""Streaming ordered-funnel progress — the live twin of
``operators/timeseries.funnel_counts`` (reference analog: keyed
``mapStateful`` over a journal, TransformStatefulP.java:48).

Per-key state is the earliest-completion time of each reached stage
(integer MICROseconds — float epoch residue breaks Arrow's
timestamp[us] output cast, the CEP lesson) plus the last-seen event
time for order policing.  Greedy in-order advancement equals the batch
earliest-completion fold: processing events in event-time order, stage
``i`` completes at the first event of its type strictly after stage
``i−1``'s completion — exactly the batch ``min(time > t_{i-1})``
because times only grow.  Equal-timestamp events are order-independent
for the funnel (a stage never completes at a time equal to its
predecessor's), so only strictly RETROGRADE rows violate the contract
(policed by ``stateful.in_order_rows``).

State is O(k) per key forever (k stage times + one ordinal)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_funnel_progress(events: DataFrame, stages: list[str],
                           key_col: str = "user_id",
                           time_col: str = "ts",
                           type_col: str = "event_type",
                           within_seconds: int | None = None,
                           on_out_of_order: str = "raise") -> DataFrame:
    """Keyed stateful funnel over a streaming frame of ``(key, type,
    time)`` events: emits ``(key, stage_reached)`` per key per
    micro-batch in update mode — ``stage_reached`` is monotone, so the
    per-key MAX over the run equals the batch
    :func:`~hazelcast_jet_spark.operators.timeseries.funnel_counts`
    completion depth.  ``within_seconds`` bounds the whole conversion
    against the stage-0 completion time, the batch parameter verbatim.

    Rows earlier than the carried last-seen time raise (or drop,
    ``on_out_of_order='drop'``) uniformly whatever the micro-batch
    boundaries; equal times are legitimate (funnel advancement is
    order-independent at a tied timestamp).
    """
    import pandas as pd

    from hazelcast_jet_spark.streaming.stateful import (in_order_rows,
                                                        map_stateful_stream)

    if len(stages) < 2:
        raise ValueError("funnel needs at least 2 stages")
    take = in_order_rows("stream_funnel_progress", time_col, on_out_of_order)
    k = len(stages)
    stage_of = {s: i for i, s in enumerate(stages)}
    bound_us = (None if within_seconds is None
                else int(within_seconds) * 1_000_000)

    feed = (events.select(key_col, type_col, time_col)
            .filter(F.col(type_col).isin(list(stages))))

    def micros(rows):
        return rows[time_col].map(lambda t: t.value // 1000)

    def fn(key, pdfs, state):
        # t0..t_{k-1}, last_us
        st = list(state.get) if state.exists else [-1] * (k + 1)
        # only strictly retrograde rows are late (ties are legitimate)
        rows = take(key, pdfs,
                    lambda rows: None if st[-1] < 0 else micros(rows) < st[-1])
        if rows is None:
            return
        us = micros(rows)
        for t_us, typ in zip(us, rows[type_col]):
            i = stage_of[typ]
            if i == 0:
                if st[0] < 0:
                    st[0] = int(t_us)
            elif (st[i] < 0 and st[i - 1] >= 0 and t_us > st[i - 1]
                  and (bound_us is None or t_us <= st[0] + bound_us)):
                st[i] = int(t_us)
        st[-1] = int(us.iloc[-1])
        state.update(tuple(st))
        yield pd.DataFrame(
            {key_col: [key[0]],
             "stage_reached": [sum(1 for v in st[:-1] if v >= 0)]})

    key_type = feed.schema[key_col].dataType.simpleString()
    state_schema = (", ".join(f"t{i} bigint" for i in range(k))
                    + ", last_us bigint")
    return map_stateful_stream(
        feed, [key_col], fn,
        output_schema=f"{key_col} {key_type}, stage_reached int",
        state_schema=state_schema,
        output_mode="update",
    )
