"""Stateful record-at-a-time transforms.

Reference: keyed mapStateful with TTL + eviction callback —
hazelcast-jet-core/.../pipeline/StreamStageWithKey.java:116-320 and
impl/processor/TransformStatefulP.java:48-151 (TTL at :56, eviction at
:100-151); global variant GeneralStage.java:156.

Batch shape: ``applyInPandas`` — the whole key's history arrives as one
pandas DataFrame (ordered by ``order_col`` when given), and the user fn
folds it; every keyed ordered scan of the engine runs on
:func:`map_stateful_batch`.  Streaming shape: ``applyInPandasWithState``
— per-key state object + ``GroupStateTimeout.EventTimeTimeout``
reproduces Jet's watermark-driven TTL eviction (onEvict ≡ the
``state.hasTimedOut`` branch).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def _sorted(pdf, order):
    return pdf.sort_values(order, kind="mergesort").reset_index(drop=True)


def appended_schema(df: DataFrame, new_cols: str) -> str:
    """DDL of ``df``'s columns followed by ``new_cols`` (DDL)."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    return f"{fields}, {new_cols}"


def map_stateful_batch(df: DataFrame, keys: list, fn: Callable, schema,
                       order_col=None) -> DataFrame:
    """Keyed map/filter/flatMapStateful on a bounded stage.

    ``fn(pdf) -> pdf`` receives all rows of one key, stably sorted by
    ``order_col`` (a column or a list) and positionally indexed — the
    batch analog of folding items through per-key state in arrival
    order.  ``keys == []`` is the global form (GeneralStage.java:156):
    one group, deliberately non-parallel like Jet's.  A stream raises:
    applyInPandas would reset the state every micro-batch.
    """
    if df.isStreaming:
        raise ValueError(
            "map_stateful_batch folds a bounded input; on a stream the "
            "per-key state would reset every micro-batch — use "
            "map_stateful_stream (applyInPandasWithState)")

    def run(pdf):
        return fn(pdf if order_col is None else _sorted(pdf, order_col))

    return df.groupBy(*keys).applyInPandas(run, schema)


def map_stateful_stream(df: DataFrame, keys: list[str], fn: Callable,
                        output_schema, state_schema,
                        ttl: str | None = None,
                        output_mode: str = "append") -> DataFrame:
    """Keyed mapStateful on a stream with TTL eviction.

    ``fn(key, pdf_iter, state) -> iter[pdf]`` is the
    applyInPandasWithState contract; when ``state.hasTimedOut`` the fn is
    invoked with an empty iterator — that branch is Jet's onEvictFn
    (TransformStatefulP.java:100-151).  ``ttl`` must be handled by the fn
    calling ``state.setTimeoutTimestamp(state.getCurrentWatermarkMs() +
    ttl_ms)``; pass it via closure.  The input df must already have a
    watermark (add_timestamps) for EventTimeTimeout to fire.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = GroupStateTimeout.EventTimeTimeout if ttl else GroupStateTimeout.NoTimeout
    return df.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, state_schema, output_mode, timeout
    )


def in_order_rows(op: str, order, on_out_of_order: str) -> Callable:
    """Per-key in-order policing of the stream twins: validates
    ``on_out_of_order`` and returns ``take(key, pdfs, late)``, which
    stably sorts the micro-batch's rows on ``order``, raises on or drops
    the rows of the mask ``late(rows)`` (``None``: none late), and
    returns the rows left, or ``None``."""
    if on_out_of_order not in ("raise", "drop"):
        raise ValueError(
            f"on_out_of_order must be 'raise' or 'drop', "
            f"got {on_out_of_order!r}")

    def take(key, pdfs, late: Callable):
        import pandas as pd

        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return None
        rows = _sorted(pd.concat(parts, ignore_index=True), order)
        bad = late(rows)
        if bad is not None and bool(bad.any()):
            if on_out_of_order == "raise":
                raise RuntimeError(
                    f"{op}: key {key} got {int(bad.sum())} late row(s) — "
                    f"per-key in-order delivery violated; pass "
                    f"on_out_of_order='drop' to discard")
            rows = rows[~bad].reset_index(drop=True)
        return rows if len(rows) else None

    return take
