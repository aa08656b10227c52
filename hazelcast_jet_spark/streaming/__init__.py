"""Streaming layer — Jet's stream stages on Structured Streaming.

Reference semantics reproduced (SURVEY §2.5, §2.8):

* ``add_timestamps(ts, lag)`` ≡ ``withWatermark`` (GeneralStage.java:1155),
* tumbling/sliding/session windows ≡ ``F.window`` / ``F.session_window``
  (WindowDefinition.java:98-143),
* keyed ``mapStateful`` with TTL ≡ ``applyInPandasWithState`` with
  ``EventTimeTimeout`` (TransformStatefulP.java:48-151),
* late events below the watermark are dropped (SlidingWindowP.java:113).

Known divergences (documented, SURVEY §4.2): no controllable
early-results period (nearest: update output mode) and no idle-partition
watermark timeout.
"""

from hazelcast_jet_spark.streaming.stateful import (
    map_stateful_batch,
    map_stateful_stream,
)

__all__ = [
    "map_stateful_batch",
    "map_stateful_stream",
]
