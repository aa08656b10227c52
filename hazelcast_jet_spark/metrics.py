"""Job metrics — Jet metric names over Spark's listener/observe APIs.

Reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/core/metrics/
MetricNames.java (emittedCount, receivedCount, lateEventsDropped,
totalKeys, …) and Metrics.metric() user metrics.

Spark surfaces the same signals through StreamingQueryListener progress
events and ``df.observe``; this module translates them to Jet's names so
dashboards keyed on Jet metrics keep working.

Why the listener reads each event as JSON: PySpark's classic listener
wrapper builds every event with ``fromJObject``, which ``dict()``\\ s the
Java maps of a progress event (``durationMs``, ``eventTime``, each state
operator's ``customMetrics``, the source and sink ``metrics``) one py4j
call at a time.  Each of those map iterations ends in a Java
``NoSuchElementException``, and PySpark converts every one of them
through about a dozen ``is_instance_of`` probes, two of which are
failing ``Class.forName`` lookups that scan the whole classpath.  That
made the listener thread the busiest JVM thread after the executors on a
streaming micro-batch.  :class:`JetMetricsListener` instead fetches
``jevent.json()`` once per event and builds PySpark's own event objects
with ``fromJson`` — the conversion PySpark's ``lastProgress`` /
``recentProgress`` and the Spark Connect listener already use — so no
Java exception is raised or converted while an event is delivered.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.listener import (JStreamingQueryListener,
                                            QueryIdleEvent,
                                            QueryProgressEvent,
                                            QueryStartedEvent,
                                            QueryTerminatedEvent)


def progress_to_jet_metrics(progress) -> dict[str, float]:
    """Map a StreamingQueryProgress to Jet MetricNames (MetricNames.java)."""
    p = progress
    metrics = {
        "receivedCount": p.numInputRows,                     # MetricNames.RECEIVED_COUNT
        "emittedCount": sum(  # sink-side rows if reported
            (s.numOutputRows or 0) for s in [p.sink] if s is not None
        ),
        "totalKeys": 0.0,
        "lateEventsDropped": 0.0,
        "executionTimeMs": p.batchDuration,
    }
    for sop in p.stateOperators or []:
        metrics["totalKeys"] += sop.numRowsTotal or 0         # MetricNames.TOTAL_KEYS
        metrics["lateEventsDropped"] += getattr(sop, "numRowsDroppedByWatermark", 0) or 0
    return metrics


class _JsonEvents(JStreamingQueryListener):
    """The Java-facing side of a listener: one ``jevent.json()`` call per
    event, parsed into PySpark's event objects with ``fromJson``."""

    def onQueryStarted(self, jevent):  # noqa: N802 (Spark API names)
        self.pylistener.onQueryStarted(
            QueryStartedEvent.fromJson(json.loads(jevent.json())))

    def onQueryProgress(self, jevent):  # noqa: N802
        self.pylistener.onQueryProgress(
            QueryProgressEvent.fromJson(json.loads(jevent.json())))

    def onQueryIdle(self, jevent):  # noqa: N802
        self.pylistener.onQueryIdle(
            QueryIdleEvent.fromJson(json.loads(jevent.json())))

    def onQueryTerminated(self, jevent):  # noqa: N802
        self.pylistener.onQueryTerminated(
            QueryTerminatedEvent.fromJson(json.loads(jevent.json())))


class JetMetricsListener(StreamingQueryListener):
    """Attach with ``spark.streams.addListener(JetMetricsListener(cb))``;
    ``cb(query_name, metrics_dict)`` fires per micro-batch.

    Events reach the callbacks through one JSON hop each (see the module
    docstring for the exception-conversion cost this avoids).  One
    visible difference from a plain ``StreamingQueryListener``: a
    progress event's ``observedMetrics`` rows are flat ``Row``\\ s built
    from the JSON, as under Spark Connect, not rows unpickled from the
    JVM (nested rows come back as dicts).  This listener does not read
    them."""

    def __init__(self, callback: Callable[[str, dict], None] | None = None):
        self.callback = callback
        self.latest: dict[str, dict[str, float]] = {}

    @property
    def _jlistener(self):
        # read by StreamingQueryManager.addListener / removeListener; the
        # same wrapper object must come back for removeListener to match
        from pyspark import SparkContext

        if not hasattr(self, "_jlistenerobj"):
            self._jlistenerobj = (
                SparkContext._jvm.PythonStreamingQueryListenerWrapper(
                    _JsonEvents(self)))
        return self._jlistenerobj

    def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        m = progress_to_jet_metrics(event.progress)
        name = event.progress.name or str(event.progress.id)
        self.latest[name] = m
        if self.callback:
            self.callback(name, m)

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass
