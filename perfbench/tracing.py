"""Spans and counts for the traced run, taken from outside the package.

A traced run alternates traced and untraced ops (the workload decides the
unit: one op, or one rotation of the graph operators).  A traced op records
spans around the calls into each layer and runs the Spark jobs of each span
under its own job group, so that after the run

* job, stage and task counts come from ``statusTracker`` per job group, and
* job intervals and task metrics come from the Spark event log, which only
  the traced run enables.

The tracing overhead is the p50 of traced ops minus the p50 of the untraced
ops of the same run.  It includes the extra planning ``OpTrace.plan`` forces.
Both halves run with the event log on, so its own cost shows only against a
plain run (``layer_diff.py`` with a plain result file).
"""

import json
import statistics
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

#: every per-layer metric in BENCHMARK.json; a layer a workload does not
#: exercise reports 0
LAYER_METRICS = {
    "session.start_s": "s", "session.cold_start_s": "s", "input.gen_s": "s",
    "build.ms": "ms", "build.jobs": "count", "build.tasks": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "sink.commit_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.rows_removed": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "metrics.received_count": "count",
    "host.steal_pct": "%", "host.cpu_s": "s",
    "trace.op_p50_ms": "ms", "trace.overhead_ms": "ms",
}
GRAPH_OPS = ("pagerank", "lpa", "wcc")
for _op in GRAPH_OPS:
    for _m, _u in (("build.ms", "ms"), ("build.jobs", "count"), ("exec.ms", "ms"),
                   ("exec.jobs", "count"), ("exec.stages", "count"),
                   ("exec.tasks", "count")):
        LAYER_METRICS[f"{_m}.{_op}"] = _u

#: per-layer medians are taken over the first this-many traced ops of each
#: kind, so that two runs compare the same ops even when one completed more
#: (a stream batch's shuffle bytes depend on its batch id)
LAYER_OPS = 5

#: counts that must repeat exactly between traced runs of the same code
EXACT = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "state.rows", "received_count")


def is_exact(name: str) -> bool:
    return any(e in name for e in EXACT)


def _median(xs):
    return statistics.median(xs) if xs else 0


class _NullOp:
    traced = False

    def span(self, name, sc=None):
        return nullcontext()

    def plan(self, df):
        pass


NULL_OP = _NullOp()


class OpTrace:
    """Spans of one traced op; span names are build / plan / sink."""

    traced = True

    def __init__(self, tracer, op_id: str):
        self.tracer, self.op_id = tracer, op_id
        self.spans = []
        self.phases = {}

    @contextmanager
    def span(self, name, sc=None):
        """Time a call into one layer; with ``sc`` the Spark jobs it fires run
        under the job group ``<op>.<name>``."""
        group = f"{self.op_id}.{name}"
        if sc is not None:
            sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.groups.setdefault(group, {})
            self.spans.append({"name": name, "t0": t0, "t1": t1,
                               "group": group if sc is not None else None})

    def plan(self, df):
        """Catalyst phases (QueryPlanningTracker) of the stage's DataFrame,
        forced before the sink runs.  The sink's write plans the same
        DataFrame again under its own QueryExecution, so these time a
        separate planning of the executed query, and a traced op pays for
        planning twice (it shows in ``trace.overhead_ms``)."""
        with self.span("plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                self.phases[kv._1()] = kv._2().durationMs()


class Tracer:
    def __init__(self, work: Path, enabled: bool):
        self.work = work
        self.enabled = enabled
        self.setup_rounds = []
        self.ops = []          # one dict per op, traced or not
        self.groups = {}       # job group -> counts / event-log metrics
        self.stream = None     # per-batch progress records (stream_window)

    def setup_round(self, **kw):
        self.setup_rounds.append(kw)

    def op(self, op_id: str, unit: int):
        """The trace of one op: real for even interleave units of a traced
        run, a no-op otherwise."""
        if self.enabled and unit % 2 == 0:
            return OpTrace(self, op_id)
        return NULL_OP

    def record(self, op_id, kind, ms, ok, trace, start_epoch):
        self.ops.append({"op": op_id, "kind": kind, "ms": ms, "ok": ok,
                         "traced": trace.traced, "t0": start_epoch,
                         "spans": getattr(trace, "spans", []),
                         "phases": getattr(trace, "phases", {})})

    # -- after the measured window -------------------------------------

    def collect_counts(self, spark):
        """Jobs, stages and tasks per traced job group, from statusTracker
        once the listener bus has drained."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        for group, c in self.groups.items():
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            c.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def load_event_log(self):
        """Job intervals and task metrics per job group, from the event log
        of the measured session (the newest log; set-up rounds wrote the
        others)."""
        logs = sorted((self.work / "eventlog").glob("*"), key=lambda p: p.stat().st_mtime)
        if not logs:
            raise RuntimeError("traced run wrote no Spark event log")
        stage_group, jobs, ends = {}, {}, {}
        with open(logs[-1]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in self.groups:
                        jobs[ev["Job ID"]] = (g, ev["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in self.groups:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if g is None or tm is None:
                        continue
                    c = self.groups[g]
                    sr = tm.get("Shuffle Read Metrics", {})
                    for key, v in (
                        ("task_cpu_ms", tm.get("Executor CPU Time", 0) / 1e6),
                        ("gc_ms", tm.get("JVM GC Time", 0)),
                        ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0)
                         + sr.get("Local Bytes Read", 0)),
                        ("shuffle_write_bytes",
                         tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
                        ("spill_bytes", tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0)),
                    ):
                        c[key] = c.get(key, 0) + v
        intervals = {}
        for jid, (g, t0) in jobs.items():
            if jid in ends:
                intervals.setdefault(g, []).append((t0 / 1000.0, ends[jid] / 1000.0))
        for g, iv in intervals.items():
            self.groups[g]["job_intervals"] = sorted(iv)
            self.groups[g]["exec_ms"] = _union_ms(iv)

    # -- report ---------------------------------------------------------

    def report(self, host, seed, info):
        """Per-layer metrics (medians over traced ops) and the spans file."""
        self.load_event_log()
        traced = [o for o in self.ops if o["traced"]]
        untraced = [o for o in self.ops if not o["traced"]]
        m = dict.fromkeys(LAYER_METRICS, 0)
        m["session.start_s"] = _median([r["session_s"] for r in self.setup_rounds])
        m["session.cold_start_s"] = self.setup_rounds[0]["session_s"]
        m["input.gen_s"] = _median([r["gen_s"] for r in self.setup_rounds])
        m["host.steal_pct"] = host["steal_pct"]
        m["host.cpu_s"] = host["cpu_s"]
        m["trace.op_p50_ms"] = _median([o["ms"] for o in traced])
        m["trace.overhead_ms"] = m["trace.op_p50_ms"] - _median([o["ms"] for o in untraced])

        for o in traced:
            o["layers"] = self._op_layers(o)
        by_kind = {}
        for o in traced:
            by_kind.setdefault(o["kind"], []).append(o)
        first = [o for ops in by_kind.values() for o in ops[:LAYER_OPS]]
        self._fill(m, "", first)
        for kind in set(by_kind) & set(GRAPH_OPS):
            self._fill(m, "." + kind, by_kind[kind][:LAYER_OPS],
                       only=("build.ms", "build.jobs", "exec.ms", "exec.jobs",
                             "exec.stages", "exec.tasks"))
        if self.stream is not None:
            m.update(self.stream["metrics"])

        varying = sorted(
            f"{name}@{kind}" for name in ("build.jobs", "build.tasks", "exec.jobs",
                                          "exec.stages", "exec.tasks")
            for kind, ops in by_kind.items()
            if len({o["layers"][name] for o in ops}) > 1)
        out = self.work / "trace"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{info['workload']}-seed{seed}.json"
        path.write_text(json.dumps({
            "info": info, "setup_rounds": self.setup_rounds, "metrics": m,
            "self_ms": self._self_times(first),
            "counts_varying_between_ops": varying, "ops": self.ops,
            "stream_batches": self.stream["batches"] if self.stream else None,
        }, indent=1, default=str))
        info["spans_file"] = str(path.relative_to(self.work.parent))
        return {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in m.items()}

    def _op_layers(self, o):
        """Per-layer numbers of one traced op: span times, counts from its job
        groups, and self times (``self.*``: a span minus its children)."""
        by = {s["name"]: s for s in o["spans"]}
        lay = {}
        for name in ("build", "plan", "sink"):
            s = by.get(name)
            g = self.groups.get(s["group"], {}) if s and s["group"] else {}
            lay[name] = (s["t1"] - s["t0"]) * 1000 if s else 0
            lay[name + ".exec"] = g.get("exec_ms", 0)
            for k in ("jobs", "stages", "tasks", "task_cpu_ms", "gc_ms",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                lay[f"{name}.{k}"] = g.get(k, 0)
        return {
            "build.ms": lay["build"],
            "build.jobs": lay["build.jobs"],
            "build.tasks": lay["build.tasks"],
            "plan.analysis_ms": o["phases"].get("analysis", 0),
            "plan.optimization_ms": o["phases"].get("optimization", 0),
            "plan.planning_ms": o["phases"].get("planning", 0),
            "exec.ms": lay["sink.exec"],
            "exec.jobs": lay["sink.jobs"], "exec.stages": lay["sink.stages"],
            "exec.tasks": lay["sink.tasks"], "exec.task_cpu_ms": lay["sink.task_cpu_ms"],
            "exec.gc_ms": lay["sink.gc_ms"],
            "exec.shuffle_read_bytes": lay["sink.shuffle_read_bytes"],
            "exec.shuffle_write_bytes": lay["sink.shuffle_write_bytes"],
            "exec.spill_bytes": lay["sink.spill_bytes"],
            # the sink span's self time: the part of the sink call no job covers
            "sink.commit_ms": max(lay["sink"] - lay["sink.exec"], 0.0),
            "self.op": o["ms"] - lay["build"] - lay["plan"] - lay["sink"],
            "self.build": max(lay["build"] - lay["build.exec"], 0.0),
            "self.build_jobs": lay["build.exec"],
            "self.plan": lay["plan"],
            "self.sink": max(lay["sink"] - lay["sink.exec"], 0.0),
            "self.exec": lay["sink.exec"],
        }

    def _self_times(self, traced):
        """Median self time per layer over the traced ops.  For the stream the
        op is a batch interval whose children are the durationMs phases, and
        the benchmark's sink runs inside addBatch."""
        if self.stream is None:
            keys = [k for k in (traced[0]["layers"] if traced else {}) if k.startswith("self.")]
            return {k[5:]: _median([o["layers"][k] for o in traced]) for k in keys}
        phases = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        dur = {b["batchId"]: b["durationMs"] for b in self.stream["batches"]}
        rows = []
        for o in traced:
            d = dur.get(int(o["op"][1:]))
            if d is None:
                continue
            la = o["layers"]
            sink_span = la["self.sink"] + la["self.exec"]
            trig = d.get("triggerExecution", 0)
            row = {"batch": o["ms"] - trig,
                   "triggerExecution": trig - sum(d.get(p, 0) for p in phases),
                   "addBatch": d.get("addBatch", 0) - sink_span,
                   "sink": la["self.sink"], "exec": la["self.exec"]}
            row.update({p: d.get(p, 0) for p in phases if p != "addBatch"})
            rows.append(row)
        return {k: _median([r[k] for r in rows]) for k in (rows[0] if rows else {})}

    @staticmethod
    def _fill(m, suffix, ops, only=None):
        if not ops:
            return
        for name in ops[0]["layers"]:
            if (only is None or name in only) and name + suffix in m:
                m[name + suffix] = _median([o["layers"][name] for o in ops])


def _union_ms(intervals):
    """Length in ms of the union of (t0, t1) second intervals."""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total * 1000.0
