"""The two workloads.  Each generates its inputs from the seed, runs closed
loop ops through the package's public API, and checks every op's output
against ``oracle``.  README.md says why each workload was chosen."""

import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

import numpy as np

import oracle


def _write_parquet(path: Path, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))


def _read_parquet(path: Path):
    import pyarrow.parquet as pq

    return pq.read_table(str(path))


class GraphIterative:
    """pagerank, label propagation and wcc in a fixed rotation over one
    power-law edge list, one client in a closed loop; each op is dominated by
    what the operator does while it is built: eager jobs, collects and the
    numpy rounds."""

    name = "graph_iterative"
    EDGES = 10_000
    NODES = 2_500
    DEGREE_EXP = 0.8
    KINDS = ("pagerank", "lpa", "wcc")
    PAGERANK_ITERS, DAMPING = 5, 0.85
    LPA_ITERS = 3
    rows_per_op = EDGES
    #: a run times at least this many ops, however long they take: 11
    #: rotations, so that the tail (the 11th-largest op) is always a wcc op,
    #: the slowest of the three, instead of flipping between wcc and pagerank
    MIN_OPS = 33
    #: untimed rotations per set-up round; with one, the JIT was still
    #: compiling through the first 3-5 timed rotations, which ran 30-50%
    #: slower than the rest and moved the p50 between the clusters
    WARMUP_ROTATIONS = 2

    def __init__(self, work: Path, seed: int):
        self.work = work  # the seed reaches generate()
        self.inp, self.out = work / "input", work / "output"

    def warm_up(self, spark):
        """WARMUP_ROTATIONS untimed rotations; the first also pays wcc's
        first call in a new session, which costs 1.5-2 s more than the next
        ones."""
        from tracing import NULL_OP

        for i in range(len(self.KINDS) * self.WARMUP_ROTATIONS):
            if not self.check(i, self.op(spark, i, NULL_OP)):
                raise RuntimeError(f"{self.name}: warm-up op {i} gave a wrong result")

    def measure(self, spark, seconds, tracer):
        """Ops until ``seconds`` have passed and MIN_OPS are done, finishing
        the rotation; every op writes its own output, checked after the timed
        window."""
        done, i = [], 0
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or i < self.MIN_OPS or i % len(self.KINDS):
            kind = self.kind(i)
            tr = tracer.op(f"op{i}", self.unit(i))
            t_epoch, t0 = time.time(), time.perf_counter()
            try:
                out = self.op(spark, i, tr)
            except Exception as e:  # a failed op counts against attempted
                print(f"# op {i} ({kind}) failed: {e!r}"[:500], file=sys.stderr)
                out = None
            done.append((i, kind, (time.perf_counter() - t0) * 1000.0, out, tr, t_epoch))
            i += 1
        samples = []
        for i, kind, ms, out, tr, t_epoch in done:
            try:
                ok = out is not None and self.check(i, out)
            except Exception as e:  # an unreadable output is a wrong one
                print(f"# op {i} ({kind}) output unreadable: {e!r}"[:500], file=sys.stderr)
                ok = False
            samples.append({"ms": ms, "ok": ok, "kind": kind})
            tracer.record(f"op{i}", kind, ms, ok, tr, t_epoch)
        return samples

    def final_checks(self):
        return {"ok": True, "checks": {}}

    def kind(self, i):
        return self.KINDS[i % 3]

    def unit(self, i):
        return i // 3  # traced and untraced ops alternate by whole rotation

    def generate(self, seed):
        shutil.rmtree(self.inp, ignore_errors=True)
        self.inp.mkdir(parents=True)
        rng = np.random.default_rng(seed)
        w = np.arange(1, self.NODES + 1, dtype=np.float64) ** -self.DEGREE_EXP
        w /= w.sum()
        ids = rng.permutation(self.NODES).astype(np.int64)
        draw = int(self.EDGES * 1.5)
        a = ids[rng.choice(self.NODES, size=draw, p=w)]
        b = ids[rng.choice(self.NODES, size=draw, p=w)]
        pairs = np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1)[a != b]
        _, first = np.unique(pairs, axis=0, return_index=True)
        pairs = pairs[np.sort(first)][: self.EDGES]  # first occurrences, drawn order
        if len(pairs) < self.EDGES:
            raise RuntimeError("edge generator produced too few distinct edges")
        self.src, self.dst = pairs[:, 0].copy(), pairs[:, 1].copy()
        _write_parquet(self.inp / "edges.parquet", {"src": self.src, "dst": self.dst})

    def reference(self):
        self.expected = {
            "pagerank": oracle.pagerank(self.src, self.dst, self.PAGERANK_ITERS, self.DAMPING),
            "lpa": oracle.label_propagation(self.src, self.dst, self.LPA_ITERS),
            "wcc": oracle.wcc(self.src, self.dst),
        }

    def op(self, spark, i, tr):
        from hazelcast_jet_spark import FileSources, Pipeline, Sinks
        from hazelcast_jet_spark.operators import graph

        kind = self.kind(i)
        run = {
            "pagerank": lambda e: graph.pagerank(e, iters=self.PAGERANK_ITERS,
                                                 damping=self.DAMPING),
            "lpa": lambda e: graph.label_propagation(e, iters=self.LPA_ITERS),
            "wcc": graph.wcc,
        }[kind]
        sc = spark.sparkContext
        path = self.out / f"op{i}"
        with tr.span("build", sc):
            p = Pipeline.create(spark)
            edges = p.read_from(FileSources.files(str(self.inp / "edges.parquet")))
            stage = p.read_from(run(edges.df))
        tr.plan(stage.df)
        with tr.span("sink", sc):
            stage.write_to(Sinks.map(str(path)))
        return kind, path

    def check(self, i, out):
        kind, path = out
        t = _read_parquet(path).to_pydict()
        if kind == "wcc":
            return dict(zip(t["node"], t["component"])) == self.expected["wcc"]
        nodes, want = self.expected[kind]
        col = "pagerank" if kind == "pagerank" else "label"
        if len(t["node"]) != len(nodes):
            return False
        order = np.argsort(np.asarray(t["node"], dtype=np.int64))
        got_nodes = np.asarray(t["node"], dtype=np.int64)[order]
        got = np.asarray(t[col])[order]
        if not np.array_equal(got_nodes, nodes):
            return False
        if kind == "pagerank":  # output is rounded to 9 digits
            return bool(np.all(np.abs(got - want) <= 1e-9))
        return bool(np.array_equal(got.astype(np.int64), want))

    def describe(self):
        return {"input": f"{self.EDGES} edges over {self.NODES} nodes "
                         f"(endpoint weight rank^-{self.DEGREE_EXP})"}


class StreamWindow:
    """NEXMark Q5 first stage on a rate-micro-batch source; an op is the
    interval between consecutive completions of the benchmark's sink."""

    name = "stream_window"
    ROWS_PER_BATCH = 20_000
    KEYS = 10_000
    STEP_MS = 1000           # event time advance per micro-batch
    WINDOW, SLIDE = "2 seconds", "1 second"
    SKIP_BATCHES = 2         # batches of a fresh query before timing starts
    WARMUP_BATCHES = 3       # batches of the untimed warm-up query
    MIN_OPS = 25             # timed batches at least, however long they take
    rows_per_op = ROWS_PER_BATCH

    def __init__(self, work: Path, seed: int):
        self.work = work
        rng = np.random.default_rng(seed)
        self.key_offset = int(rng.integers(0, self.KEYS))
        self.start_ms = (1_600_000_000 + int(rng.integers(0, 10**7))) * 1000
        self.queries = 0

    def generate(self, seed):
        pass  # the input is the source's row sequence, fixed by the seed in __init__

    def reference(self):
        pass  # closed form, see oracle.window_counts

    def _start(self, spark, on_batch, listener_cb):
        from pyspark.sql import functions as F

        from hazelcast_jet_spark import AggregateOperations as A
        from hazelcast_jet_spark import Pipeline, Sinks, WindowDefinition
        from hazelcast_jet_spark.metrics import JetMetricsListener

        self.queries += 1
        ckpt = self.work / "ckpt" / f"q{self.queries}"
        source = lambda s: (s.readStream.format("rate-micro-batch")  # noqa: E731
                            .option("rowsPerBatch", self.ROWS_PER_BATCH)
                            .option("numPartitions", spark.sparkContext.defaultParallelism)
                            .option("startTimestamp", self.start_ms)
                            .option("advanceMillisPerBatch", self.STEP_MS)
                            .load())
        listener = JetMetricsListener(listener_cb)
        spark.streams.addListener(listener)
        p = Pipeline.create(spark)
        q = (p.read_from(source)
             .add_timestamps("timestamp", "0 seconds")
             .with_column("key", (F.col("value") + self.key_offset) % self.KEYS)
             .grouping_key("key")
             .window(WindowDefinition.sliding(self.WINDOW, self.SLIDE))
             .aggregate(n=A.counting(), mx=A.max_of("value"))
             .write_to(Sinks.for_each_batch(on_batch, checkpoint=str(ckpt))))
        return q, listener

    def _run(self, spark, n_batches=None, seconds=None, tracer=None):
        """Run one query: n_batches completions (warm-up) or SKIP_BATCHES then
        ``seconds`` of timed batches.  Returns the per-batch records."""
        from tracing import NULL_OP

        done = threading.Event()
        batches = []   # (batch_id, completion perf_counter, arrow table, trace)
        received = []
        state = {"t_start": None}

        def on_batch(bdf, bid):
            tr = (tracer.op(f"b{bid}", bid)
                  if tracer is not None and state["t_start"] is not None else NULL_OP)
            with tr.span("sink", bdf.sparkSession.sparkContext):
                tbl = bdf.toArrow()
            now = time.perf_counter()
            batches.append((bid, now, tbl, tr))
            if n_batches is not None and len(batches) >= n_batches:
                done.set()
            elif seconds is not None:
                if state["t_start"] is None and len(batches) >= self.SKIP_BATCHES:
                    state["t_start"] = now
                elif (state["t_start"] is not None and now - state["t_start"] >= seconds
                      and len(batches) - self.SKIP_BATCHES >= self.MIN_OPS):
                    done.set()

        q, listener = self._start(spark, on_batch,
                                  lambda name, m: received.append(m["receivedCount"]))
        try:
            while not done.wait(0.05):
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
        finally:
            q.stop()
        last = q.lastProgress
        n_prog = (last["batchId"] + 1) if last else 0
        deadline = time.perf_counter() + 10
        while len(received) < n_prog and time.perf_counter() < deadline:
            time.sleep(0.05)  # progress events reach the listener asynchronously
        spark.streams.removeListener(listener)
        return batches, q, received, n_prog

    def warm_up(self, spark):
        batches, *_ = self._run(spark, n_batches=self.WARMUP_BATCHES)
        bad = [b for b, _, tbl, _ in batches if not self._batch_ok(b, tbl)]
        if bad:
            raise RuntimeError(f"stream_window: warm-up batches {bad} gave wrong windows")

    def measure(self, spark, seconds, tracer):
        batches, q, received, n_prog = self._run(spark, seconds=seconds, tracer=tracer)
        progress = {p["batchId"]: p for p in q.recentProgress}
        samples = []
        self.emitted = []
        for (_, t_prev, _, _), (bid, t, tbl, tr) in zip(batches, batches[1:]):
            if bid < self.SKIP_BATCHES:
                continue
            ms = (t - t_prev) * 1000.0
            ok = self._batch_ok(bid, tbl)
            samples.append({"ms": ms, "ok": ok, "kind": "batch"})
            tracer.record(f"b{bid}", "batch", ms, ok, tr, None)
        for bid, _, tbl, _ in batches:
            self.emitted.extend(self._window_starts(tbl))
        self.received_total = int(sum(received))
        self.expected_rows = n_prog * self.ROWS_PER_BATCH
        tracer.stream = _stream_layers([progress[b] for b, *_ in batches
                                        if b >= self.SKIP_BATCHES and b in progress])
        # per batch, so that it repeats between runs; the run total is checked
        # against the rows generated in final_checks
        tracer.stream["metrics"]["metrics.received_count"] = (
            statistics.median(received) if received else 0)
        return samples

    def final_checks(self):
        starts = sorted(set(self.emitted))
        contiguous = starts == list(range(starts[0], starts[0] + len(starts))) if starts else False
        received_ok = self.received_total == self.expected_rows
        return {"ok": contiguous and received_ok,
                "checks": {"metrics.received_count": self.received_total,
                           "rows_generated": self.expected_rows,
                           "windows_contiguous": contiguous,
                           "windows_emitted": len(starts)}}

    @staticmethod
    def _window_starts(tbl):
        if tbl.num_rows == 0:
            return []
        ws = tbl.column("window_start").cast("int64").to_numpy() // 1_000_000
        return sorted(set(ws.tolist()))

    def _batch_ok(self, bid, tbl):
        """Every window a batch emits holds the closed-form count and max for
        every key."""
        if tbl.num_rows == 0:
            return True
        t0 = self.start_ms // 1000
        ws = tbl.column("window_start").cast("int64").to_numpy() // 1_000_000
        key = tbl.column("key").to_numpy()
        n = tbl.column("n").to_numpy()
        mx = tbl.column("mx").to_numpy()
        for w in np.unique(ws):
            covered = [b for b in (w - t0, w - t0 + 1) if 0 <= b]
            if not covered or max(covered) >= bid:
                return False  # emitted before the window could close
            sel = ws == w
            if sel.sum() != self.KEYS:
                return False
            order = np.argsort(key[sel])
            if not np.array_equal(key[sel][order], np.arange(self.KEYS)):
                return False
            want_n, want_mx = oracle.window_counts(covered, self.ROWS_PER_BATCH,
                                                   self.KEYS, self.key_offset)
            if not (np.array_equal(n[sel][order], want_n)
                    and np.array_equal(mx[sel][order], want_mx)):
                return False
        return True

    def describe(self):
        return {"input": f"rate-micro-batch {self.ROWS_PER_BATCH} rows/batch, "
                         f"{self.KEYS} keys, +{self.STEP_MS} ms event time/batch, "
                         f"sliding {self.WINDOW}/{self.SLIDE}"}


def _stream_layers(progress):
    """Medians over the timed batches of the durationMs phases and of the
    state operator's metrics."""

    def med(xs):
        return statistics.median(xs) if xs else 0

    dur = [p.get("durationMs", {}) for p in progress]
    st = [(p.get("stateOperators") or [{}])[0] for p in progress]
    metrics = {
        "stream.add_batch_ms": med([d.get("addBatch", 0) for d in dur]),
        "stream.query_planning_ms": med([d.get("queryPlanning", 0) for d in dur]),
        "stream.wal_commit_ms": med([d.get("walCommit", 0) for d in dur]),
        "stream.commit_offsets_ms": med([d.get("commitOffsets", 0) for d in dur]),
        "stream.latest_offset_ms": med([d.get("latestOffset", 0) for d in dur]),
        "state.rows_total": med([s.get("numRowsTotal", 0) for s in st]),
        "state.rows_updated": med([s.get("numRowsUpdated", 0) for s in st]),
        "state.rows_removed": med([s.get("numRowsRemoved", 0) for s in st]),
        "state.memory_bytes": med([s.get("memoryUsedBytes", 0) for s in st]),
        "state.commit_ms": med([s.get("commitTimeMs", 0) for s in st]),
    }
    batches = [{"batchId": p["batchId"], "durationMs": d, "state": s}
               for p, d, s in zip(progress, dur, st)]
    return {"metrics": metrics, "batches": batches}


WORKLOADS = {w.name: w for w in (GraphIterative, StreamWindow)}
