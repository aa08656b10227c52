"""Benchmark for hazelcast_jet_spark: two closed-loop workloads on local[k].

Run from the root of a checkout:

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and writes
the spans to ``.perfbench_work/trace/<workload>-seed<seed>.json``.  See
``perfbench/README.md`` for the workloads and the layer map.
"""

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

#: local[k].  Ops here are 5-6 scheduler-bound jobs each, so 4 cores gave no
#: lower p50 than 2 while leaving no core for the Python process, the JVM's own
#: threads and noisy neighbours (README, "Choosing k").
CORES = 2
JVM_HEAP = "1g"
#: set-up is repeated this many times per run and setup_s is their median
SETUP_ROUNDS = 3
#: the tail is the highest percentile with at least this many samples beyond it
TAIL_BEYOND = 10
#: a run that has not finished by then exits non-zero without a result
WATCHDOG_S = 170


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def configure_environment(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK; must run
    before the JVM starts, because these are read only at launch."""
    if WORK.exists():
        for sub in ("input", "output", "eventlog", "tmp", "spark-local", "ckpt"):
            shutil.rmtree(WORK / sub, ignore_errors=True)
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # overrides spark.local.dir and any SPARK_LOCAL_DIRS of the caller
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"  # one file per app,
        conf["spark.eventLog.compress"] = "false"         # read as JSON lines
        conf["spark.eventLog.dir"] = (WORK / "eventlog").as_uri()
    # both JVMs (spark-submit's launcher and Spark's) read this one
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def tail(samples):
    """(value, percentile) of the highest percentile that has at least
    TAIL_BEYOND samples above it, or None when there are too few samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    s = sorted(samples)
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(workload, seed, tracer):
    """SETUP_ROUNDS rounds of session start + input generation + warm-up.
    Round 1 starts at process start and pays the JVM launch; later rounds
    restart the session in the same JVM.  Every round generates the same
    inputs; the reference results the checks need are computed once, in
    round 1, and not timed.  Returns (spark, round times)."""
    from hazelcast_jet_spark import get_spark

    rounds, spark = [], None
    t_round = T_PROCESS
    for r in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
            t_round = time.perf_counter()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        workload.generate(seed)
        t2 = time.perf_counter()
        t_ref = 0.0
        if r == 0:
            workload.reference()
            t_ref = time.perf_counter() - t2
            t2 += t_ref
        workload.warm_up(spark)
        t3 = time.perf_counter()
        rounds.append(t3 - t_round - t_ref)
        tracer.setup_round(session_s=t1 - t0, gen_s=t2 - t1, warmup_s=t3 - t2,
                           cold=(r == 0))
    return spark, rounds


def end_to_end(workload, samples, setup_rounds, host):
    ms = [s["ms"] for s in samples]
    tl = tail(ms)
    if tl is None:
        raise RuntimeError(f"only {len(ms)} ops completed; the tail needs more "
                           f"than {TAIL_BEYOND}; setup rounds {setup_rounds}")
    wall_s = sum(ms) / 1000.0
    return {
        "setup_s": {"value": statistics.median(setup_rounds), "unit": "s"},
        "op_p50_ms": {"value": statistics.median(ms), "unit": "ms"},
        "op_tail_ms": {"value": tl[0], "unit": "ms"},
        "rows_per_s": {"value": workload.rows_per_op * len(ms) / wall_s, "unit": "rows/s"},
        "peak_rss_mb": {"value": host["peak_rss_mb"], "unit": "MB"},
    }, {"tail_pct": round(tl[1], 2), "samples": len(ms),
        "samples_beyond_tail": TAIL_BEYOND}


def _watchdog(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    configure_environment(bool(args.trace))
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)

    sys.path.insert(0, str(ROOT))
    try:
        import hazelcast_jet_spark  # the package under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import hazelcast_jet_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not Path(hazelcast_jet_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: hazelcast_jet_spark comes from {hazelcast_jet_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2

    import hostinfo
    from tracing import Tracer
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload](WORK, args.seed)
    tracer = Tracer(WORK, enabled=bool(args.trace))
    spark = None
    marks = {}
    try:
        spark, setup_rounds = setup(workload, args.seed, tracer)
        marks["setup"] = time.perf_counter()
        host0 = hostinfo.snapshot()
        samples = workload.measure(spark, args.seconds, tracer)
        host = hostinfo.delta(host0, hostinfo.snapshot())
        marks["measure"] = time.perf_counter()
        tracer.collect_counts(spark)
        extra = workload.final_checks()
        marks["checks"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
    signal.alarm(0)
    marks["stop"] = time.perf_counter()

    failed = sum(not s["ok"] for s in samples)
    attempted = len(samples)
    correct = failed == 0 and extra["ok"]
    e2e, tail_info = end_to_end(workload, samples, setup_rounds, host)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "local_k": CORES, **tail_info, **workload.describe(),
            "setup_rounds_s": [round(r, 3) for r in setup_rounds],
            "setup_parts": tracer.setup_rounds,
            "host_steal_pct": host["steal_pct"], "host_cpu_s": host["cpu_s"],
            "checks": extra["checks"]}
    if args.trace:
        metrics = tracer.report(host, args.seed, info)
    else:
        metrics = e2e
    marks["report"] = time.perf_counter()
    t, info["phase_s"] = T_PROCESS, {}
    for k, v in marks.items():
        info["phase_s"][k], t = round(v - t, 3), v
    for name, m in e2e.items():
        print(f"# {name} = {m['value']:.4f} {m['unit']}", file=sys.stderr)
    print("# " + json.dumps(info), file=sys.stderr)
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"info": info, "end_to_end": e2e, "samples": samples}, indent=1))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    sys.exit(main())
