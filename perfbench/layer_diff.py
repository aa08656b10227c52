"""Side-by-side per-layer diff of two benchmark runs.

    python3 perfbench/layer_diff.py A.json B.json

A and B are spans files of traced runs (``.perfbench_work/trace/*.json``).
Either may instead be the result file of a plain run
(``.perfbench_work/results/*-trace0.json``); paired with a traced run of the
same workload it gives the tracing overhead, traced op_p50_ms minus plain.

Prints every per-layer metric and self time of A and B with B-A, and flags
with ``!!`` each exact count (jobs, stages, tasks, shuffle and spill bytes,
state rows, received rows) that differs.  Exits 1 when one does.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from tracing import is_exact  # noqa: E402


def load(path):
    d = json.loads(Path(path).read_text())
    if "metrics" in d:  # spans file of a traced run
        return d["info"], d["metrics"], d.get("self_ms", {}), None
    return d["info"], {}, {}, d["end_to_end"]  # result file of a plain run


def fmt(v):
    if v is None:
        return "-"
    return f"{v:,.0f}" if abs(v) >= 1000 else f"{v:,.3f}"


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (ia, ma, sa, ea), (ib, mb, sb, eb) = (load(p) for p in argv)
    print(f"A: {ia['workload']} seed {ia['seed']} trace {ia['trace']}   "
          f"B: {ib['workload']} seed {ib['seed']} trace {ib['trace']}")
    if ia["workload"] != ib["workload"]:
        print("warning: different workloads", file=sys.stderr)
    rows, differing = [], []
    for title, a, b in (("per-layer", ma, mb), ("self ms", sa, sb)):
        if not (a or b):
            continue
        rows.append((f"-- {title}", None, None, ""))
        for k in sorted(set(a) | set(b)):
            va, vb = a.get(k), b.get(k)
            flag = ""
            if title == "per-layer" and is_exact(k) and va is not None and vb is not None \
                    and va != vb:
                flag = "!!"
                differing.append(k)
            rows.append((k, va, vb, flag))
    plain = ea or eb
    traced = mb if ea else ma
    if plain and traced:
        over = traced["trace.op_p50_ms"] - plain["op_p50_ms"]["value"]
        rows.append(("-- tracing overhead (traced op p50 - plain op p50)", None, None, ""))
        rows.append(("overhead_ms", None, over, ""))
    w = max(len(r[0]) for r in rows)
    for k, va, vb, flag in rows:
        if va is None and vb is None:
            print(k)
            continue
        d = vb - va if va is not None and vb is not None else None
        print(f"{k:<{w}}  {fmt(va):>14}  {fmt(vb):>14}  {fmt(d):>14} {flag}")
    if differing:
        print(f"exact counts differ: {', '.join(differing)}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
