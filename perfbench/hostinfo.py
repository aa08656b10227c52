"""Host context for a run, read from /proc: CPU steal over the measured
window, CPU seconds of this process tree (Python process, JVM and Spark's
Python workers), and the peak resident memory of the Python process plus its
JVM."""

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int):
    """pid of ``root`` and of every live descendant."""
    children = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of a process and its reaped children, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(vals[:8]), vals[7]


def _is_driver(pid: int) -> bool:
    """This process or its JVM.  Spark's Python workers are left out of the
    memory sum: how many are alive at the snapshot varies from run to run,
    and each one's VmHWM counts the pages it shares with its parent again."""
    if pid == os.getpid():
        return True
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip() == "java"


def snapshot() -> dict:
    total, steal = _cpu_times()
    cpu = rss = 0.0
    for pid in _tree(os.getpid()):
        try:
            cpu += _proc_cpu_s(pid)
            if _is_driver(pid):
                rss += _vm_hwm_kb(pid)
        except (OSError, ValueError):
            continue  # exited between the listing and the read
    return {"total": total, "steal": steal, "cpu_s": cpu, "hwm_kb": rss}


def delta(a: dict, b: dict) -> dict:
    """Steal % and tree CPU seconds between two snapshots; driver peak RSS
    at ``b`` (VmHWM is each process's own peak, so their sum bounds the
    pair's)."""
    dt = b["total"] - a["total"]
    return {
        "steal_pct": 100.0 * (b["steal"] - a["steal"]) / dt if dt else 0.0,
        "cpu_s": b["cpu_s"] - a["cpu_s"],
        "peak_rss_mb": b["hwm_kb"] / 1024.0,
    }
