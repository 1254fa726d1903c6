"""Pure measurement helpers: percentiles, /proc process-tree CPU,
time-window attribution, span self time and Spark metric strings.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

#: Every metric name the benchmark prints matches this.
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: Percentiles the tail rule may choose from, highest first.
TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)

#: The tail is the highest grid percentile with at least this many
#: samples beyond it.
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_pct(n: int) -> float:
    """Highest grid percentile with at least TAIL_BEYOND of `n` samples
    beyond it; 100 (the maximum) when too few samples leave no grid
    percentile that qualifies."""
    for pct in TAIL_GRID:
        if n * (100.0 - pct) / 100.0 >= TAIL_BEYOND:
            return pct
    return 100.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile used, sample count) under the tail rule."""
    pct = tail_pct(len(xs))
    return percentile(xs, pct), pct, len(xs)


# --------------------------------------------------------------------------
# /proc process tree
# --------------------------------------------------------------------------


class Proc(NamedTuple):
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own user+system plus that of reaped children
    hwm_mb: float  # peak resident set (VmHWM)


def parse_stat(text: str, clk_tck: int) -> tuple[int, int, str, float]:
    """(pid, ppid, comm, cpu_s) from one /proc/<pid>/stat line.

    comm may hold spaces and parentheses, so split at the LAST ')'.
    Fields after it start at field 3 (state): ppid is field 4,
    utime/stime/cutime/cstime are fields 14-17.
    """
    lp, rp = text.index("("), text.rindex(")")
    pid = int(text[:lp])
    comm = text[lp + 1 : rp]
    rest = text[rp + 2 :].split()
    ppid = int(rest[1])
    ticks = sum(int(v) for v in rest[11:15])
    return pid, ppid, comm, ticks / clk_tck


def read_procs() -> list[Proc]:
    """Every process visible in /proc (vanishing ones skipped)."""
    clk = os.sysconf("SC_CLK_TCK")
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                pid, ppid, comm, cpu = parse_stat(f.read(), clk)
            hwm = 0.0
            with open(f"/proc/{name}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm = int(line.split()[1]) / 1024.0
                        break
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        out.append(Proc(pid, ppid, comm, cpu, hwm))
    return out


def tree(procs: list[Proc], root: int) -> list[Proc]:
    """`root` and all its live descendants."""
    kids: dict[int, list[Proc]] = {}
    by_pid = {p.pid: p for p in procs}
    for p in procs:
        kids.setdefault(p.ppid, []).append(p)
    out, todo = [], [by_pid[root]] if root in by_pid else []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p.pid, []))
    return out


def split_cpu(procs: list[Proc], root: int) -> dict[str, float]:
    """CPU seconds of the tree under `root`, split into the driver
    Python process (root itself), the JVM (`java` processes) and Python
    workers (every other descendant: the pyspark daemon and the workers
    it forks and reaps)."""
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for p in tree(procs, root):
        if p.pid == root:
            out["driver_py"] += p.cpu_s
        elif p.comm == "java":
            out["jvm"] += p.cpu_s
        else:
            out["py_worker"] += p.cpu_s
    return out


def tree_hwm_mb(procs: list[Proc], root: int) -> float:
    """Sum of per-process peak RSS over the tree: an upper bound on the
    tree's simultaneous peak that no sampling interval can miss."""
    return sum(p.hwm_mb for p in tree(procs, root))


# --------------------------------------------------------------------------
# Attribution and spans
# --------------------------------------------------------------------------


def attribute(
    windows: list[tuple[int, float, float]], stamps: list[float]
) -> list[int | None]:
    """For each time stamp, the id of the shortest window
    (id, start, end) that contains it, or None.

    Operations run one at a time, so a Spark job belongs to the
    operation (and the layer span inside it) during which it was
    submitted, whichever thread submitted it.
    """
    out: list[int | None] = []
    for t in stamps:
        best, best_len = None, float("inf")
        for wid, start, end in windows:
            if start <= t <= end and end - start < best_len:
                best, best_len = wid, end - start
        out.append(best)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover.

    Spans are dicts with `id`, `parent`, `start`, `end`. Children may
    overlap (Spark jobs from two threads), so their cover is the union
    of their intervals clipped to the parent.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --------------------------------------------------------------------------
# Spark SQL metric strings
# --------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}


def parse_sql_metric(text: str) -> float:
    """Total of a Spark SQL timing or size metric, in seconds or MiB.

    The status store formats a metric either as a bare value ("81 ms",
    "2.6 MiB") or, when several tasks reported it, as
    "total (min, med, max (stageId: taskId))\\n4.7 s (1.1 s, ...)";
    the total is the first value of the last line.
    """
    line = text.strip().splitlines()[-1]
    num, unit = line.split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]
