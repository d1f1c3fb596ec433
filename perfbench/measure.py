"""Measurement helpers: percentile rules, process-tree CPU and peak RSS
from ``/proc``, host CPU steal, and the span tracer with Spark stage counters."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
import urllib.request
from datetime import datetime, timezone

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# --- percentiles -------------------------------------------------------------

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest nearest-rank percentile with at least ten samples above it.

    -> (value, percentile).  With n samples that is rank n - 10, i.e. the
    percentile 100 * (n - 10) / n.  Below eleven samples no percentile has
    ten samples beyond it; the maximum is reported, as percentile 100.
    """
    if not samples:
        raise ValueError("tail of an empty sample")
    s = sorted(samples)
    rank = len(s) - TAIL_BEYOND
    if rank < 1:
        return s[-1], 100.0
    return s[rank - 1], 100.0 * rank / len(s)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


# --- process tree ------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after the comm: state ppid ... utime(11) stime(12)
    # cutime(13) cstime(14) ... rss(21)
    cpu = sum(int(x) for x in f[11:15]) / _CLK
    return int(f[1]), cpu, int(f[21]) * _PAGE


def tree(root: int | None = None) -> dict[int, tuple[float, int]]:
    """{pid: (cpu_s, rss_bytes)} for `root` (default: this process) and
    every live descendant: the Python driver, the JVM it launched and the
    JVM's Python workers."""
    root = os.getpid() if root is None else root
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu() -> float:
    """CPU seconds of the tree so far.  A worker that exited is counted
    once its parent reaps it (cutime/cstime)."""
    return sum(c for c, _r in tree().values())


def reset_peak_rss() -> None:
    """Restart every tree process's resident-memory high-water mark."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss() -> int:
    """Sum over the tree of each process's resident-memory high-water
    mark (VmHWM, bytes) since reset_peak_rss.  The kernel keeps the mark,
    so no sampling thread competes with the driver while jobs run; the
    sum bounds the peak of the tree's total from above."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                total += next(int(ln.split()[1]) << 10 for ln in fh
                              if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu line (USER_HZ ticks)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total else 0.0


# --- tracing -----------------------------------------------------------------

STAGE_COUNTERS = ("tasks", "task_s", "cpu_s", "gc_s", "fetch_wait_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
_MB = float(1 << 20)


class Span:
    def __init__(self, tracer: "Tracer", name: str, parent: str):
        self.tracer, self.name, self.parent = tracer, name, parent
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}

    def count(self, **kw) -> None:
        self.counts.update(kw)

    @property
    def s(self) -> float:
        return self.end - self.start

    def __enter__(self) -> "Span":
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.tracer.spans.append(self)


class Tracer:
    """Spans kept in memory; `rows` gives them to the harness, which writes
    them to one JSON file at exit.

    Spans are opened by the benchmark around each call into a layer's
    public function; the caller persists and counts the layer's output
    inside the span so that lazy evaluation cannot fold the work into a
    later span.  Spark stage counters are read once at the end from the
    REST API and attributed to the span whose window holds the stage's
    submission time."""

    def __init__(self):
        self.spans: list[Span] = []
        self.job_id = ""     # the job whose spans are being recorded

    def span(self, name: str) -> Span:
        return Span(self, name, self.job_id)

    def stage_counters(self, spark) -> dict[int, dict[str, float]]:
        """{index of span: counters} from the Spark UI's REST API."""
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
                return json.load(r)

        out: dict[int, dict[str, float]] = {}
        skew: dict[int, float] = {}
        for st in get("stages?status=complete"):
            t = _gmt(st.get("submissionTime"))
            idx = next((i for i, sp in enumerate(self.spans)
                        if sp.start <= t <= sp.end), None)
            if idx is None:
                continue
            c = out.setdefault(idx, dict.fromkeys(STAGE_COUNTERS, 0.0))
            c["tasks"] += st["numCompleteTasks"]
            c["task_s"] += st["executorRunTime"] / 1e3
            c["cpu_s"] += st["executorCpuTime"] / 1e9
            c["gc_s"] += st["jvmGcTime"] / 1e3
            c["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
            c["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
            c["shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
            c["spill_mb"] += st["diskBytesSpilled"] / _MB
            if st["numCompleteTasks"] > 1:
                q = get(f"stages/{st['stageId']}/{st['attemptId']}/"
                        "taskSummary?quantiles=0.5,1.0")["executorRunTime"]
                skew[idx] = max(skew.get(idx, 1.0),
                                q[1] / q[0] if q[0] > 0 else 1.0)
            else:
                skew.setdefault(idx, 1.0)
        for idx, v in skew.items():
            out[idx]["task_skew"] = v
        return out

    def rows(self, counters: dict[int, dict[str, float]]) -> list[dict]:
        return [{"name": sp.name, "parent": sp.parent, "start": sp.start,
                 "end": sp.end, "s": sp.s, "counts": sp.counts,
                 "stages": counters.get(i, {})}
                for i, sp in enumerate(self.spans)]


def _gmt(s: str | None) -> float:
    if not s:
        return math.nan
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()
