"""Stdlib-only measurement helpers for the benchmark.

Nothing here imports Spark or sparktiles, so every helper is unit-tested
without a session (see test_harness.py):

- ``summarize``: median plus the highest percentile that still has at
  least ten samples beyond it, with the sample count.
- ``Tracer``: in-memory spans with parent links; a span's self time is
  its duration minus the part of it that its child spans cover.
- ``parse_event_log``: groups ``SparkListenerTaskEnd`` metrics of an
  uncompressed Spark event log by the job group each job ran under.
- ``ProcTree``: RSS and CPU time of this process and all of its
  descendants (the JVM and its Python workers), read from ``/proc``.
- ``canon`` / ``digest_rows``: the order-insensitive result digest.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# Percentiles considered by ``summarize``, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(sorted_vals, p: float) -> float:
    """Linear-interpolated percentile of an ascending list."""
    if not sorted_vals:
        raise ValueError("no samples")
    k = (len(sorted_vals) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least MIN_BEYOND of n samples above it."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return None


def summarize(samples) -> dict:
    """{"n", "median", "p", "p_value"}; p is None when too few samples
    exist for any tail percentile to have ten samples beyond it."""
    vals = sorted(samples)
    p = tail_percentile(len(vals))
    return {
        "n": len(vals),
        "median": statistics.median(vals),
        "p": p,
        "p_value": percentile(vals, p) if p is not None else None,
    }


# ----------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory: name, group, start, end, parent index.

    ``on_group(group)`` is called when the innermost active group
    changes, so the caller can tag Spark jobs (``spark.jobGroup.id``).
    A disabled tracer yields without recording or tagging anything.
    """

    def __init__(self, enabled: bool = True, on_group=None):
        self.enabled = enabled
        self.on_group = on_group
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group_of(self, idx: int | None):
        while idx is not None:
            g = self.spans[idx]["group"]
            if g is not None:
                return g
            idx = self.spans[idx]["parent"]
        return None

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "group": group, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        if self.on_group and group is not None:
            self.on_group(group)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            if self.on_group and group is not None:
                self.on_group(self._group_of(parent))

    def self_times(self, root: str | None = None) -> dict:
        """name -> summed self time (duration minus child coverage),
        over all spans or only those inside spans named ``root``."""
        return self_times(self.spans, root)

    def totals(self) -> dict:
        """name -> summed span duration."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _under(spans, i: int, root: str) -> bool:
    while i is not None:
        if spans[i]["name"] == root:
            return True
        i = spans[i]["parent"]
    return False


def self_times(spans, root: str | None = None) -> dict:
    """Per span name: sum of (duration - union of its children's
    intervals clipped to the span). With root, only spans named root
    and their descendants count."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if root is not None and not _under(spans, i, root):
            continue
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(i, [])]
        kids = [(a, b) for a, b in kids if b > a]
        own = (s["end"] - s["start"]) - _covered(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# ------------------------------------------------------------- event log

STAGE_STATS = ("exec_run_s", "exec_cpu_s", "shuffle_write_mb",
               "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb", "tasks",
               "task_skew")
MB = float(1 << 20)


def parse_event_log(lines) -> dict:
    """Group task metrics of a Spark event log by job group.

    lines: iterable of JSON strings (one listener event each). Returns
    group -> {jobs, exec_run_s, exec_cpu_s, shuffle_write_mb,
    shuffle_read_mb, spill_mb, peak_exec_mem_mb, tasks, task_skew}.
    task_skew is the largest per-stage max/median executor run time.
    Jobs without a group are ignored.
    """
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stage_runs: dict[int, list] = {}
    acc: dict[str, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group:
                continue
            jobs[group] = jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            group = stage_group.get(sid)
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            a = acc.setdefault(group, {k: 0.0 for k in STAGE_STATS})
            run_ms = m.get("Executor Run Time", 0)
            a["exec_run_s"] += run_ms / 1e3
            a["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            a["peak_exec_mem_mb"] = max(
                a["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / MB)
            a["tasks"] += 1
            stage_runs.setdefault(sid, []).append(run_ms)
    for sid, runs in stage_runs.items():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0:
            a = acc[stage_group[sid]]
            a["task_skew"] = max(a["task_skew"], max(runs) / med)
    for group, n in jobs.items():
        acc.setdefault(group, {k: 0.0 for k in STAGE_STATS})["jobs"] = n
    return acc


def _natural(path: str):
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", path)]


def read_event_logs(log_dir: str) -> dict:
    """Parse every event log file under log_dir; rolling logs
    (eventlog_v2_*/events_<n>_*) are read in part order."""
    paths = [os.path.join(root, n) for root, _, names in os.walk(log_dir)
             for n in names if not n.startswith(("appstatus", "."))]
    lines = []
    for path in sorted(paths, key=_natural):
        with open(path, encoding="utf-8") as f:
            lines.extend(f)
    return parse_event_log(lines)


# ------------------------------------------------------------ /proc tree

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        raw = f.read()
    # comm may hold spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every live descendant pid."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_usage(root: int) -> tuple[dict, float]:
    """({pid: rss MB}, cpu s) over root and its live descendants. CPU
    includes reaped children (cutime/cstime), so workers that exited
    and were waited for still count."""
    rss, cpu = {}, 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
            with open(f"/proc/{pid}/statm", encoding="ascii") as fm:
                rss[pid] = int(fm.read().split()[1]) * _PAGE / MB
        except (OSError, ValueError, IndexError):
            continue
        cpu += sum(int(x) for x in f[11:15])
    return rss, cpu / _TICK


class ProcTree:
    """Background sampler of the process tree's RSS; while ``sampling``
    is set it tracks the mean and the peak (with what the peak was
    made of: process count and largest process)."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts = (0, 0.0)
        self._sum, self._n = 0.0, 0
        self.sampling = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.interval):
            if self.sampling:
                rss, _ = tree_usage(self.root)
                total = sum(rss.values())
                self._sum += total
                self._n += 1
                if total > self.peak_mb:
                    self.peak_mb = total
                    self.peak_parts = (len(rss), max(rss.values()))

    def mean_mb(self) -> float:
        return self._sum / self._n if self._n else 0.0

    def cpu_s(self) -> float:
        return tree_usage(self.root)[1]

    def stop(self):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- digest

def canon(v) -> str:
    """Canonical text of one result cell (NaN, integral floats, 6
    significant digits, bytes as hex)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest_rows(columns, rows) -> dict:
    """Order-insensitive digest of a result: columns sorted by name,
    rows canonicalized then sorted, sha256 over the joined text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in keyed:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"rows": len(keyed), "sha": h.hexdigest()}
