"""Measurement helpers for the benchmark: process-tree CPU, the host
calibration loop, output fingerprints, spans, and Spark's REST status store.

Nothing here imports Spark, so the helpers are testable without a session.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
import traceback
import urllib.request
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------- #
# process-tree CPU
# --------------------------------------------------------------------------- #


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds) of one process from /proc/<pid>/stat, or None if
    it is gone. CPU is utime + stime + cutime + cstime: the process's own
    threads plus every child it has reaped, so a Python worker that exited
    and was reaped by its daemon stays counted."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = sum(int(v) for v in rest[11:15])
    return ppid, ticks / _CLK_TCK


def _procs() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int | None = None, procs: dict | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return sorted(out)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and every
    live descendant: the driver Python, the JVM it launched and the JVM's
    Python workers."""
    root = os.getpid() if root is None else root
    procs = _procs()
    return sum(procs[p][1] for p in [root, *descendants(root, procs)] if p in procs)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --------------------------------------------------------------------------- #
# host calibration
# --------------------------------------------------------------------------- #


def calibrate(trials: int = 3, n: int = 1_000_000) -> float:
    """Median seconds of a fixed single-threaded integer loop. It touches no
    memory beyond a few objects, so it moves only when the core itself runs
    slower (frequency, contention from other tenants), which tells host drift
    apart from a change in the program."""
    times = []
    for _ in range(trials):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# --------------------------------------------------------------------------- #
# output fingerprints
# --------------------------------------------------------------------------- #


def norm_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-independent normal form of a result table: columns sorted by
    name, floats rounded to 6 places, NaN as None, rows sorted. The same
    rule as ``tools/diffcheck.norm``, on plain rows instead of a pandas
    frame."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def fingerprint(obj) -> str:
    """Short stable digest of a JSON-serialisable value."""
    blob = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


# --------------------------------------------------------------------------- #
# one operation
# --------------------------------------------------------------------------- #


@dataclass
class Attempt:
    ok: bool
    wall_s: float
    cpu_s: float
    fingerprint: str | None = None
    error: str | None = None


def attempt(iterate, check, ctx, expected: str) -> Attempt:
    """Time ``iterate(ctx)`` (wall and process-tree CPU), then fingerprint
    its result with ``check`` outside the timed span and compare it with
    ``expected``. An exception in either, or a mismatch, is returned as a
    failed attempt, never raised."""
    c0 = tree_cpu_s()
    w0 = time.perf_counter()
    try:
        result = iterate(ctx)
    except Exception:  # noqa: BLE001 - a failed operation is counted
        wall = time.perf_counter() - w0
        return Attempt(False, wall, tree_cpu_s() - c0, error=traceback.format_exc())
    wall = time.perf_counter() - w0
    cpu = tree_cpu_s() - c0
    try:
        fp = check(ctx, result)
    except Exception:  # noqa: BLE001 - a failed check is counted
        return Attempt(False, wall, cpu, error=traceback.format_exc())
    if fp != expected:
        return Attempt(False, wall, cpu, fp, f"fingerprint {fp} != expected {expected}")
    return Attempt(True, wall, cpu, fp)


# --------------------------------------------------------------------------- #
# spans
# --------------------------------------------------------------------------- #


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are merged first)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_e is None or lo > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = lo, hi
            else:
                cur_e = max(cur_e, hi)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(s.dur - covered)
    return out


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; spans opened
    inside it get it as their parent. With ``enabled=False`` it records
    nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool, run_id: str = "") -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s, st in zip(self.spans, selfs):
                rec = {
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run": s.run, "self_s": st, **s.attrs,
                }
                fh.write(json.dumps(rec) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        tr = self.tracer
        if not tr.enabled:
            return None
        parent = tr._stack[-1] if tr._stack else None
        self.span = Span(self.name, time.time(), parent=parent, run=tr.run_id,
                         attrs=dict(self.attrs))
        tr.spans.append(self.span)
        tr._stack.append(len(tr.spans) - 1)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.time()
            self.tracer._stack.pop()


# --------------------------------------------------------------------------- #
# Spark's REST status store
# --------------------------------------------------------------------------- #


class StatusStore:
    """Reads job, stage and SQL-execution records from the driver's REST API
    (``<ui>/api/v1/applications/<app>/...``) on localhost."""

    def __init__(self, ui_url: str, app_id: str) -> None:
        self.base = f"{ui_url}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until no job is running, so the store holds final metrics."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if not any(j["status"] == "RUNNING" for j in self.get("jobs")):
                return
            time.sleep(0.05)

    def stage_totals(self, jobs: list[dict]) -> dict:
        """Summed stage metrics over every stage attempt of ``jobs``."""
        ids = {s for j in jobs for s in j.get("stageIds", ())}
        tot = {"jvm_cpu_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "failed_tasks": 0, "stages": 0}
        for s in self.get("stages"):
            if s["stageId"] not in ids or s.get("status") == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["jvm_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            tot["shuffle_mb"] += (
                s.get("shuffleWriteBytes", 0) + s.get("shuffleReadBytes", 0)
            ) / 1e6
            tot["spill_mb"] += (
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            ) / 1e6
            tot["failed_tasks"] += s.get("numFailedTasks", 0)
        return tot

    def python_totals(self, jobs: list[dict]) -> dict:
        """Python-worker metrics summed over the SQL executions that ran
        ``jobs``: run time, boot time (seconds) and bytes sent (MB)."""
        ids = {j["jobId"] for j in jobs}
        tot = {"py_run_s": 0.0, "py_boot_s": 0.0, "py_sent_mb": 0.0}
        for ex in self.get("sql?details=true&planDescription=false&length=100000"):
            ex_jobs = set(ex.get("successJobIds", ())) | set(ex.get("failedJobIds", ()))
            if not ex_jobs & ids:
                continue
            for node in ex.get("nodes", ()):
                for m in node.get("metrics", ()):
                    key = _PY_METRICS.get(m.get("name"))
                    if key:
                        tot[key] += _metric_total(m.get("value", ""))
        return tot


_PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_boot_s",
    "data sent to Python workers": "py_sent_mb",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6}


def _metric_total(text: str) -> float:
    """The total of one SQL metric value string, in seconds or MB.

    Spark renders a timing or size metric as ``"total (min, med, max ...)\\n
    6.2 s (0 ms, 1.1 s, 2.0 s ...)"``; the first number-and-unit after the
    newline is the total. A single value (``"34.0 MiB"``) is used as is."""
    body = text.split("\n", 1)[-1].strip()
    parts = body.split("(")[0].split()
    if len(parts) < 2:
        return 0.0
    num, unit = parts[0].replace(",", ""), parts[1]
    return float(num) * _UNITS.get(unit, 1.0)
