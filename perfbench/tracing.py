"""Spans around the benchmark's calls into the library, and the Spark
metrics each span caused.

A span is (name, start, end, parent, run id). Each span runs under its
own Spark job group, so after a run the jobs it fired are read back
from the status store's REST API (``/jobs``, ``/stages``,
``/stages/<id>/<attempt>/taskSummary`` and ``/sql?details=true``) and
charged to the innermost span that was open when they ran. Python
worker CPU time is read from ``/proc`` as each span opens and closes.
Spans are kept in memory and dumped as JSON when the benchmark exits.

``NO_TRACE`` is the untraced stand-in: its ``span`` is a no-op, so the
end-to-end run pays one Python call per span and nothing else.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request

#: Additive metrics of one span; ``skew_num``/``skew_w`` sum to
#: ``task_skew``, the run-time-weighted mean over stages of max/median
#: task time.
JOB_METRICS = ("jobs", "tasks", "shuffle_write_mb", "spill_mb",
               "input_mb", "executor_run_s", "skew_num", "skew_w",
               "python_run_s", "python_sent_mb", "python_cpu_s")
UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
         "executor_run_s": "s", "task_skew": "ratio",
         "python_run_s": "s", "python_sent_mb": "MB", "python_cpu_s": "s"}

_MB = 1024 * 1024
_SIZE = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^([\d.,]+) (\w+)", re.M)


class _NoTrace:
    def span(self, name: str):
        return contextlib.nullcontext()


NO_TRACE = _NoTrace()


class Tracer:
    """Records spans and scopes each to its own Spark job group."""

    def __init__(self, spark, run_id: str, jvm_pid: int):
        self.sc = spark.sparkContext
        self.run_id, self.jvm_pid = run_id, jvm_pid
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: time spent in the tracer's own bookkeeping, inside the run
        self.overhead_s = 0.0

    def _set_group(self, idx: int | None) -> None:
        rec = None if idx is None else self.spans[idx]
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 rec and rec["group"])
        self.sc.setLocalProperty("spark.job.description",
                                 rec and rec["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "run": self.run_id,
               "group": f"{self.run_id}.{idx}",
               "py_cpu_s": python_cpu_s(self.jvm_pid)}
        self.spans.append(rec)
        self._stack.append(idx)
        self._set_group(idx)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = t1 = time.perf_counter()
            rec["py_cpu_s"] = python_cpu_s(self.jvm_pid) - rec["py_cpu_s"]
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t1


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def _sql_total(value: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n
    9.1 s (...)' or '321.8 KiB (...)') in seconds or bytes."""
    m = _TOTAL.search(value.split("\n", 1)[-1])
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StatusStore:
    """Reads the Spark driver's REST status store for one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.bus = sc._jsc.sc().listenerBus()

    def charge(self, spans: list[dict]) -> None:
        """Attach each span's own metrics as ``rec["self"]``: those of
        the jobs in its group, and Python worker CPU not spent in a
        child span."""
        # every event the finished jobs posted is in the status store
        self.bus.waitUntilEmpty()
        by_group = {s["group"]: s for s in spans}
        for s in spans:
            s["self"] = dict.fromkeys(JOB_METRICS, 0.0)
        jobs = [j for j in _get(self.base, "/jobs")
                if j.get("jobGroup") in by_group]
        stages = {}
        for st in _get(self.base, "/stages"):
            if st["status"] == "COMPLETE":
                stages.setdefault(st["stageId"], []).append(st)
        owner: dict[int, dict] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            rec = by_group[j["jobGroup"]]
            rec["self"]["jobs"] += 1
            for sid in j["stageIds"]:
                owner.setdefault(sid, rec)
        for sid, rec in owner.items():
            for st in stages.get(sid, ()):
                self._charge_stage(rec["self"], st)
        job_owner = {j["jobId"]: by_group[j["jobGroup"]] for j in jobs}
        for ex in _get(self.base, "/sql?details=true&planDescription=false"
                                  "&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            rec = next((job_owner[i] for i in ids if i in job_owner), None)
            if rec is None:
                continue
            for node in ex.get("nodes", ()):
                for m in node.get("metrics", ()):
                    if m["name"] == "time to run Python workers":
                        rec["self"]["python_run_s"] += _sql_total(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        rec["self"]["python_sent_mb"] += (
                            _sql_total(m["value"]) / _MB)
        for i, s in enumerate(spans):
            s["self"]["python_cpu_s"] = s["py_cpu_s"] - sum(
                k["py_cpu_s"] for k in spans if k["parent"] == i)

    def _charge_stage(self, acc: dict, st: dict) -> None:
        acc["tasks"] += st["numCompleteTasks"]
        acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
        acc["spill_mb"] += st["diskBytesSpilled"] / _MB
        acc["input_mb"] += st["inputBytes"] / _MB
        run_s = st["executorRunTime"] / 1000
        acc["executor_run_s"] += run_s
        if st["numCompleteTasks"] < 2 or run_s <= 0:
            return
        q = _get(self.base, f"/stages/{st['stageId']}/{st['attemptId']}"
                            f"/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        if med > 0:
            # weight each stage's max/median by its run time, so a
            # two-task stage of a few ms cannot set the span's skew
            acc["skew_num"] += run_s * top / med
            acc["skew_w"] += run_s


def rollup(spans: list[dict]) -> dict[str, dict]:
    """Per span name: wall time, self time and inclusive metrics (its
    own plus its descendants'), summed over the name's occurrences in
    one run."""
    incl = [dict(s["self"]) for s in spans]
    for i in range(len(spans) - 1, -1, -1):   # children follow parents
        p = spans[i]["parent"]
        if p is not None:
            for m in JOB_METRICS:
                incl[p][m] += incl[i][m]
    out: dict[str, dict] = {}
    for i, s in enumerate(spans):
        wall = s["end"] - s["start"]
        child = sum(k["end"] - k["start"] for k in spans
                    if k["parent"] == i)
        row = out.setdefault(s["name"], dict.fromkeys(
            ("count", "wall_s", "self_s", *JOB_METRICS), 0.0))
        row["count"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - child
        for m in JOB_METRICS:
            row[m] += incl[i][m]
    for row in out.values():
        row["task_skew"] = (row["skew_num"] / row["skew_w"]
                            if row["skew_w"] else 0.0)
    return out


def nesting_errors(spans: list[dict]) -> list[str]:
    """Spans must close, and each must lie inside its parent's interval
    and run."""
    errs = []
    for i, s in enumerate(spans):
        if s.get("end") is None or s["end"] < s["start"]:
            errs.append(f"span {i} {s['name']} did not close")
            continue
        p = s["parent"]
        if p is None:
            continue
        ps = spans[p]
        if not (p < i and ps["run"] == s["run"]
                and ps["start"] <= s["start"] and s["end"] <= ps["end"]):
            errs.append(f"span {i} {s['name']} escapes parent {p}")
    return errs


def top_level_wall(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["parent"] is None)


def table(rows: dict[str, dict]) -> str:
    """Per-layer table, one line per span name."""
    cols = ("count", "wall_s", "self_s", "jobs", "tasks",
            "shuffle_write_mb", "spill_mb", "executor_run_s", "task_skew",
            "python_run_s")
    head = f"{'span':44s}" + "".join(f"{c:>12s}" for c in cols)
    lines = [head]
    for name, r in rows.items():
        lines.append(f"{name:44s}" + "".join(
            f"{r[c]:12.3f}" for c in cols))
    return "\n".join(lines)


_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, /proc/<pid>/stat fields after it: state,
    ppid, ...)."""
    out = {}
    for e in os.scandir("/proc"):
        if e.name.isdigit():
            try:
                with open(f"/proc/{e.name}/stat") as f:
                    head, _, tail = f.read().rpartition(")")
            except OSError:
                continue
            out[int(e.name)] = (head.partition("(")[2], tail.split())
    return out


def _descendants(procs, root: int) -> list[int]:
    tree, frontier = [], [root]
    while frontier:
        frontier = [p for p, (_, st) in procs.items()
                    if int(st[1]) in frontier]
        tree += frontier
    return tree


def _cpu_s(procs, pids) -> float:
    # utime, stime, cutime, cstime are stat fields 14-17: a process's
    # own CPU time and that of the children it has reaped
    return sum(int(x) for p in pids for x in procs[p][1][11:15]) / _TICK


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Spark driver JVM and every process
    under it (Python workers, Hadoop's shell commands)."""
    procs = _procs()
    return _cpu_s(procs, [jvm_pid, *_descendants(procs, jvm_pid)])


def python_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Python worker processes under the
    JVM (live workers, plus the exited ones their daemon has reaped).
    Unlike the SQL metrics, this also sees Python UDFs that run behind a
    lazy checkpoint, whose plans Spark does not report."""
    procs = _procs()
    return _cpu_s(procs, [p for p in _descendants(procs, jvm_pid)
                          if procs[p][0].startswith("python")])


class PeakRss:
    """Samples the resident memory of a process tree (the Spark driver JVM and
    the Python workers it forks) and keeps the peak of the sum. The
    sampling thread runs in the benchmark's own process, so
    ``driver_cpu_s`` leaves its CPU time out."""

    EVERY_S = 0.1

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_mb = 0.0
        #: CPU seconds the sampling thread has used so far
        self.own_cpu_s = 0.0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _rss_mb(self, pids: list[int]) -> float:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                pass
        return total * self._page / _MB

    def _loop(self) -> None:
        pids, listed = [self.pid], 0.0
        while not self._stop.wait(self.EVERY_S):
            now = time.monotonic()
            if now - listed > 1.0:
                pids = [self.pid] + _descendants(_procs(), self.pid)
                listed = now
            self.peak_mb = max(self.peak_mb, self._rss_mb(pids))
            self.own_cpu_s = time.thread_time()

    def driver_cpu_s(self) -> float:
        """CPU seconds used so far by this Python driver process (the
        library's plan building, py4j calls, collects and Python-side
        loops), less the sampling thread's."""
        return time.process_time() - self.own_cpu_s
