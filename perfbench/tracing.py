"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: each layer function
is wrapped where it is looked up, in the module that defines it and in
every package module that imported it by name (``from ...catalog
import fan_out`` binds its own reference, so patching ``catalog`` alone
would miss those calls). A span is (name, start, end, parent, pass);
spans stay in memory and are written out once, when the run ends.

Executor-side numbers come from Spark's own event log: every benchmark
step runs under ``setJobDescription("<pass>:<step>")``, so jobs, stages
and tasks are attributed to the step that caused them.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "etl_work_flow_for_big_data_spark"


class Tracer:
    """In-memory span recorder. Wrappers call straight through while
    ``active`` is false, so one process can time traced and untraced
    passes of the same code."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.pass_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    rec.update(on_result(args, kwargs, result))
                return result

        return wrapper

    def patch(self, name: str, owner, attr: str, on_result=None) -> None:
        """Replace ``owner.attr`` and every same-object reference held
        by a loaded package module."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(name, orig, on_result)
        setattr(owner, attr, wrapped)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if mod is owner or not modname.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, key, wrapped)

    def self_times(self) -> list[float]:
        """Self time per span: its duration minus the part of it its
        children cover (children run nested on one thread, so their
        intervals do not overlap each other)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def per_pass(self, passes: list[str]) -> dict[str, dict[str, list[float]]]:
        """{span name: {"calls": [per pass], "s": [per pass], extra
        numeric attrs summed per pass}} over the given pass ids."""
        out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        by_pass: dict[str, dict[str, dict[str, float]]] = {
            p: defaultdict(lambda: defaultdict(float)) for p in passes}
        for s in self.spans:
            if s["pass"] not in by_pass:
                continue
            agg = by_pass[s["pass"]][s["name"]]
            agg["calls"] += 1
            agg["s"] += s["end"] - s["start"]
            for k, v in s.items():
                if k not in ("name", "parent", "pass", "start", "end") and isinstance(v, (int, float)):
                    agg[k] += v
        names = {n for p in by_pass.values() for n in p}
        for n in names:
            keys = {k for p in by_pass.values() for k in p.get(n, {})}
            for k in keys:
                out[n][k] = [by_pass[p][n][k] if n in by_pass[p] else 0.0 for p in passes]
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [{**s, "self": st} for s, st in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# -- granted time --------------------------------------------------------

def clock() -> tuple[float, int, int]:
    """(wall seconds, stolen ticks, wanted ticks) now. Wanted ticks are
    the machine-wide ticks some vCPU wanted to run (user, nice, system,
    irq, softirq and steal); stolen ticks are the part of them the
    hypervisor gave to other guests (``/proc/stat`` steal)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in f.readline().split()[1:9])
    return time.perf_counter(), steal, user + nice + system + irq + softirq + steal


def granted_seconds(start: tuple[float, int, int], end: tuple[float, int, int]) -> float:
    """Wall time between two ``clock()`` readings, scaled by the share of
    wanted vCPU time that was granted. On a shared host the hypervisor
    takes the vCPUs away for a varying share of time (steal); a CPU-bound
    interval then stretches by 1 / granted share, so this is the time the
    interval would have taken with its vCPUs to itself."""
    wall = end[0] - start[0]
    wanted = end[2] - start[2]
    stolen = end[1] - start[1]
    return wall * (1.0 - stolen / wanted) if wanted > 0 else wall


# -- Spark event log -----------------------------------------------------

_ZERO_STEP = {
    "jobs": 0, "stages": 0, "tasks": 0, "task_failures": 0,
    "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
    "input_bytes": 0, "output_bytes": 0,
    "python_bytes_to_worker": 0, "python_bytes_from_worker": 0,
}

#: SQL metric names of the Python evaluation nodes (PythonSQLMetrics).
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description ("<pass>:<step>") executor totals, from the
    event log files Spark wrote under ``log_dir``."""
    stage_desc: dict[int, str] = {}
    steps: dict[str, dict] = defaultdict(lambda: dict(_ZERO_STEP))
    task_lines: list[dict] = []
    stage_lines: list[dict] = []
    files = sorted(os.path.join(root, f) for root, _dirs, names in os.walk(log_dir)
                   for f in names if not f.startswith((".", "appstatus")))
    for fname in files:
        with open(fname, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or "?"
                    steps[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    task_lines.append(ev)
                elif kind == "SparkListenerStageCompleted":
                    stage_lines.append(ev)
    for ev in stage_lines:
        info = ev["Stage Info"]
        desc = stage_desc.get(info["Stage ID"], "?")
        st = steps[desc]
        st["stages"] += 1
        for acc in info.get("Accumulables", []):
            name, value = acc.get("Name"), acc.get("Value")
            if name == _PY_SENT:
                st["python_bytes_to_worker"] += int(value)
            elif name == _PY_RECV:
                st["python_bytes_from_worker"] += int(value)
    for ev in task_lines:
        st = steps[stage_desc.get(ev["Stage ID"], "?")]
        st["tasks"] += 1
        info = ev.get("Task Info", {})
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            st["task_failures"] += 1
        m = ev.get("Task Metrics") or {}
        st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics", {})
        st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return dict(steps)


def per_pass_executor(steps: dict[str, dict], passes: list[str],
                      steps_named: set[str] | None = None) -> dict[str, list[float]]:
    """Sum the event-log step totals of each pass, over every step or
    only the ``steps_named``; one value per pass."""
    out: dict[str, list[float]] = {k: [] for k in _ZERO_STEP}
    for p in passes:
        tot = dict(_ZERO_STEP)
        for desc, st in steps.items():
            pass_id, _, step = desc.partition(":")
            if pass_id == p and (steps_named is None or step in steps_named):
                for k in tot:
                    tot[k] += st[k]
        for k in tot:
            out[k].append(tot[k])
    return out


# -- process memory ------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``."""
    kids = _children()
    todo, found = list(kids.get(root_pid, [])), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def tree_peak_rss_mb(root_pid: int) -> tuple[float, dict[str, float]]:
    """Sum of VmHWM (peak resident set) over ``root_pid`` and all its
    descendants: this Python driver, the JVM and the Python workers;
    and the same per process name."""
    by_name: dict[str, float] = defaultdict(float)
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
            by_name[status["Name"].strip()] += int(status["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError):
            continue
    return sum(by_name.values()), dict(by_name)


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is running (gone or a zombie); return
    those still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.05)
