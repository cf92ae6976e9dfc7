"""Spans, process sampling and the parsers that turn Spark's own records
(event log, streaming progress, UDF profiles, driver log) into per-layer
figures. Nothing here imports the engine; every span is recorded by the
benchmark around its calls into the engine.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's event-log times
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store. ``span()`` nests by call structure; ``add()``
    records a span whose times come from elsewhere (event log, progress)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, start, end, parent, attrs)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.duration - covered(
            [(c.start, c.end) for c in self.children(span)],
            span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{
                "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "self_s": self.self_time(s),
                **({"attrs": s.attrs} if s.attrs else {}),
            } for s in self.spans], fh)


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# /proc sampling
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                txt = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parens: the fields after the last ')'
        rest = txt[txt.rindex(")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_and_name(pid: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            txt = fh.read()
    except OSError:
        return 0, ""
    m = re.search(r"^VmRSS:\s+(\d+) kB", txt, re.M)
    n = re.search(r"^Name:\s+(\S+)", txt, re.M)
    return (int(m.group(1)) * 1024 if m else 0), (n.group(1) if n else "")


class ProcSampler:
    """Samples the RSS of this process's descendants from /proc: the driver
    JVM (``java``) and the Python workers it forks. Peaks are of the sum
    over one sample, so the total is a real simultaneous footprint, and
    are taken only while ``recording`` is set."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.recording = False
        self.peak_jvm = 0
        self.peak_python = 0
        self.peak_total = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        jvm = py = 0
        for pid in descendants(os.getpid()):
            rss, name = _rss_and_name(pid)
            self.seen.add(pid)
            if name == "java":
                jvm += rss
            elif name.startswith("python"):
                py += rss
        if not self.recording:
            return
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)
        self.peak_total = max(self.peak_total, jvm + py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "total",
}
PY_NODES = {"ArrowEvalPython": "arrow_eval", "MapInArrow": "map_in_arrow"}


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)    # job id -> info
    stages: dict = field(default_factory=dict)  # (stage, attempt) -> info


def parse_event_log(path: str) -> EventLog:
    """Jobs (group, batch id, stages) and stages (times, run/CPU time, task
    durations, shuffle and spill bytes, and the task updates of the Python
    nodes' SQL metrics, keyed (node kind, metric)) from one Spark JSON
    event log."""
    log = EventLog()
    acc_kind: dict[int, tuple[str, str]] = {}

    def plan_metrics(info: dict) -> None:
        kind = next((v for k, v in PY_NODES.items()
                     if info.get("nodeName", "").startswith(k)), None)
        if kind:
            for m in info.get("metrics", []):
                if m["name"] in PY_METRICS:
                    acc_kind[m["accumulatorId"]] = (kind, PY_METRICS[m["name"]])
        for child in info.get("children", []):
            plan_metrics(child)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "batch": props.get("streaming.sql.batchId"),
                    "stages": ev.get("Stage IDs", []),
                    "start": ev["Submission Time"] / 1000.0,
                }
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = log.stages.setdefault(
                    (si["Stage ID"], si["Stage Attempt ID"]), _new_stage())
                st["start"] = si.get("Submission Time", 0) / 1000.0
                st["end"] = si.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(
                    (ev["Stage ID"], ev["Stage Attempt ID"]), _new_stage())
                ti = ev["Task Info"]
                st["task_s"].append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
                tm = ev.get("Task Metrics") or {}
                st["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["spill"] += (tm.get("Memory Bytes Spilled", 0)
                                + tm.get("Disk Bytes Spilled", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                for a in ti.get("Accumulables", []):
                    k = acc_kind.get(a["ID"])
                    if k and "Update" in a:
                        st["py"][k] = st["py"].get(k, 0) + int(a["Update"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan_metrics(ev.get("sparkPlanInfo", {}))
    return log


def _new_stage() -> dict:
    return {"start": 0.0, "end": 0.0, "task_s": [], "run_s": 0.0,
            "cpu_s": 0.0, "spill": 0, "shuffle_read": 0, "shuffle_write": 0,
            "py": {}}


def task_skew(stages: list[dict]) -> float:
    """max/median task time of the worst stage with at least two tasks."""
    skews = [max(st["task_s"]) / statistics.median(st["task_s"])
             for st in stages
             if len(st["task_s"]) >= 2 and statistics.median(st["task_s"]) > 0]
    return max(skews, default=1.0)


# --------------------------------------------------------------------------
# UDF profiler (spark.sql.pyspark.udf.profiler=perf)
# --------------------------------------------------------------------------

#: (file, function) of the in-UDF calls the profiler splits out
PROFILED = {
    "kernels.spa": ("spa.py", "solar_position"),
    "kernels.grena3": ("grena3.py", "solar_position"),
    "kernels.sunrise": ("sunrise.py", "sunrise_transit_set"),
    "codec.decode": ("codec.py", "decode_records"),
}


def udf_profile_times(results: dict) -> dict[str, float]:
    """Cumulative seconds per PROFILED call, plus ``udf`` = all profiled
    in-UDF time, summed over every UDF's ``pstats.Stats``."""
    out = dict.fromkeys([*PROFILED, "udf"], 0.0)
    for st in results.values():
        out["udf"] += st.total_tt
        for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
            for key, (f, fn) in PROFILED.items():
                if fname == f and func == fn:
                    out[key] += ct
    return out


# --------------------------------------------------------------------------
# driver log
# --------------------------------------------------------------------------

CODEGEN_FALLBACK = re.compile(
    r"Whole-stage codegen disabled|failed to compile|"
    r"org\.codehaus\.(janino|commons\.compiler)", re.I)


def count_codegen_fallbacks(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path, errors="replace") as fh:
        return sum(1 for line in fh if CODEGEN_FALLBACK.search(line))
