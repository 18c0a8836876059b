"""Traced-run collector: spans around public calls, one Spark job group
per span, Catalyst phase times, and an uncompressed Spark event log.

Spans live in memory; ``layer_metrics`` turns them, together with the
parsed event log, into per-iteration layer numbers after the run.
Nothing here reaches into the program: spans wrap calls from outside,
and the job group each span sets is how the event log's jobs, stages
and tasks are attributed back to the span that launched them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# Spark's Python SQL metrics (PythonSQLMetrics), read by name from the
# per-task accumulator updates; times are in ms.
PYTHON_METRICS = {
    "time to run Python workers": "python_run",
    "time to start Python workers": "python_boot",
    "time to initialize Python workers": "python_init",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Nested spans; entering a span makes it the thread's job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._open: dict | None = None  # sequential span, see begin()

    def _enter(self, name: str, attrs: dict) -> dict:
        self.end_open()
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"pb{rec['id']}", name)
        rec["start"] = time.perf_counter()
        return rec

    def _exit(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack.remove(rec)
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"pb{top['id']}", top["name"])
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._enter(name, attrs)
        try:
            yield rec
        finally:
            self.end_open()
            self._exit(rec)

    def begin(self, name: str, **attrs) -> None:
        """Open a span for inline work between two wrapped calls; it is
        closed by the next span entered, or by ``end_open``."""
        self._open = self._enter(name, attrs)

    def end_open(self) -> None:
        if self._open is not None:
            rec, self._open = self._open, None
            self._exit(rec)

    def catalyst(self, df) -> None:
        """Plan ``df`` and record its QueryExecution tracker's phase times.

        Optimization and planning only run when a plan is needed, so the
        executed plan is forced here, inside its own span; the write
        that follows plans its own command again.
        """
        with self.span("catalyst") as rec:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for name in CATALYST_PHASES:
                opt = phases.get(name)
                rec[name + "_s"] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0


def event_log_path(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages and per-task metrics of its stages."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
                g = groups.setdefault(gid, {"jobs": 0, "stages": {}})
                g["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, gid)
            elif ev == "SparkListenerTaskEnd":
                gid = stage_group.get(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st = groups[gid]["stages"].setdefault(e["Stage ID"], _new_stage())
                st["tasks"].append(info["Finish Time"] - info["Launch Time"])
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["input_bytes"] += read
                st["scan_tasks"] += read > 0
                for acc in info.get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key:  # per-task update; stage values are cumulative
                        st[key] = st.get(key, 0) + int(acc["Update"])
                st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                gid = stage_group.get(info["Stage ID"])
                st = groups[gid]["stages"].setdefault(info["Stage ID"], _new_stage())
                st["duration_ms"] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
    return groups


def _new_stage() -> dict:
    return {"tasks": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "spill_bytes": 0,
            "shuffle_write_bytes": 0, "input_bytes": 0, "output_bytes": 0,
            "scan_tasks": 0, "duration_ms": 0}


def group_totals(groups: dict[str, dict], gids) -> dict:
    """Sums over the job groups ``gids`` (absent groups launched no job)."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
           "spill_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0,
           "output_bytes": 0, "scan_stages": 0, "scan_tasks": 0, "max_task_skew": 0.0}
    for key in PYTHON_METRICS.values():
        out[key] = 0
    slowest = None
    for gid in gids:
        g = groups.get(gid)
        if g is None:
            continue
        out["jobs"] += g["jobs"]
        for st in g["stages"].values():
            out["stages"] += 1
            out["tasks"] += len(st["tasks"])
            for key in ("run_ms", "cpu_ns", "gc_ms", "spill_bytes", "shuffle_write_bytes",
                        "input_bytes", "output_bytes", "scan_tasks", *PYTHON_METRICS.values()):
                out[key] += st.get(key, 0)
            out["scan_stages"] += st["scan_tasks"] > 0
            if st["tasks"] and (slowest is None or st["duration_ms"] > slowest["duration_ms"]):
                slowest = st
    if slowest is not None:
        out["max_task_skew"] = max(slowest["tasks"]) / max(statistics.median(slowest["tasks"]), 1)
    return out
