"""Spans, Py4J call counting and Spark event-log attribution.

A ``Tracer`` records spans (name, start, end, parent, run id) around the
benchmark's calls into the engine's layers. Untraced, a span is two clock
reads. Traced, each span also

- tags the Spark jobs it launches with ``SparkContext.setJobGroup(<span id>)``
  so the event log maps every job, stage and task back to its span;
- counts the Py4J commands this process sends while the span is innermost,
  through a counter installed on ``ClientServerConnection.send_command``.
  Memory-release commands (Python garbage collection of Java handles) are
  not counted: their timing depends on the collector, not on the code.

Spans stay in memory and are written as JSONL when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

_GC_COMMAND = "m\nd\n"  # py4j MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "py4j", "attrs")

    def __init__(self, sid: str, name: str, parent: Span | None, attrs: dict):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.py4j = 0
        self.attrs = attrs

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, traced: bool, run_id: str):
        self.traced = traced
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._quiet = False
        if traced:
            self._install_py4j_counter()

    # -- Py4J counter ------------------------------------------------------
    def _install_py4j_counter(self) -> None:
        from py4j.clientserver import ClientServerConnection

        original = ClientServerConnection.send_command
        tracer = self

        def counted(conn, command, *args, **kwargs):
            if (not tracer._quiet and tracer._stack
                    and not command.startswith(_GC_COMMAND)):
                tracer._stack[-1].py4j += 1
            return original(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = counted

    @contextlib.contextmanager
    def quiet(self):
        """Py4J traffic of the tracer itself is not attributed to spans."""
        prev, self._quiet = self._quiet, True
        try:
            yield
        finally:
            self._quiet = prev

    def bind(self, spark) -> None:
        """Attach the live SparkContext (changes on every session restart)."""
        self._sc = spark.sparkContext if self.traced else None

    def _set_group(self, sid: str | None) -> None:
        if self._sc is None:
            return
        with self.quiet():
            if sid is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(sid, sid)

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}-{len(self.spans)}", name, parent, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].sid if self._stack else None)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the union of its children's intervals
        (children are sequential, so the union is their sum)."""
        covered = sum(c.duration for c in self.spans if c.parent is sp)
        return sp.duration - covered

    def descendants(self, sp: Span) -> list[Span]:
        out, frontier = [], [sp]
        while frontier:
            cur = frontier.pop()
            kids = [c for c in self.spans if c.parent is cur]
            out.extend(kids)
            frontier.extend(kids)
        return out

    def write_jsonl(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": sp.sid, "name": sp.name,
                    "parent": sp.parent.sid if sp.parent else None,
                    "start_s": round(sp.start - t0, 6),
                    "end_s": round(sp.end - t0, 6),
                    "self_s": round(self.self_time(sp), 6),
                    "py4j": sp.py4j, **sp.attrs,
                }) + "\n")


class EventLog:
    """Task metrics per job group, read from Spark JSON event logs."""

    def __init__(self, log_dir: str):
        # job group -> {"jobs": n, "stages": {(app, stage)}}
        self.groups: dict[str, dict] = defaultdict(
            lambda: {"jobs": 0, "stages": set()})
        self.stage_metrics: dict[tuple, dict] = defaultdict(
            lambda: defaultdict(float))
        self.source_stages: set[tuple] = set()
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            self._read(path)

    def _read(self, path: str) -> None:
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        g = self.groups[group]
                        g["jobs"] += 1
                        g["stages"].update((app, s) for s in ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    self._task(self.stage_metrics[(app, ev["Stage ID"])],
                               ev.get("Task Metrics") or {})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if _scans_source(info):
                        self.source_stages.add((app, info["Stage ID"]))

    @staticmethod
    def _task(m: dict, tm: dict) -> None:
        m["tasks"] += 1
        m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        m["output_bytes"] += (tm.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                             + tm.get("Disk Bytes Spilled", 0))

    def totals(self, span_ids: list[str]) -> dict:
        """Jobs, executed stages and summed task metrics of the given spans'
        own job groups (a stage shared by two jobs is counted once)."""
        jobs, stages = 0, set()
        for sid in span_ids:
            g = self.groups.get(sid)
            if g:
                jobs += g["jobs"]
                stages |= g["stages"]
        ran = [s for s in stages if s in self.stage_metrics]
        out = {"jobs": jobs, "stages": len(ran)}
        for key in ("tasks", "cpu_s", "input_bytes", "output_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes"):
            out[key] = sum(self.stage_metrics[s][key] for s in ran)
        out["source_input_bytes"] = sum(
            self.stage_metrics[s]["input_bytes"] for s in ran
            if s in self.source_stages)
        return out


def _scans_source(stage_info: dict) -> bool:
    """Whether the stage scans raw-zone CSV (or text, for CSV schema
    inference), from the RDD operation scopes."""
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        name = json.loads(scope).get("name", "").lower() if scope else ""
        if name.startswith(("scan csv", "scan text")):
            return True
    return False
