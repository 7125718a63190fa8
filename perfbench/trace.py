"""Spans and counters for the traced run.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the engine (session start, registry import, build, plan, sink or
write, check). Each span keeps its name, start, end, parent and the
counters read at its boundaries. Spans stay in memory and are written to
JSON when the run ends. The untraced run uses :class:`NullTracer`, whose
spans time nothing and read no counter, so the end-to-end figures carry
no tracing cost.

Counters, each either an exact count or a timing:

* py4j call commands sent by the benchmark thread (exact; GC detach and
  other non-call commands are left out, and so are the tracer's own
  reads);
* Spark jobs, stages and tasks per span, found through a job group per
  span and ``statusTracker`` (exact), with the stage task time, GC time,
  input, shuffle and spill bytes from the application status store;
* exchanges in the final physical plan of every SQL execution the span
  started, from the SQL status store (exact);
* Catalyst phase times from ``queryExecution().tracker()`` (timing).
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

#: counter name -> "count" (exact: repeats for a seed), "size" (bytes)
#: or "timing"
COUNTER_KINDS = {
    "py4j_calls": "count", "jobs": "count", "stages": "count", "tasks": "count",
    "exchanges": "count", "task_ms": "timing", "gc_ms": "timing",
    "input_b": "size", "shuffle_read_b": "size", "shuffle_write_b": "size",
    "spill_b": "size", "analysis_ms": "timing", "optimization_ms": "timing",
    "planning_ms": "timing",
}


class Py4jCounter:
    """Counts py4j call commands (``c`` protocol commands) sent from one
    thread while :attr:`active` is set, by wrapping ``send_command`` of
    both py4j connection classes."""

    def __init__(self) -> None:
        self.calls = 0
        self.active = False
        self._thread = threading.get_ident()
        self._saved: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command
            self._saved.append((cls, orig))

            def send_command(conn, command, *args, _orig=orig, **kwargs):
                if (
                    self.active
                    and command.startswith("c\n")
                    and threading.get_ident() == self._thread
                ):
                    self.calls += 1
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = send_command

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


_NODE = re.compile(r"^[\s:+\-*]*(\w+)")


def count_exchanges(plan_text: str) -> int:
    """Shuffle and broadcast exchanges in the final physical plan of a
    formatted plan description (the AQE final plan when there is one;
    reused exchanges do no work and are not counted)."""
    tree = plan_text.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    n = 0
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m and m.group(1) in ("Exchange", "BroadcastExchange"):
            n += 1
    return n


class SparkCounters:
    """Reads the JVM-side counters of one SparkSession at span
    boundaries. Its own py4j traffic is excluded from the py4j count."""

    def __init__(self, spark, py4j: Py4jCounter) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.py4j = py4j
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = self._sql_store.executionsCount()
        self._group = 0

    def start(self) -> dict:
        was, self.py4j.active = self.py4j.active, False
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, gid)
        self.py4j.active = was
        return {"group": gid, "py4j": self.py4j.calls}

    def stop(self, token: dict, df=None) -> dict:
        calls = self.py4j.calls - token["py4j"]
        was, self.py4j.active = self.py4j.active, False
        try:
            self._jsc.listenerBus().waitUntilEmpty()
            out = dict.fromkeys(COUNTER_KINDS, 0)
            out["py4j_calls"] = calls
            store = self._jsc.statusStore()
            tracker = self.sc.statusTracker()
            for job in tracker.getJobIdsForGroup(token["group"]):
                out["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["task_ms"] += sd.executorRunTime()
                    out["gc_ms"] += sd.jvmGcTime()
                    out["input_b"] += sd.inputBytes()
                    out["shuffle_read_b"] += sd.shuffleReadBytes()
                    out["shuffle_write_b"] += sd.shuffleWriteBytes()
                    out["spill_b"] += sd.diskBytesSpilled()
            while True:
                ex = self._sql_store.execution(self._next_exec)
                if not ex.isDefined():
                    break
                out["exchanges"] += count_exchanges(ex.get().physicalPlanDescription())
                self._next_exec += 1
            if df is not None:
                phases = df._jdf.queryExecution().tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    p = phases.get(phase)
                    if p.isDefined():
                        out[f"{phase}_ms"] = p.get().durationMs()
            self.sc._jsc.clearJobGroup()
            return out
        finally:
            self.py4j.active = was


class Tracer:
    """In-memory span recorder. ``counters`` (a :class:`SparkCounters`)
    is read at the boundaries of spans opened with ``leaf=True`` — the
    spans around one engine call, inside which no other span opens."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: SparkCounters | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, leaf: bool = False, **attrs):
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        token = self.counters.start() if leaf and self.counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if token is not None:
                rec["counters"] = self.counters.stop(token, rec.pop("df", None))
            rec.pop("df", None)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover
        (children of one span never overlap: the loop is sequential)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out


class NullTracer:
    """Tracer stand-in for the untraced run: spans record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, leaf: bool = False, **attrs):
        yield {}
