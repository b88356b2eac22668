"""Spans around calls into the program, and engine counters per span.

The program is not instrumented. A span is recorded here, in the
benchmark, around one call into a layer's public function; while it is
open, the calling thread's Spark job group is the span's layer name, so
the event log (written only in traced runs) attributes every job, stage
and task to it afterwards. Spans are kept in memory and written out when
the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# engine counters are reported per span of each of these layers
ENGINE_LAYERS = (
    "extract.text",
    "extract.links",
    "extract.mentions",
    "link.alias",
    "link.fuzzy",
    "link.cc",
    "graph.pipeline",
    "graph.materialize",
    "graph.manifest.build",
    "graph.manifest.refresh",
    "graph.read_graph",
    "graph.views",
)
ENGINE_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "task_skew": "ratio",
}


class Tracer:
    """Span recorder. With `engine=False` spans are still timed (the
    workload needs some of them) but no job group is set."""

    def __init__(self, sc, engine: bool) -> None:
        self.sc = sc
        self.engine = engine
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self._stack.append(rec)
        if self.engine:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.engine:
                if self._stack:
                    parent = self._stack[-1]["name"]
                    self.sc.setJobGroup(parent, parent)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["dur"] for s in self.spans if s["name"] == name]

    def first(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def engine_counters(event_log: str, layers=ENGINE_LAYERS) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle bytes written, bytes spilled to
    disk, task GC seconds, the skew of the group's longest stage, and the
    rows produced by Arrow Python UDF operators (`python_rows`)."""
    group_of_stage: dict[int, str] = {}
    group_of_exec: dict[int, str] = {}
    stats = {
        g: {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "gc_ms": 0, "python_rows": 0}
        for g in layers
    }
    stage_span: dict[int, tuple[int, int]] = {}
    stage_tasks: dict[int, list[int]] = {}
    py_row_accs: dict[int, int] = {}  # accumulator id -> execution id
    acc_updates: dict[int, int] = {}

    def walk(plan, exec_id):
        if plan["nodeName"] == "ArrowEvalPython":
            for m in plan["metrics"]:
                if m["name"] == "number of output rows":
                    py_row_accs[m["accumulatorId"]] = exec_id
        for c in plan["children"]:
            walk(c, exec_id)

    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g in stats:
                    stats[g]["jobs"] += 1
                    for s in e["Stage IDs"]:
                        group_of_stage.setdefault(s, g)
                    x = props.get("spark.sql.execution.id")
                    if x is not None:
                        group_of_exec.setdefault(int(x), g)
            elif ev == "SparkListenerTaskEnd":
                g = group_of_stage.get(e["Stage ID"])
                info = e["Task Info"]
                for a in info.get("Accumulables", []):
                    if a["ID"] in py_row_accs and isinstance(a.get("Update"), (int, str)):
                        acc_updates[a["ID"]] = acc_updates.get(a["ID"], 0) + int(a["Update"])
                if g is None:
                    continue
                m = e.get("Task Metrics") or {}
                st = stats[g]
                st["tasks"] += 1
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                stage_tasks.setdefault(e["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    stage_span[si["Stage ID"]] = (si["Submission Time"], si["Completion Time"])
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                walk(e["sparkPlanInfo"], e["executionId"])
    for acc, exec_id in py_row_accs.items():
        g = group_of_exec.get(exec_id)
        if g is not None:
            stats[g]["python_rows"] += acc_updates.get(acc, 0)
    for g, st in stats.items():
        stages = [s for s, gg in group_of_stage.items() if gg == g and s in stage_tasks]
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: (lambda t: t[1] - t[0])(stage_span.get(s, (0, 0))))
            times = stage_tasks[longest]
            med = statistics.median(times)
            skew = max(times) / med if med > 0 else 1.0
        st["task_skew"] = skew
        st["gc_s"] = st.pop("gc_ms") / 1000.0
    return stats
