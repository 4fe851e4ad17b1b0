"""Spans recorded by the benchmark around its calls into the engine, the
Catalyst phases of the executions a request ran, and the digest of
Spark's event log that the traced run reads per request.

A span is (name, start, end, parent, request), on the wall clock that
Spark's planning tracker uses too. Spans are kept in memory and written
out when the run ends. A layer is the first dotted part of a span name
(``plans``, ``catalyst``, ``exec``, ``sources``); self time is a span's
duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

from verify import operator_classes

# Job-level local properties that tie Spark jobs to the benchmark's spans.
PROP_REQUEST = "perfbench.request"
PROP_PHASE = "perfbench.phase"
# Spans whose Spark jobs compute a request's result.
ACTION_SPANS = ("exec.action", "sources.sink")


class PlanningListener:
    """Catalyst phase times (analysis, optimization, planning) of every SQL
    execution the session runs, read from the execution's own
    QueryPlanningTracker. It is registered as a JVM QueryExecutionListener
    through py4j's callback server, and Spark calls it from its listener
    bus once the execution has ended."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases: list[tuple[str, float, float]] = []
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        summary = qe.tracker().phases()
        for name in self.PHASES:
            found = summary.get(name)
            if found.isDefined():
                p = found.get()
                self.phases.append((name, p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface
        self.onSuccess(func_name, qe, 0)

    def drain(self) -> list[tuple[str, float, float]]:
        """Phases of the executions that ended since the last drain."""
        self._bus.waitUntilEmpty()
        out, self.phases = self.phases, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Span recorder. When ``enabled`` is false every call is a no-op, so
    the untraced run pays nothing but a method call per span."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.planning = PlanningListener(spark) if enabled else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None

    @contextlib.contextmanager
    def request_scope(self, request_id: str):
        """Tag every Spark job started inside with ``request_id``."""
        if not self.enabled:
            yield
            return
        self.request = request_id
        self.sc.setLocalProperty(PROP_REQUEST, request_id)
        try:
            with self.span("request"):
                yield
        finally:
            self.sc.setLocalProperty(PROP_REQUEST, None)
            self.sc.setLocalProperty(PROP_PHASE, None)
            self.request = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "request": self.request, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setLocalProperty(PROP_PHASE, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setLocalProperty(PROP_PHASE, self.spans[self._stack[-1]]["name"])

    def forget_planning(self) -> None:
        """Drop the phases of executions that other requests ran."""
        if self.enabled:
            self.planning.drain()

    def add_planning(self, request_id: str) -> None:
        """Add a ``catalyst.plan`` span for each Catalyst phase that the
        executions of ``request_id`` ran outside plan construction, as a
        child of the span it ran in. A phase inside a ``plans.`` span (the
        analysis of a Dataset while it is built, the planning of an eager
        job) belongs to construction and is left there."""
        if not self.enabled:
            return
        mine = [i for i, s in enumerate(self.spans) if s["request"] == request_id]
        for phase, start, end in self.planning.drain():
            mid = (start + end) / 2
            inside = [i for i in mine if self.spans[i]["start"] <= mid <= self.spans[i]["end"]]
            if not inside:
                continue
            # innermost: the latest start; a child is recorded after its parent
            parent = max(inside, key=lambda i: (self.spans[i]["start"], i))
            chain, i = [], parent
            while i is not None:
                chain.append(self.spans[i]["name"])
                i = self.spans[i]["parent"]
            if any(n.startswith("plans.") for n in chain):
                continue
            self.spans.append({"name": "catalyst.plan", "start": start, "end": end,
                               "parent": parent, "request": request_id, "phase": phase})

    def _child_time(self) -> dict[int, float]:
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return child

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer."""
        child = self._child_time()
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def self_total(self, *names: str) -> float:
        """Self time of the spans called ``names``."""
        child = self._child_time()
        return sum(s["end"] - s["start"] - child[i]
                   for i, s in enumerate(self.spans) if s["name"] in names)

    def total(self, *names: str, **match) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] in names and all(s.get(k) == v for k, v in match.items())
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-request Spark work from the event log in ``log_dir``.

    Returns request id -> counters: jobs started while building the plan
    (``build_jobs``) and, for every other job of the request, jobs,
    stages, tasks, task time, GC time, shuffle write, spill and scan
    bytes, and the task time of the jobs started by the request's result
    actions (``action_task_s``); from the final physical plans of the
    request's SQL executions, exchanges, Python nodes, and rows out of
    Python nodes. Also lists every stage of the request under
    ``stages_detail``.
    """
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_owner: dict[int, tuple[str, str]] = {}
    exec_owner: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    python_accums: set[int] = set()
    task_events = []
    stage_names: dict[int, str] = {}
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages: dict[str, dict[int, dict]] = defaultdict(dict)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                rid = props.get(PROP_REQUEST)
                if not rid:
                    continue
                phase = props.get(PROP_PHASE) or ""
                build = phase.startswith("plans.")
                per[rid]["build_jobs" if build else "jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_owner[sid] = (rid, phase)
                eid = props.get("spark.sql.execution.id")
                if eid is not None and not build:
                    exec_owner[int(eid)] = rid
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                final_plan[eid] = ev["sparkPlanInfo"]
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    if operator_classes([node["nodeName"]])["python"]:
                        python_accums.update(
                            m["accumulatorId"] for m in node.get("metrics", ())
                            if m["name"] == "number of output rows"
                        )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_names[info["Stage ID"]] = info["Stage Name"]
            elif kind == "SparkListenerTaskEnd":
                task_events.append(ev)
    for ev in task_events:
        owner = stage_owner.get(ev["Stage ID"])
        if owner is None or owner[1].startswith("plans."):
            continue
        rid, phase = owner
        m = ev.get("Task Metrics") or {}
        c = per[rid]
        c["tasks"] += 1
        c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        if phase in ACTION_SPANS:
            c["action_task_s"] += m.get("Executor Run Time", 0) / 1000.0
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        c["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in ev["Task Info"].get("Accumulables", ()):
            if acc.get("ID") in python_accums:
                c["python_rows"] += float(acc.get("Update", 0))
        st = stages[rid].setdefault(ev["Stage ID"], {
            "stage": ev["Stage ID"], "name": stage_names.get(ev["Stage ID"], ""),
            "tasks": 0, "task_s": 0.0})
        st["tasks"] += 1
        st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    for eid, rid in exec_owner.items():
        plan = final_plan.get(eid, {"nodeName": "", "children": []})
        classes = operator_classes(node["nodeName"] for node in _plan_nodes(plan))
        per[rid]["exchanges"] += classes["exchange"]
        per[rid]["python_nodes"] += classes["python"]
    out = {}
    for rid, c in per.items():
        out[rid] = dict(c)
        out[rid]["stages"] = len(stages[rid])  # stages that ran tasks; skipped ones excluded
        out[rid]["stages_detail"] = sorted(stages[rid].values(), key=lambda s: s["stage"])
    return out
