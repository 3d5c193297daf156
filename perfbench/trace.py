"""Spans recorded around the benchmark's calls into engine modules, and
the Spark event log that gives each span its task and SQL metrics.

A span tags its Spark jobs with ``SparkContext.setJobGroup(<span id>)``;
after the session stops, :func:`read_event_log` folds every job, task and
SQL execution of the log into per-group totals. A layer's self time is its
span minus the part of it covered by its child spans.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: str | None = None
    pass_id: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest; each gets a unique job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = 0

    def _tag(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        # keep Spark's own call-site descriptions on the SQL executions
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{name}#{self.pass_id}.{len(self.spans)}", time.perf_counter(),
                  parent=parent.group if parent else None, pass_id=self.pass_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1].group if self._stack else None)

    def self_time(self, sp: Span) -> float:
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.group)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    block_bytes: int = 0
    executions: list = field(default_factory=list)


@dataclass
class PlanNode:
    name: str
    desc: str
    depth: int
    metrics: dict  # metric name -> accumulator id


@dataclass
class EventLog:
    groups: dict[str, GroupStats]
    plans: dict[int, list[PlanNode]]  # execution id -> final plan, pre-order
    exec_desc: dict[int, str]
    exec_dur: dict[int, float]  # execution id -> wall seconds
    acc: dict[int, int]  # accumulator id -> value (driver updates + live row counts)

    def value(self, node: PlanNode, metric: str) -> int:
        a = node.metrics.get(metric)
        return self.acc.get(a, 0) if a is not None else 0

    def nodes(self, group: str) -> list[tuple[int, PlanNode]]:
        g = self.groups.get(group)
        return [(e, n) for e in (g.executions if g else []) for n in self.plans.get(e, [])]


def _flatten(info: dict, depth: int, out: list[PlanNode]) -> None:
    out.append(PlanNode(
        info.get("nodeName", ""), info.get("simpleString", ""), depth,
        {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
    ))
    for c in info.get("children", []):
        _flatten(c, depth + 1, out)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def live_row_counts(spark, log: EventLog) -> dict[int, int]:
    """Row-count SQL metrics of every execution in ``log``, read from the
    live SQL status store (task-side SQL metrics are not in the event log).
    Call before the session stops."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, int] = {}
    for eid in log.plans:
        text = store.executionMetrics(eid).toString()
        # an accumulator shows in every execution whose plan holds its node
        # (cached plans included); executions that did not run it read 0
        for m in re.finditer(r"(?:^\w*Map\(|, )(\d+) -> ([0-9,]+)(?=, \d+ -> |\)$)", text):
            a = int(m.group(1))
            out[a] = max(out.get(a, 0), int(m.group(2).replace(",", "")))
    return out


def read_event_log(path: str) -> EventLog:
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    seen_exec: set[int] = set()
    plans: dict[int, list[PlanNode]] = {}
    exec_desc: dict[int, str] = {}
    exec_t0: dict[int, int] = {}
    exec_dur: dict[int, float] = {}
    acc: dict[int, int] = {}
    current_group: str | None = None

    def g(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or "-"
                current_group = grp
                st = g(grp)
                st.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    eid = int(eid)
                    if eid not in seen_exec:
                        seen_exec.add(eid)
                        st.executions.append(eid)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    g(stage_group[sid]).stages += 1
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"), "-")
                st = g(grp)
                st.tasks += 1
                info = ev.get("Task Info", {})
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if reason != "Success" or info.get("Failed"):
                    st.task_failures += 1
                    continue
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                st.run_s += run_ms / 1e3
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                st.sched_delay_s += max(0, dur - run_ms - m.get("Executor Deserialize Time", 0)
                                        - m.get("Result Serialization Time", 0)
                                        - info.get("Getting Result Time", 0)) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
                st.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            elif kind == "SparkListenerBlockUpdated":
                bi = ev.get("Block Updated Info", {})
                if str(bi.get("Block ID", "")).startswith("rdd_") and current_group:
                    g(current_group).block_bytes += bi.get("Memory Size", 0) + bi.get("Disk Size", 0)
            elif kind == "SparkListenerJobEnd":
                current_group = None
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                eid = ev["executionId"]
                exec_desc[eid] = ev.get("description", "")
                exec_t0[eid] = ev.get("time", 0)
                nodes: list[PlanNode] = []
                _flatten(ev["sparkPlanInfo"], 0, nodes)
                plans[eid] = nodes
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                eid = ev["executionId"]
                exec_dur[eid] = (ev.get("time", 0) - exec_t0.get(eid, 0)) / 1e3
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                nodes = []
                _flatten(ev["sparkPlanInfo"], 0, nodes)
                plans[ev["executionId"]] = nodes
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for a_id, v in ev.get("accumUpdates", []):
                    acc[a_id] = acc.get(a_id, 0) + _num(v)
    return EventLog(groups, plans, exec_desc, exec_dur, acc)
