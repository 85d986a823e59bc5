"""Spans around layer calls and the Spark event-log parser that turns a
traced run into per-layer figures.

The benchmark tags every call into an engine module with
`setJobGroup(layer)` and records a span (layer, start, end) on its own
clock. After the session stops, the file-based event log is parsed: each
job belongs to the layer named by its job group; a job without a group
(the engine's background drift/profile/integrity threads do not inherit
the caller's group) belongs to the innermost span open when it was
submitted, and outside every span to `session`.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Span:
    layer: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None


class Tracer:
    """Records layer spans; with `tag=True` also sets the Spark job group so
    the event log attributes each job to the layer that submitted it."""

    def __init__(self, sc=None, tag: bool = False):
        self.sc, self.tag = sc, tag
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def layer(self, name: str):
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time() * 1000, parent=parent))
        idx = len(self.spans) - 1
        self._open.append(idx)
        if self.tag:
            self.sc.setJobGroup(name, name)
            self.sc.setJobDescription(name)
        try:
            yield
        finally:
            self.spans[idx].end_ms = time.time() * 1000
            self._open.pop()
            if self.tag:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setJobDescription(None)
                else:
                    outer = self.spans[parent].layer
                    self.sc.setJobGroup(outer, outer)
                    self.sc.setJobDescription(outer)

    def self_wall_s(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans."""
        out: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end_ms - s.start_ms
        for i, s in enumerate(self.spans):
            out[s.layer] += (s.end_ms - s.start_ms - child[i]) / 1000
        return dict(out)

    def layer_at(self, t_ms: float) -> str | None:
        """Innermost span open at t_ms."""
        best = None
        for s in self.spans:
            if s.start_ms <= t_ms <= s.end_ms and (
                best is None or s.start_ms >= best.start_ms
            ):
                best = s
        return best.layer if best else None


@dataclass
class LayerTotals:
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    jobs: int = 0


@dataclass
class EventLog:
    # job id -> (group or None, submission ms, sql execution id or None)
    jobs: dict[int, tuple[str | None, float, int | None]] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    # stage id -> [cpu_ns, gc_ms, shuffle bytes written, tasks, failed tasks]
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)
    # accumulator id -> (execution id, node name, metric name)
    sql_metrics: dict[int, tuple[int, str, str]] = field(default_factory=dict)
    accum_totals: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    # execution id -> latest (adaptive) physical plan tree
    sql_plans: dict[int, dict] = field(default_factory=dict)

    def job_layers(self, tracer: Tracer | None = None) -> dict[int, str]:
        out = {}
        for job, (group, submit_ms, _) in self.jobs.items():
            layer = group or (tracer.layer_at(submit_ms) if tracer else None)
            out[job] = layer or "session"
        return out

    def layer_totals(self, tracer: Tracer | None = None) -> dict[str, LayerTotals]:
        layers = self.job_layers(tracer)
        out: dict[str, LayerTotals] = defaultdict(LayerTotals)
        for job, layer in layers.items():
            out[layer].jobs += 1
        for stage, (cpu_ns, gc_ms, sh_bytes, n, failed) in self.stage_tasks.items():
            job = self.stage_job.get(stage)
            t = out[layers.get(job, "session")]
            t.cpu_s += cpu_ns / 1e9
            t.gc_s += gc_ms / 1000
            t.shuffle_mb += sh_bytes / 2**20
            t.tasks += int(n)
            t.failed_tasks += int(failed)
        return dict(out)

    def layer_executions(self, layer: str, tracer: Tracer | None = None) -> set[int]:
        layers = self.job_layers(tracer)
        return {
            ex for job, (_, _, ex) in self.jobs.items()
            if ex is not None and layers[job] == layer
        }

    def sql_metric(
        self, layer: str, node: str, metric: str, tracer: Tracer | None = None
    ) -> float:
        """Sum of one operator metric over the SQL executions of a layer."""
        execs = self.layer_executions(layer, tracer)
        return sum(
            self.accum_totals.get(acc, 0.0)
            for acc, (ex, n, m) in self.sql_metrics.items()
            if ex in execs and n == node and m == metric
        )

    def topmost_rows(self, layer: str, prefix: str, tracer: Tracer | None = None) -> float:
        """Output rows of the plan node nearest the root whose description
        starts with `prefix`, summed over the layer's SQL executions (the
        final aggregate of a partial/final pair, say)."""
        total = 0.0
        for ex in self.layer_executions(layer, tracer):
            todo = [self.sql_plans.get(ex, {})]
            while todo:
                node = todo.pop(0)
                if node.get("simpleString", "").startswith(prefix):
                    total += sum(
                        self.accum_totals.get(m["accumulatorId"], 0.0)
                        for m in node["metrics"] if m["name"] == "number of output rows"
                    )
                    break
                todo.extend(node.get("children", ()))
        return total


def _plan_metrics(ex: int, plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (ex, plan["nodeName"], m["name"])
    for c in plan.get("children", ()):
        _plan_metrics(ex, c, out)


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = (
                    props.get("spark.jobGroup.id"),
                    float(ev["Submission Time"]),
                    int(ex) if ex is not None else None,
                )
                for s in ev["Stage IDs"]:
                    log.stage_job[s] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                st = log.stage_tasks.setdefault(ev["Stage ID"], [0.0, 0.0, 0.0, 0, 0])
                st[3] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    st[4] += 1
                tm = ev.get("Task Metrics") or {}
                st[0] += tm.get("Executor CPU Time", 0)
                st[1] += tm.get("JVM GC Time", 0)
                st[2] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    # SQL metrics carry numeric updates; other accumulables
                    # (lists, internal blobs) are not counted
                    try:
                        log.accum_totals[acc["ID"]] += float(acc["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind in (SQL_START, SQL_AQE_UPDATE):
                _plan_metrics(ev["executionId"], ev["sparkPlanInfo"], log.sql_metrics)
                log.sql_plans[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind == SQL_DRIVER_ACCUM:
                for acc, value in ev["accumUpdates"]:
                    log.accum_totals[acc] += float(value)
    return log
