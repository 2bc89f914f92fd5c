"""Per-span counters from one uncompressed, non-rolling Spark event log.

Every job carries the description its span set (a JSON object with the span
id), so jobs map to spans, stages to jobs and tasks to stages. Driver-side SQL
metrics (a broadcast's "data size") map to spans through the SQL execution id
of the jobs, and to their plan node through the accumulator ids that the
execution's plan info lists.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from statistics import median


@dataclass
class SpanCounters:
    task_run_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    sql: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    broadcast_bytes: int = 0

    def task_skew(self) -> float:
        """max/median task run time in the span's busiest stage (1.0 if the
        stage has a single task)."""
        busiest = max(self.task_run_ms.values(), key=sum, default=[])
        if len(busiest) < 2 or median(busiest) <= 0:
            return 1.0
        return max(busiest) / median(busiest)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _span_id(properties: dict) -> int | None:
    desc = properties.get("spark.job.description")
    try:
        return int(json.loads(desc)["id"]) if desc else None
    except (ValueError, KeyError, TypeError):
        return None


def read(path: str) -> dict[int, SpanCounters]:
    """{span id: counters} for every span that ran at least one job."""
    with open(path) as f:
        events = [json.loads(line) for line in f]
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            sid = _span_id(ev.get("Properties", {}))
            if sid is None:
                continue
            for st in ev["Stage IDs"]:
                stage_span[st] = sid
            exec_id = ev["Properties"].get("spark.sql.execution.id")
            if exec_id is not None:
                exec_span[int(exec_id)] = sid
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_metrics(ev["sparkPlanInfo"], acc_meta)

    spans: dict[int, SpanCounters] = defaultdict(SpanCounters)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if sid is None or not tm:
                continue
            c = spans[sid]
            c.task_run_ms[ev["Stage ID"]].append(tm["Executor Run Time"])
            c.shuffle_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c.spill_bytes += tm["Disk Bytes Spilled"]
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    c.sql[acc["Name"]] += int(acc["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sid = exec_span.get(ev["executionId"])
            if sid is None:
                continue
            for acc_id, value in ev["accumUpdates"]:
                if acc_meta.get(acc_id) == ("BroadcastExchange", "data size"):
                    spans[sid].broadcast_bytes += int(value)
    return dict(spans)
