"""Spark event-log parser for the traced run.

The traced session writes one uncompressed, non-rolling JSON-lines log
(``EVENTLOG_CONF``). Every span runs under its own job description, which
Spark stamps on each stage it submits and on each SQL execution it starts,
so task metrics and SQL metrics are attributed to the span that caused
them without any timing heuristics.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class SpanStats:
    """Counts for one span (one job description)."""

    def __init__(self):
        self.jobs = 0
        self.executor_cpu_ns = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.peak_exec_mem = 0
        self.shuffle_write_bytes = 0
        # (node name, metric name) -> summed value, and metric type
        self.sql: dict[tuple[str, str], int] = defaultdict(int)
        self.sql_type: dict[tuple[str, str], str] = {}

    def sql_sum(self, metric: str, node_prefix: str = "") -> int:
        return sum(v for (node, m), v in self.sql.items()
                   if m == metric and node.startswith(node_prefix))

    def sql_seconds(self, metric: str, node_prefix: str = "") -> float:
        """A timing SQL metric in seconds (Spark records ns or ms)."""
        total = 0.0
        for (node, m), v in self.sql.items():
            if m == metric and node.startswith(node_prefix):
                scale = 1e-9 if self.sql_type.get((node, m)) == "nsTiming" else 1e-3
                total += v * scale
        return total


def _walk(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", []):
        _walk(child, out)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(log_dir: str) -> dict[str, SpanStats]:
    """{job description: SpanStats} from the single log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {paths}")
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    acc_meta: dict[int, tuple[int, tuple[str, str, str]]] = {}
    acc_value: dict[int, int] = defaultdict(int)
    spans: dict[str, SpanStats] = defaultdict(SpanStats)
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    spans[desc].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    stage_span[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerTaskEnd":
                desc = stage_span.get(ev["Stage ID"])
                for acc in ev["Task Info"].get("Accumulables", []):
                    acc_value[acc["ID"]] += _num(acc.get("Update"))
                tm = ev.get("Task Metrics")
                if desc is None or not tm:
                    continue
                s = spans[desc]
                s.executor_cpu_ns += tm.get("Executor CPU Time", 0)
                s.gc_ms += tm.get("JVM GC Time", 0)
                s.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                s.peak_exec_mem = max(s.peak_exec_mem, tm.get("Peak Execution Memory", 0))
                s.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                if kind.endswith("Start"):
                    exec_span[ev["executionId"]] = ev.get("description") or ""
                metas: dict[int, tuple[str, str, str]] = {}
                _walk(ev["sparkPlanInfo"], metas)
                for acc_id, meta in metas.items():
                    acc_meta[acc_id] = (ev["executionId"], meta)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    acc_value[acc_id] += _num(value)
    for acc_id, (exec_id, (node, name, mtype)) in acc_meta.items():
        desc = exec_span.get(exec_id)
        if desc and acc_id in acc_value:
            spans[desc].sql[(node, name)] += acc_value[acc_id]
            spans[desc].sql_type[(node, name)] = mtype
    return dict(spans)
