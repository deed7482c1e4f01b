"""Fold Spark's event log into per-layer counters.

Every job carries the job group the benchmark set when it entered a span
(``span-<id>``), so stages, tasks and SQL executions fold back onto the
span that caused them. Streaming micro-batch jobs run on the query's own
thread and carry no group; they fold onto the span that was open when the
query started, through the query id the benchmark recorded."""

from __future__ import annotations

import glob
import json
import os

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def _walk(plan: dict, app: int, acc_nodes: dict, counts: dict) -> None:
    name = plan.get("nodeName", "")
    if name == "Exchange":
        counts["exchanges"] += 1
    for m in plan.get("metrics", []):
        acc_nodes[(app, m["accumulatorId"])] = (name, m["name"], m.get("metricType", ""))
    for child in plan.get("children", []):
        _walk(child, app, acc_nodes, counts)


def _events(log_dir: str):
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    paths += sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _new_fold() -> dict:
    return {k: 0.0 for k in (
        "jobs", "stages", "tasks", "exchanges", "executor_run_s", "executor_cpu_s",
        "gc_s", "scheduler_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes", "peak_exec_mem_bytes", "python_total_s", "python_boot_s",
        "python_rows_received", "python_bytes_sent", "join_rows_out")}


def fold(log_dir: str, query_spans: dict[str, int] | None = None) -> dict:
    """{"total": counters, "by_span": {span id: counters}}. Jobs without a
    span group fold under span -1."""
    query_spans = query_spans or {}
    acc_nodes: dict[tuple[int, int], tuple[str, str, str]] = {}
    exec_span: dict[tuple[int, int], int] = {}
    exec_exchanges: dict[tuple[int, int], int] = {}
    stage_span: dict[tuple[int, int], int] = {}
    by_span: dict[int, dict] = {}
    app = 0  # stage and execution ids restart with each SparkContext

    def bucket(span: int) -> dict:
        return by_span.setdefault(span, _new_fold())

    def span_of(props: dict) -> int:
        group = props.get("spark.jobGroup.id") or ""
        if group.startswith("span-"):
            return int(group[5:])
        qid = props.get("sql.streaming.queryId")
        if qid in query_spans:
            return query_spans[qid]
        return -1

    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            counts = {"exchanges": 0}
            _walk(e["sparkPlanInfo"], app, acc_nodes, counts)
            # the last plan an execution reports is the one that ran
            exec_exchanges[(app, e["executionId"])] = counts["exchanges"]
            group = e.get("jobGroupId") or ""
            if group.startswith("span-"):
                exec_span[(app, e["executionId"])] = int(group[5:])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = span_of(props)
            b = bucket(span)
            b["jobs"] += 1
            for st in e.get("Stage Infos", []):
                stage_span[(app, st["Stage ID"])] = span
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_span.setdefault((app, int(ex)), span)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            bucket(stage_span.get((app, sid), -1))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_span.get((app, e["Stage ID"]), -1))
            tm = e.get("Task Metrics") or {}
            ti = e.get("Task Info") or {}
            b["tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            b["executor_run_s"] += run_ms / 1000.0
            b["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            delay = (dur - run_ms - tm.get("Executor Deserialize Time", 0)
                     - tm.get("Result Serialization Time", 0))
            b["scheduler_delay_s"] += max(0, delay) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            b["peak_exec_mem_bytes"] = max(b["peak_exec_mem_bytes"],
                                           tm.get("Peak Execution Memory", 0))
            for a in ti.get("Accumulables", []):
                node, metric, mtype = acc_nodes.get((app, a.get("ID")), ("", a.get("Name", ""), ""))
                try:
                    val = float(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                scale = 1e-9 if mtype == "nsTiming" else 1e-3
                if metric == "time to run Python workers":
                    b["python_total_s"] += val * scale
                elif metric in ("time to start Python workers",
                                "time to initialize Python workers"):
                    b["python_boot_s"] += val * scale
                elif metric == "data sent to Python workers":
                    b["python_bytes_sent"] += val
                elif metric == "number of output rows" and _is_python_node(node):
                    b["python_rows_received"] += val
                elif metric == "number of output rows" and node in _JOIN_NODES:
                    b["join_rows_out"] += val
    for key, n in exec_exchanges.items():
        bucket(exec_span.get(key, -1))["exchanges"] += n
    total = _new_fold()
    for b in by_span.values():
        for k, v in b.items():
            total[k] = max(total[k], v) if k == "peak_exec_mem_bytes" else total[k] + v
    return {"total": total, "by_span": by_span}
