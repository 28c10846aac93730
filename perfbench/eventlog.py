"""Spark event-log parser: maps the per-operator SQL metrics and the task
metrics of the jobs run in one phase onto the benchmark's per-layer names.

Jobs are attributed to a phase by the ``perfbench.phase`` local property
the benchmark sets before each phase (it is copied into every job's
properties).  Operators are matched by the node names of the executed plan:
``Scan parquet``, ``Exchange``, ``MapInPandas``, ``Execute
InsertIntoHadoopFsRelationCommand`` and the join nodes.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PHASE_PROPERTY = "perfbench.phase"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

_JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

#: (layer metric, operator-name prefix, SQL metric name, scale to the unit)
OPERATOR_METRICS = (
    ("scan.ms", "Scan parquet", "scan time", 1.0),
    ("scan.bytes", "Scan parquet", "size of files read", 1.0),
    ("scan.rows", "Scan parquet", "number of output rows", 1.0),
    ("shuffle.write_bytes", "Exchange", "shuffle bytes written", 1.0),
    ("shuffle.write_ms", "Exchange", "shuffle write time", 1e-6),
    ("shuffle.records", "Exchange", "shuffle records written", 1.0),
    ("shuffle.fetch_wait_ms", "Exchange", "fetch wait time", 1.0),
    ("arrow.sent_bytes", "MapInPandas", "data sent to Python workers", 1.0),
    ("arrow.returned_bytes", "MapInPandas", "data returned from Python workers", 1.0),
    ("python.start_ms", "MapInPandas", "time to start Python workers", 1.0),
    ("python.init_ms", "MapInPandas", "time to initialize Python workers", 1.0),
    ("python.run_ms", "MapInPandas", "time to run Python workers", 1.0),
    ("sink.bytes", "Execute InsertIntoHadoopFsRelationCommand", "written output", 1.0),
    ("sink.files", "Execute InsertIntoHadoopFsRelationCommand", "number of written files", 1.0),
    ("sink.task_commit_ms", "Execute InsertIntoHadoopFsRelationCommand", "task commit time", 1.0),
    ("sink.job_commit_ms", "Execute InsertIntoHadoopFsRelationCommand", "job commit time", 1.0),
)


def _has_join(plan):
    return plan["nodeName"].startswith(_JOIN_NODES) or any(
        _has_join(c) for c in plan.get("children", ())
    )


def _is_cc_round(event):
    """A ``count()`` over a join: the per-round convergence check of
    textops.connected_components (the only ``count()`` the near-dup
    queries run)."""
    return event.get("description", "").startswith("count at ") and _has_join(
        event["sparkPlanInfo"]
    )


def read_events(path: Path):
    """Events of an uncompressed, non-rolling event log file."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def find_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def _walk(plan, out):
    name = plan["nodeName"]
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (name, m["name"])
    for child in plan.get("children", ()):
        _walk(child, out)


def _value(v):
    return float(v) if v is not None else 0.0


def layer_metrics(events, phase, cores):
    """Per-layer metrics of the jobs tagged ``phase``.

    Operator metrics are summed over every task of those jobs (plus the
    driver-side updates of their SQL executions); task metrics give the
    task count, failures, run-time percentiles, GC and CPU time, and
    ``job.core_busy_frac`` = summed task run time / (cores x the phase's
    wall time, first job submit to last job end)."""
    accs = {}  # accumulator id -> (operator node name, metric name)
    stage_phase = {}
    job_phase = {}
    exec_in_phase = set()
    job_times = []
    cc_execs = set()
    acc_totals = defaultdict(float)
    run_ms, gc_ms, cpu_ns = [], 0.0, 0.0
    failed_tasks = 0
    driver_updates = []
    for e in events:
        kind = e["Event"]
        if kind in (_SQL_START, _SQL_AQE):
            _walk(e["sparkPlanInfo"], accs)
            if kind == _SQL_START and _is_cc_round(e):
                cc_execs.add(e["executionId"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get(PHASE_PROPERTY) != phase:
                continue
            job_phase[e["Job ID"]] = e["Submission Time"]
            for sid in e["Stage IDs"]:
                stage_phase[sid] = True
            if "spark.sql.execution.id" in props:
                exec_in_phase.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_phase:
                job_times.append((job_phase[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in stage_phase:
                continue
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                failed_tasks += 1
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql":
                    acc_totals[a["ID"]] += _value(a.get("Update"))
            tm = e.get("Task Metrics") or {}
            run_ms.append(tm.get("Executor Run Time", 0))
            gc_ms += tm.get("JVM GC Time", 0)
            cpu_ns += tm.get("Executor CPU Time", 0)
        elif kind == _SQL_DRIVER:
            driver_updates.append(e)
    for e in driver_updates:
        if e["executionId"] in exec_in_phase:
            for acc_id, v in e["accumUpdates"]:
                acc_totals[acc_id] += _value(v)

    out = {name: 0.0 for name, *_ in OPERATOR_METRICS}
    edge_rows = 0.0
    for acc_id, total in acc_totals.items():
        node, metric = accs.get(acc_id, ("", ""))
        for name, prefix, sql_name, scale in OPERATOR_METRICS:
            if node.startswith(prefix) and metric == sql_name:
                out[name] += total * scale
        if node.startswith(_JOIN_NODES) and metric == "number of output rows":
            edge_rows += total
    wall_ms = (
        max(end for _, end in job_times) - min(start for start, _ in job_times)
        if job_times
        else 0
    )
    out.update(
        {
            "tasks.count": float(len(run_ms)),
            "tasks.failed": float(failed_tasks),
            "tasks.run_ms_p50": float(statistics.median(run_ms)) if run_ms else 0.0,
            "tasks.run_ms_max": float(max(run_ms)) if run_ms else 0.0,
            "tasks.run_ms_sum": float(sum(run_ms)),
            "job.spark_jobs": float(len(job_phase)),
            "job.core_busy_frac": sum(run_ms) / (cores * wall_ms) if wall_ms else 0.0,
            "jvm.gc_ms": float(gc_ms),
            "jvm.cpu_ms": cpu_ns / 1e6,
            "joins.output_rows": edge_rows,
            "cc.rounds": float(len(cc_execs & exec_in_phase)),
        }
    )
    return out
