"""Regenerate ``data/eventlog_small.json``, the captured Spark event log
``test_eventlog.py`` parses.

    python3 perfbench/tests/capture_eventlog.py

Runs, with the event log on: one ``run_job`` over a parquet table of 16
contract pages in phase ``timed``, one job outside any phase, and ``connected_components``
over a 5-node path graph in phase ``cc``.  The saved log keeps only the
events, fields and SQL metrics the parser reads (no paths).
"""

from __future__ import annotations

import json
import re
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
OUT = Path(__file__).resolve().parent / "data" / "eventlog_small.json"

_KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart": (
        "executionId", "description", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate": (
        "executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates": (
        "executionId", "accumUpdates"),
}
_PROPS = ("perfbench.phase", "spark.sql.execution.id")
_METRICS = ("Executor Run Time", "JVM GC Time", "Executor CPU Time")


def _plan(p, names):
    return {
        "nodeName": p["nodeName"],
        "metrics": [m for m in p.get("metrics", []) if m["name"] in names],
        "children": [_plan(c, names) for c in p.get("children", [])],
    }


def _acc_ids(plan):
    ids = {m["accumulatorId"] for m in plan["metrics"]}
    for child in plan["children"]:
        ids |= _acc_ids(child)
    return ids


def _trim(e, metric_names, acc_ids):
    kind = e["Event"]
    out = {"Event": kind, **{k: e[k] for k in _KEEP[kind] if k in e}}
    if "sparkPlanInfo" in out:
        out["sparkPlanInfo"] = _plan(out["sparkPlanInfo"], metric_names)
        acc_ids |= _acc_ids(out["sparkPlanInfo"])
    if "description" in out:
        out["description"] = re.sub(r"/\S*/", "", out["description"])
    if "accumUpdates" in out:
        out["accumUpdates"] = [u for u in out["accumUpdates"] if u[0] in acc_ids]
    if "Properties" in out:
        out["Properties"] = {
            k: v for k, v in (out["Properties"] or {}).items() if k in _PROPS
        }
    if "Task Info" in out:
        info = out["Task Info"]
        out["Task Info"] = {
            "Failed": info.get("Failed", False),
            "Killed": info.get("Killed", False),
            "Accumulables": [a for a in info.get("Accumulables", ()) if a["ID"] in acc_ids],
        }
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: out["Task Metrics"].get(k, 0) for k in _METRICS}
    return out


def main():
    sys.path.insert(0, str(ROOT))
    from perfbench import run

    work = run.WORK / "capture"
    run.environment(work)
    import pandas as pd

    from perfbench import eventlog
    from perfbench.session import start_session, stop_session
    from readability_spark.spark.job import run_job
    from readability_spark.spark.pages import page_url, synthesize_html
    from readability_spark.spark.textops import connected_components

    try:
        spark = start_session(work, event_log_dir=work / "log")
        sc = spark.sparkContext
        pages = spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": [page_url(i, f"src{i % 20}") for i in range(16)],
                    "html": [synthesize_html(i, "spark scan the data", "en").encode()
                             for i in range(16)],
                }
            )
        )
        pages.write.parquet(str(work / "pages"))
        sc.setLocalProperty(eventlog.PHASE_PROPERTY, "timed")
        run_job(spark, spark.read.parquet(str(work / "pages")), str(work / "out"),
                str(work / "lineage"), "capture",
                num_partitions=2, salt_n=2, commit_groups=1)
        sc.setLocalProperty(eventlog.PHASE_PROPERTY, None)
        spark.range(100).count()
        sc.setLocalProperty(eventlog.PHASE_PROPERTY, "cc")
        edges = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
        connected_components(edges).collect()
        sc.setLocalProperty(eventlog.PHASE_PROPERTY, None)
        stop_session(spark)
        names = {m for _, _, m, _ in eventlog.OPERATOR_METRICS} | {"number of output rows"}
        acc_ids = set()
        events = [_trim(e, names, acc_ids)
                  for e in eventlog.read_events(eventlog.find_log(work / "log"))
                  if e["Event"] in _KEEP]
        OUT.write_text("".join(json.dumps(e) + "\n" for e in events))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
