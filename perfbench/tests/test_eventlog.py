"""The event-log parser on a small captured log (see capture_eventlog.py):
a run_job over 16 contract pages in phase ``timed``, one job outside any
phase, and connected_components over a 3-node path graph in phase ``cc``."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import eventlog  # noqa: E402

LOG = Path(__file__).resolve().parent / "data" / "eventlog_small.json"


@pytest.fixture(scope="module")
def events():
    return list(eventlog.read_events(LOG))


def test_run_job_phase_maps_operators_to_layers(events):
    m = eventlog.layer_metrics(events, "timed", cores=4)
    assert m["scan.rows"] == 16
    assert m["scan.bytes"] > 0 and m["scan.ms"] > 0
    assert m["shuffle.records"] == 16 and m["shuffle.write_bytes"] > 0
    assert m["arrow.sent_bytes"] > 0 and m["arrow.returned_bytes"] > 0
    assert m["python.run_ms"] > 0
    assert m["sink.files"] >= 1 and m["sink.bytes"] > 0
    assert m["tasks.count"] > 0 and m["tasks.failed"] == 0
    assert m["tasks.run_ms_p50"] <= m["tasks.run_ms_max"] <= m["tasks.run_ms_sum"]
    assert 0 < m["job.core_busy_frac"] <= 1
    assert m["jvm.cpu_ms"] > 0
    assert m["joins.output_rows"] == 0 and m["cc.rounds"] == 0


def test_connected_components_phase_counts_rounds_and_join_rows(events):
    m = eventlog.layer_metrics(events, "cc", cores=4)
    # min-label propagation on 1-2-3: two rounds change labels, a third
    # confirms convergence
    assert m["cc.rounds"] == 3
    assert m["joins.output_rows"] > 0
    assert m["scan.rows"] == 0 and m["python.run_ms"] == 0 and m["sink.files"] == 0


def test_jobs_outside_the_phase_are_not_counted(events):
    all_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    timed = eventlog.layer_metrics(events, "timed", cores=4)["tasks.count"]
    cc = eventlog.layer_metrics(events, "cc", cores=4)["tasks.count"]
    assert timed + cc < all_tasks
    empty = eventlog.layer_metrics(events, "no such phase", cores=4)
    assert all(v == 0 for v in empty.values())
