"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It generates (or reuses) the seed's
input, starts one ``local[<cores>]`` session, calls the workload's job in a
closed loop with one caller for ``--seconds``, checks every output row, and
prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing off).  ``--trace 1``
reports the per-layer metrics: it runs ``--seconds`` untraced and
``--seconds`` in a second session with Spark's event log on, then times
the layers in-process and runs the host ceiling probe.  The metric names
and units are those of ``BENCHMARK.json``.  Progress goes to standard
error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"
CACHE = ROOT / ".bench_cache"

_T0 = time.perf_counter()


def log(msg):
    print(f"perfbench [{time.perf_counter() - _T0:6.1f} s]: {msg}", file=sys.stderr, flush=True)


def _check_checkout():
    """The program is built from the checkout's own sources; without them
    there is nothing to measure."""
    needed = [
        ROOT / "readability_spark" / "pipeline.py",
        ROOT / "readability_spark" / "spark" / "job.py",
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        ROOT / "tools" / "check_oracles.py",
    ]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        log(f"not a readability_spark checkout, missing: {', '.join(missing)}")
        sys.exit(2)


def environment(work: Path):
    """Keep every file Spark, its JVM and its Python workers write inside the
    checkout, and let the workers import the checkout's engine."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit's launcher JVM would write its perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))


def _metric(value, unit):
    return {"value": float(value), "unit": unit}


def closed_loop(spark, wl, inputs, seconds, work, tag):
    """Call the workload back to back, one caller, until ``seconds`` have
    passed and at least one call ran; each call's wall time and the peak
    RSS of the JVM and its Python workers during it."""
    from perfbench.procmem import PeakRss
    from perfbench.session import jvm_pid
    from perfbench.workloads import Call

    calls = []
    start = time.perf_counter()
    while not calls or time.perf_counter() - start < seconds:
        out = work / f"{tag}-call{len(calls)}"
        with PeakRss(jvm_pid()) as rss:
            t0 = time.perf_counter()
            output = wl.call(spark, inputs, out, len(calls))
            wall = time.perf_counter() - t0
        calls.append(Call(wall, rss.peak_bytes, output))
        log(f"{tag} call {len(calls) - 1}: {wall:.3f} s, peak rss {rss.peak_bytes / 1e6:.0f} MB")
    return calls


def _start(wl, work, event_log_dir=None):
    """Session start plus Python-worker warm-up; returns (spark, seconds)."""
    from perfbench.session import start_session

    t0 = time.perf_counter()
    spark = start_session(work, event_log_dir)
    wl.warm_up(spark, work)
    return spark, time.perf_counter() - t0


def _inputs(wl, seed, work):
    """The seed's input, generated before the measured session starts so
    generation never shares the host with it."""
    t0 = time.perf_counter()
    inputs = wl.ensure_inputs(seed, CACHE, work)
    log(
        f"input {inputs.dir.name}: {inputs.docs} docs, {inputs.input_bytes / 1e6:.1f} MB "
        f"(generated in {inputs.meta['gen_s']:.1f} s; this run waited "
        f"{time.perf_counter() - t0:.1f} s)"
    )
    return inputs


def _check_calls(wl, inputs, calls):
    expected = wl.expected(inputs)
    for c in calls:
        wl.check(inputs, c, expected)
    attempted = sum(c.attempted for c in calls)
    failed = sum(c.failed for c in calls)
    log(f"checked {len(calls)} calls: {failed} of {attempted} documents failed "
        f"(failed_frac {failed / attempted:.6f})")
    return attempted, failed


def timed_run(wl, seed, seconds, work):
    from perfbench.report import units
    from perfbench.session import stop_session

    inputs = _inputs(wl, seed, work)
    spark, setup_s = _start(wl, work)
    log(f"setup {setup_s:.3f} s")
    try:
        calls = closed_loop(spark, wl, inputs, seconds, work, "timed")
    finally:
        stop_session(spark)
    attempted, failed = _check_calls(wl, inputs, calls)
    metrics = {
        "docs_per_s": statistics.median(c.docs_written / c.wall_s for c in calls),
        "input_mb_per_s": statistics.median(inputs.input_bytes / 1e6 / c.wall_s for c in calls),
        "peak_rss_mb": statistics.median(c.peak_rss_bytes / 1e6 for c in calls),
        "setup_s": setup_s,
    }
    unit = units("end_to_end")
    return attempted, failed, {k: _metric(v, unit[k]) for k, v in metrics.items()}


def traced_run(wl, seed, seconds, work):
    from perfbench import eventlog
    from perfbench.report import per_layer
    from perfbench.session import cores, stop_session

    inputs = _inputs(wl, seed, work)
    spark, _ = _start(wl, work)
    try:
        plain = closed_loop(spark, wl, inputs, seconds, work, "untraced")
    finally:
        stop_session(spark)

    log_dir = work / "eventlog"
    spark, _ = _start(wl, work, event_log_dir=log_dir)
    lineage_ms = 0.0
    try:
        sc = spark.sparkContext
        sc.setLocalProperty(eventlog.PHASE_PROPERTY, "timed")
        traced = closed_loop(spark, wl, inputs, seconds, work, "traced")
        if wl.kind == "extract":
            from readability_spark.spark.job import completed_partitions

            sc.setLocalProperty(eventlog.PHASE_PROPERTY, "lineage")
            t0 = time.perf_counter()
            completed_partitions(spark, str(traced[0].output / "lineage"), "perfbench-0")
            lineage_ms = (time.perf_counter() - t0) * 1000.0
        sc.setLocalProperty(eventlog.PHASE_PROPERTY, None)
    finally:
        stop_session(spark)
    spark_layers = eventlog.layer_metrics(
        eventlog.read_events(eventlog.find_log(log_dir)), "timed", cores()
    )
    attempted, failed = _check_calls(wl, inputs, plain + traced)
    metrics = per_layer(wl, inputs, plain, traced, spark_layers, lineage_ms)
    return attempted, failed, metrics


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    _check_checkout()
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    environment(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    try:
        run = traced_run if args.trace else timed_run
        attempted, failed, metrics = run(wl, args.seed, args.seconds, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
