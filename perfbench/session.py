"""One local Spark session per set-up, with every file it writes kept
inside the benchmark's work directory, and a stop that ends the JVM and
its Python workers so the next set-up pays the full launch again."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from pathlib import Path

from . import procmem


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, event_log_dir: Path | None = None):
    """``local[cores]`` session with the engine's configuration
    (readability_spark.spark.session.get_spark) plus settings that keep the
    JVM's scratch files under ``work`` and turn off the UI and console
    progress bars.  ``event_log_dir`` switches on Spark's event log as one
    uncompressed JSON file."""
    from readability_spark.spark.session import ENGINE_CONF, get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        # a deployment setting the engine leaves to its user.  Pinned, and
        # fixed in size by -Xms below: a heap that grows on demand makes
        # peak RSS depend on when the collector resized it
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -Xms: see spark.driver.memory.  The JVM's temp files and its
        # hsperfdata file would otherwise land in /tmp
        "spark.driver.extraJavaOptions": (
            f"{ENGINE_CONF['spark.driver.extraJavaOptions']} "
            f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", master=f"local[{cores()}]", conf=conf)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM it ran in, and wait until the
    JVM and every process it started (the Python worker daemon and its
    workers) have exited.  PySpark keeps one gateway per Python process;
    dropping it makes the next ``start_session`` launch a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = procmem.tree_pids(gateway.proc.pid) if gateway is not None else []
    spark.stop()
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    proc = gateway.proc
    # the JVM exits when its stdin closes (pyspark's launch contract)
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids[1:]:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + timeout
            time.sleep(0.02)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False
