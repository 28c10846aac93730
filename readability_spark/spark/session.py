"""SparkSession factory with the engine's tuned configuration.

The conf encodes the north_rule requirements (AQE-tuned shuffle, skew join
handling) plus Arrow-batch sizing for fat HTML rows (SURVEY.md section 4.2):
html bodies are KB-MB, so the default 10k-record Arrow batches would balloon
Python-worker memory; 512 rows per batch keeps a batch in the tens of MB at
Common-Crawl page sizes while still amortizing the Arrow transfer.
"""

from __future__ import annotations

import os
import site
from pathlib import Path

from pyspark.sql import SparkSession

ENGINE_CONF = {
    # AQE: runtime shuffle re-planning, partition coalescing, skew-join split
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Arrow exchange for pandas UDFs / mapInPandas (the only JVM<->Python copy)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep Python workers alive across tasks: without this every task forks a
    # fresh worker and pays the pandas/pyarrow import (~0.6-2s per task —
    # measured 25s -> 2.6s for a 64-task mapInPandas stage on local[8]).
    # A reused worker still paid 100-240 ms a task re-reading Spark's
    # pyspark zip and spark-core jar; local masters also get the worker
    # daemon that takes those archives off the path (engine_conf below)
    "spark.python.worker.reuse": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # fat binary rows: keep scan partitions moderate
    "spark.sql.files.maxPartitionBytes": "128m",
    # fat rows also blow up the vectorized parquet reader: the default
    # 4096-row column batch at ~25-100 KB/row is 100 MB-400 MB PER TASK
    # (observed heap OOM at 32 concurrent scan tasks); 512 rows keeps a
    # batch in the tens of MB and matches the Arrow exchange batch size
    "spark.sql.parquet.columnarReaderBatchSize": "512",
    "spark.sql.shuffle.partitions": "32",
    # deterministic timestamps across engines
    "spark.sql.session.timeZone": "UTC",
    # ParallelGC, not the G1 default: Arrow batches for fat rows are
    # multi-MB short-lived buffers — humongous allocations under G1, which
    # collapse throughput (measured 82s -> 56s on the 200k-page extraction
    # job at local[32], and catastrophically worse at large heaps).
    # NOTE: takes effect only when the driver JVM starts AFTER this conf is
    # set (plain-python sessions); spark-submit callers must pass it as
    # --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # lineage metrics ride an accumulator off the extraction pass; a
    # speculative duplicate task would double-count its partition's
    # docs/ok/failed/cpu_ms, so speculation stays off for extraction jobs
    # (lineage *correctness* — which partitions committed — never depends on
    # accumulator values, but the reported counts should be exact)
    "spark.speculation": "false",
}


# the directory the readability_spark package is imported from
_PACKAGE_ROOT = Path(__file__).resolve().parents[2]


def _importable_at_worker_start():
    """True when a Python process started here, with this environment,
    imports readability_spark from a plain directory without any task's
    ``--py-files``: from the working directory, PYTHONPATH or site-packages.
    Not when the package itself came from a zip."""
    if not _PACKAGE_ROOT.is_dir():
        return False
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return any(d and Path(d).resolve() == _PACKAGE_ROOT for d in dirs)


def engine_conf(master):
    """ENGINE_CONF plus the settings that hold only for a ``local[...]``
    master.  There the Python workers run on this host, so they start from
    ``readability_spark.worker_daemon`` (installed pyspark instead of Spark's
    archives, pre-imported engine).  A cluster executor may not have the
    package when its daemon starts (``--py-files`` arrive per task), so any
    other master gets ENGINE_CONF alone."""
    conf = dict(ENGINE_CONF)
    if (master == "local" or master.startswith("local[")) and _importable_at_worker_start():
        conf["spark.python.daemon.module"] = "readability_spark.worker_daemon"
    return conf


def get_spark(app_name="readability-spark", master=None, conf=None, shuffle_partitions=None):
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = engine_conf(master)
    if shuffle_partitions is not None:
        merged["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if conf:
        merged.update(conf)
    for key, value in merged.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submitted_defaults(submitted):
    """The engine settings to apply under spark-submit: ``engine_conf`` for
    the submitted master, minus every key the submitter set (its ``--conf``
    and spark-defaults.conf win; ``builder.config`` would override them)."""
    defaults = engine_conf(submitted.get("spark.master", "local[*]"))
    return {k: v for k, v in defaults.items() if k not in submitted}


def submitted_spark(app_name):
    """Session for a spark-submit entry point (``scripts/extract_job.py``):
    the submitted conf plus ``submitted_defaults``.  spark-submit hands its
    conf to the JVM it started; reading it needs the gateway to that JVM,
    which pyspark opens lazily.  Outside spark-submit nothing was submitted
    and no JVM is started early, so the engine's JVM options still apply."""
    from pyspark import SparkConf, SparkContext

    submitted = {}
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        submitted = dict(SparkConf().getAll())
    builder = SparkSession.builder.appName(app_name)
    for key, value in submitted_defaults(submitted).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
