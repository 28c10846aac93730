"""The Spark execution layer: vectorized extraction, explicit partitioning,
domain-skew salting, per-partition lineage/metrics, resumable runs.

Design (SURVEY.md sections 3.4 / 2.5):

- dataset level is pure declarative DataFrame API (Catalyst optimizes scans,
  filters push down, AQE re-plans shuffles);
- the per-document 16-stage DOM pipeline runs inside ONE ``mapInPandas``
  invocation per row batch (Arrow exchange is the only JVM<->Python copy;
  no stage-per-UDF chaining, no driver-side loops over rows);
- partition attribution is logical: ``partition_id = pmod(xxhash64(url), N)``
  — stable across cluster sizes, so lineage written at N executors resumes
  correctly at 4N;
- skew salting is hash-based (deterministic), never ``rand()``:
  ``salt = pmod(xxhash64(url), salt_n)`` spreads a hot domain over salt_n
  reducers while keeping the logical partition key intact.

At 100 TB the same plan holds: the parquet/Iceberg scan prunes on the
partition transform, the repartition is the only shuffle, and the write is
an idempotent append keyed by (run_id, partition_id).
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from itertools import repeat
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..options import DEFAULT_OPTIONS
from ..pipeline import extract_row
from .sources import append_ref, is_table_ref, read_ref

ARTICLE_FIELDS = [
    StructField("byline", StringType(), True),
    StructField("content", StringType(), True),
    StructField("dir", StringType(), True),
    StructField("excerpt", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("length", LongType(), True),
    StructField("published_time", StringType(), True),
    StructField("site_name", StringType(), True),
    StructField("text_content", StringType(), True),
    StructField("title", StringType(), True),
]

STATUS_FIELDS = [
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
    StructField("extract_ms", DoubleType(), True),
]

# docs/ok/failed/docs_per_sec are *at-least-once* metrics: they come from an
# accumulator, so a retried task re-adds its partition's counts (speculation
# is disabled in ENGINE_CONF; task retries after executor loss can still
# inflate them).  Which partitions committed — the resume contract — depends
# only on the (run_id, partition_id, status) rows, never on these counts;
# exact counts are always derivable from the output table itself.
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("docs", LongType(), False),
        StructField("ok", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("started_at", TimestampType(), False),
        StructField("finished_at", TimestampType(), False),
        StructField("docs_per_sec", DoubleType(), True),
    ]
)

_ARTICLE_COL_NAMES = [f.name for f in ARTICLE_FIELDS]

_RESERVED = set(_ARTICLE_COL_NAMES) | {
    "status",
    "error",
    "extract_ms",
}


class MetricsAccumulatorParam(AccumulatorParam):
    """Accumulator merging per-logical-partition extraction metrics:
    ``{partition_id: [docs, ok, failed, cpu_ms]}``.  Lets the job collect
    the north_rule's per-partition docs/sec + failure counts as a side
    effect of the one extraction pass — no readback scan of the output.
    Metrics-only by contract: a retried task double-counts its partition's
    metrics, but lineage *correctness* (which partitions committed) never
    depends on these values, only on the commit group's write succeeding."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for pid, m in b.items():
            cur = a.get(pid)
            if cur is None:
                a[pid] = list(m)
            else:
                for i in range(4):
                    cur[i] += m[i]
        return a


def extract_articles(
    df: DataFrame, options=None, article_columns=None, metrics_acc=None
) -> DataFrame:
    """Add the Article columns to a pages DataFrame.

    Library surface mirroring Readability::parse at dataset scale
    (/root/reference/src/readability.rs:38-63): one vectorized
    ``mapInPandas`` pass over the pages contract; per-row failures become
    status/error columns, never exceptions (a failed document must not kill
    the Arrow batch).  Every row goes through ``pipeline.extract_row``,
    which also takes gzip-compressed ``html`` bytes.

    The ``html`` column is consumed; every other input column passes
    through unchanged, except names that collide with the output columns
    (e.g. the crawl's ``lang`` hint vs the extracted lang), which are
    dropped — the extracted value wins.  With
    ``Options(fix_relative_uris=True)`` each row's URIs resolve against its
    own ``url``.

    ``article_columns`` is projection pushdown into the UDF: an iterable of
    Article column names to emit (default: all ten).  Catalyst prunes
    columns it can see, but it cannot see inside a Python UDF — when the
    consumer never reads ``content``, dropping it here skips building a
    ~25 KB HTML string per row (dom.serialize) AND shipping it through
    Arrow AND writing it to parquet.  status/error/extract_ms are always
    emitted.

    ``metrics_acc`` (an accumulator built with ``MetricsAccumulatorParam``)
    collects per-``partition_id`` [docs, ok, failed, cpu_ms] as the pass
    runs, so callers get per-partition throughput without re-scanning the
    output.
    """
    options = options or DEFAULT_OPTIONS
    if article_columns is None:
        art_cols = list(_ARTICLE_COL_NAMES)
    else:
        art_cols = [c for c in _ARTICLE_COL_NAMES if c in set(article_columns)]
        unknown = set(article_columns) - set(_ARTICLE_COL_NAMES)
        if unknown:
            raise ValueError(f"unknown article columns: {sorted(unknown)}")
    want_content = "content" in art_cols
    art_fields = [f for f in ARTICLE_FIELDS if f.name in art_cols]
    passthrough = [
        f for f in df.schema.fields if f.name != "html" and f.name not in _RESERVED
    ]
    out_schema = StructType(passthrough + art_fields + STATUS_FIELDS)
    pass_cols = [f.name for f in passthrough]
    out_cols = [f.name for f in out_schema.fields]
    if metrics_acc is not None and "partition_id" not in df.columns:
        raise ValueError("metrics_acc requires a 'partition_id' column")
    if options.fix_relative_uris and "url" not in df.columns:
        raise ValueError("fix_relative_uris requires a 'url' column")

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {name: [] for name in art_cols}
            statuses, errors, timings = [], [], []
            local: dict = {}
            bases = pdf["url"] if options.fix_relative_uris else repeat(None)
            pids = pdf["partition_id"] if metrics_acc is not None else repeat(None)
            for raw, base_url, pid in zip(pdf["html"], bases, pids):
                t0 = time.perf_counter()
                article, status, error = extract_row(
                    raw, options=options, base_url=base_url, want_content=want_content
                )
                ms = (time.perf_counter() - t0) * 1000.0
                timings.append(ms)
                statuses.append(status)
                errors.append(error)
                for name in art_cols:
                    rows[name].append(None if article is None else getattr(article, name))
                if pid is not None:
                    m = local.setdefault(pid, [0, 0, 0, 0.0])
                    m[0] += 1
                    m[1 if status == "ok" else 2] += 1
                    m[3] += ms
            out = pdf[pass_cols].copy() if pass_cols else pd.DataFrame(index=pdf.index)
            for name in art_cols:
                out[name] = rows[name]
            if "length" in rows:
                out["length"] = pd.array(rows["length"], dtype="Int64")
            out["status"] = statuses
            out["error"] = errors
            out["extract_ms"] = timings
            if metrics_acc is not None:
                metrics_acc.add(local)
            yield out[out_cols]

    return df.mapInPandas(run_batches, schema=out_schema)


READERABLE_SCHEMA_FIELDS = [
    StructField("readerable", BooleanType(), True),
    StructField("readerable_score", DoubleType(), True),
]


def readerable_flags(df: DataFrame, html_col="html", url_col="url") -> DataFrame:
    """mozilla isProbablyReaderable over a pages DataFrame: (url, readerable,
    readerable_score) per page, vectorized mapInPandas (no per-row Python at
    the Spark API level).  Semantics: readability_spark/readerable.py; the
    score is the early-exit accumulated value, rounded to 4 for portability.
    """
    from readability_spark.readerable import is_probably_readerable

    out_schema = StructType(
        [df.schema[url_col]] + READERABLE_SCHEMA_FIELDS
    )

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flags, scores = [], []
            for raw in pdf[html_col]:
                try:
                    ok, score = is_probably_readerable(raw)
                except Exception:  # undecodable html: not readerable
                    ok, score = None, None
                flags.append(ok)
                scores.append(None if score is None else round(score, 4))
            yield pd.DataFrame(
                {
                    url_col: pdf[url_col],
                    "readerable": pd.array(flags, dtype="boolean"),
                    "readerable_score": pd.array(scores, dtype="Float64"),
                }
            )

    return df.select(url_col, html_col).mapInPandas(run_batches, schema=out_schema)


def with_partition_id(df: DataFrame, num_partitions: int, url_col="url") -> DataFrame:
    """Logical partition key: stable hash of url (north_rule: explicit hash
    partitioning on url)."""
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_partitions)).cast("int"),
    )


def with_salt(df: DataFrame, salt_n: int, url_col="url") -> DataFrame:
    """Deterministic skew salt: a second, finer url hash.  Combined with the
    partition id in repartition(), it spreads a hot domain's rows across
    salt_n reducers (AQE cannot fix skew inside mapInPandas inputs, so this
    is explicit — SURVEY.md section 4.2)."""
    return df.withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col(url_col), F.lit(1)), F.lit(salt_n)).cast("int"),
    )


@dataclass
class JobReport:
    run_id: str
    partitions_total: int
    partitions_done_previously: int
    partitions_processed: int
    docs: int
    ok: int
    failed: int
    wall_secs: float
    docs_per_sec: float


class LineageCorruptError(RuntimeError):
    """The lineage table exists but cannot be read.  Raised instead of
    silently treating the run as fresh: recomputing over corrupt lineage
    would re-append partitions that were already committed (duplicate
    output rows), which is worse than failing loudly."""


def _local_path(ref):
    """The filesystem path of a local lineage ref, else None (a table ref or
    a remote URI).  A ref is local only when it carries NO URI scheme at all
    or the file: scheme: Hadoop normalizes to single-slash forms like dbfs:/x
    or file:/x, so matching on '://' would misroute those to the local
    filesystem and silently treat existing remote lineage as a fresh run."""
    if is_table_ref(ref):
        return None
    scheme = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", ref)
    if scheme is None:
        return ref
    if scheme.group(0).lower() != "file:":
        return None
    path = ref[scheme.end():]
    return path[2:] if path.startswith("//") else path


def _read_lineage(spark, lineage_path):
    """Read the lineage table, distinguishing "no lineage yet" (fresh run →
    None) from "lineage exists but is unreadable" (corrupt →
    LineageCorruptError).  Silently treating corrupt lineage as fresh would
    re-append already-committed partitions."""
    fs_path = _local_path(lineage_path)
    if fs_path is not None:
        try:
            entries = os.listdir(fs_path)
        except FileNotFoundError:
            return None
        except NotADirectoryError as exc:
            raise LineageCorruptError(
                f"lineage path {lineage_path!r} exists but is not a directory"
            ) from exc
        if not any(
            e.endswith(".parquet") and not e.startswith((".", "_")) for e in entries
        ):
            return None
        try:
            return read_ref(spark, lineage_path)
        except Exception as exc:
            raise LineageCorruptError(
                f"lineage table at {lineage_path!r} exists but is unreadable; "
                "refusing to resume (would duplicate committed partitions): "
                f"{exc}"
            ) from exc
    try:
        return read_ref(spark, lineage_path)
    except Exception as exc:
        # remote path / table ref: missing ↔ corrupt is classified from the
        # engine's error class (PATH_NOT_FOUND / TABLE_OR_VIEW_NOT_FOUND →
        # fresh run); anything else is a real read failure
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg:
            return None
        raise LineageCorruptError(
            f"lineage at {lineage_path!r} could not be read; refusing to "
            f"resume blind: {exc}"
        ) from exc


def _append_lineage(spark, lineage_rows, lineage_path):
    """Append a handful of lineage rows.  These are driver-side metadata
    (one row per logical partition per commit group); a path sink writes
    them directly with pyarrow — spinning up a Spark job to persist 64 tiny
    rows costs ~1.5 s of fixed overhead per commit group, which at small
    commit units is pure scaling-efficiency loss.  Table refs (Iceberg) and
    remote paths (hdfs://, s3a://) go through the engine: the former so the
    append is transactional, the latter because only it can write there."""
    fs_path = _local_path(lineage_path)
    if fs_path is None:
        append_ref(spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA), lineage_path)
        return
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    # derive the arrow schema from LINEAGE_SCHEMA so the two write paths
    # cannot drift when a lineage field is added or reordered
    _pa_types = {
        StringType(): pa.string(),
        IntegerType(): pa.int32(),
        LongType(): pa.int64(),
        TimestampType(): pa.timestamp("us"),
        DoubleType(): pa.float64(),
    }
    schema = pa.schema(
        [(f.name, _pa_types[f.dataType]) for f in LINEAGE_SCHEMA.fields]
    )
    cols = list(zip(*lineage_rows))
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(cols, schema)],
        schema=schema,
    )
    os.makedirs(fs_path, exist_ok=True)
    # crash-safe commit: write to a dot-prefixed temp name (Spark/Hadoop
    # readers skip '.'/'_' files) then atomically rename into place, so a
    # crash mid-write (OOM/preemption — exactly the resume scenario lineage
    # exists for) can never leave a truncated parquet the resume path reads
    name = f"lineage-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(fs_path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(fs_path, name))


def completed_partitions(spark, lineage_path, run_id):
    lineage = _read_lineage(spark, lineage_path)
    if lineage is None:
        return set()
    try:
        rows = (
            lineage.filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
            .select("partition_id")
            .distinct()
            .collect()
        )
    except Exception as exc:
        # the read is lazy: a truncated lineage file surfaces here, at the
        # scan — same contract as _read_lineage, refuse to resume blind
        raise LineageCorruptError(
            f"lineage at {lineage_path!r} exists but failed to scan; refusing "
            f"to resume (would duplicate committed partitions): {exc}"
        ) from exc
    return {r.partition_id for r in rows}


def run_job(
    spark,
    pages_df: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str,
    num_partitions: int = 64,
    salt_n: int = 8,
    commit_groups: int = 4,
    options=None,
    article_columns=None,
) -> JobReport:
    """Resumable extraction job with per-partition lineage.

    The logical partition space [0, num_partitions) is split into
    ``commit_groups`` commit units; each unit is extracted, appended to the
    output (parquet partitioned by partition_id), and recorded in the
    lineage table before the next unit starts.  A re-run with the same
    run_id anti-joins the lineage table and processes only missing
    partitions — resume without recompute (north_rule).  On an Iceberg
    catalog each commit unit is one transactional append; the parquet
    layout here is the sandbox stand-in.

    Per-partition metrics (docs, ok, failed, docs/sec) come from a metrics
    accumulator fed by the extraction pass itself — the write is the only
    scan of the data; nothing is read back.  ``article_columns`` prunes the
    emitted Article columns (see extract_articles): a text-corpus job that
    never consumes the content HTML should pass e.g.
    ``("title", "text_content", "length", "lang")``.
    """
    t_start = time.time()
    pages = with_partition_id(pages_df, num_partitions)
    done = completed_partitions(spark, lineage_path, run_id)
    todo = [p for p in range(num_partitions) if p not in done]

    groups = [
        todo[i::commit_groups] for i in range(commit_groups)
    ]
    groups = [g for g in groups if g]

    total_docs = total_ok = total_failed = 0
    processed = 0

    for group in groups:
        started_at = pd.Timestamp.utcnow().tz_localize(None)
        subset = pages.filter(F.col("partition_id").isin(group))
        subset = with_salt(subset, salt_n)
        # physical partitioning: one shuffle, keyed by (logical partition,
        # salt) so hot domains spread while attribution stays logical
        subset = subset.repartition(len(group) * salt_n, "partition_id", "salt")
        # metrics ride the extraction pass itself (no output readback scan)
        acc = spark.sparkContext.accumulator({}, MetricsAccumulatorParam())
        extracted = extract_articles(
            subset.drop("salt"),
            options=options,
            article_columns=article_columns,
            metrics_acc=acc,
        )
        append_ref(extracted, output_path, ("partition_id",))
        finished_at = pd.Timestamp.utcnow().tz_localize(None)

        by_pid = acc.value
        lineage_rows = []
        for pid in group:
            docs, ok, failed, cpu_ms = by_pid.get(pid, (0, 0, 0, 0.0))
            lineage_rows.append(
                (
                    run_id,
                    pid,
                    "ok",
                    docs,
                    ok,
                    failed,
                    started_at.to_pydatetime(),
                    finished_at.to_pydatetime(),
                    (docs / (cpu_ms / 1000.0)) if cpu_ms > 0 else None,
                )
            )
            total_docs += docs
            total_ok += ok
            total_failed += failed
            processed += 1
        _append_lineage(spark, lineage_rows, lineage_path)

    wall = time.time() - t_start
    return JobReport(
        run_id=run_id,
        partitions_total=num_partitions,
        partitions_done_previously=len(done),
        partitions_processed=processed,
        docs=total_docs,
        ok=total_ok,
        failed=total_failed,
        wall_secs=wall,
        docs_per_sec=(total_docs / wall) if wall > 0 else 0.0,
    )
