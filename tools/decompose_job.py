"""spark-submit helper for the 8->32 decomposition (tools/bench_decompose.py):
runs ONE pipeline prefix of the extraction job and reports its wall.

Variants (each includes everything above it — walls are cumulative
prefixes of the real job):
  scan      read -> partition_id/salt -> repartition -> noop write
            (JVM scan + the job's only shuffle; zero Python)
  arrow     scan + a mapInPandas PASSTHROUGH that ships the html bytes
            into Python and returns (url, n_bytes) — the extraction
            pass's Arrow-exchange profile with zero extraction CPU
  extract   scan + the real 16-stage extraction (pruned article columns,
            same as the measured job) -> noop write (no parquet sink)

The measured job's own wall (scan + extraction + parquet write) comes
from the headline scaling runs; (full - extract) isolates the sink.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--variant", required=True, choices=["scan", "arrow", "extract"])
    p.add_argument("--report-json", required=True)
    args = p.parse_args(argv)

    from readability_spark.spark.session import submitted_spark

    spark = submitted_spark(f"decompose-{args.variant}")
    cores = spark.sparkContext.defaultParallelism

    from readability_spark.spark.job import extract_articles, with_partition_id, with_salt

    def staged(df):
        df = with_partition_id(df, 64)
        df = with_salt(df, 4)
        return df.repartition(64 * 4, "partition_id", "salt").drop("salt")

    pages = spark.read.parquet(args.input).select("url", "warc_ts", "html")

    # warm-up (same contract as the measured job's --warmup): every Python
    # worker pays its import cost before the timed section
    warm = pages.limit(cores * 64).repartition(cores * 2)
    extract_articles(warm).agg(F.count(F.lit(1))).collect()

    if args.variant == "scan":
        timed = staged(pages)
    elif args.variant == "arrow":
        out_schema = StructType(
            [StructField("url", StringType()), StructField("n_bytes", LongType())]
        )

        def passthrough(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame(
                    {"url": pdf["url"], "n_bytes": [len(b) for b in pdf["html"]]}
                )

        timed = staged(pages).mapInPandas(passthrough, schema=out_schema)
    else:
        timed = extract_articles(
            staged(pages),
            article_columns=(
                "title", "text_content", "byline", "excerpt", "lang", "dir",
                "length", "published_time", "site_name",
            ),
        )

    t0 = time.time()
    timed.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    payload = {"variant": args.variant, "cores": cores, "wall_secs": round(wall, 3)}
    print(json.dumps(payload))
    with open(args.report_json, "w") as fh:
        fh.write(json.dumps(payload) + "\n")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
