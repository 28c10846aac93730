"""Host ceiling probe: ``extract_row`` over every page of a pages parquet,
split across plain worker processes, without Spark.

    python3 -m perfbench.ceiling <pages.parquet> <shard> <n_shards> <scored> <want_content>

A worker loads its shard, prints ``ready``, waits for a line on standard
input, extracts its pages and prints ``<start> <end> <pages>`` (monotonic
clock seconds).  ``docs_per_s`` starts one worker per shard, releases them
together and divides all pages by the span from the first start to the
last end.
"""

from __future__ import annotations

import subprocess
import sys
import time


def docs_per_s(pages_path, n_procs, scored, want_content, timeout=120.0):
    args = [str(pages_path), "", str(n_procs), str(int(scored)), str(int(want_content))]
    procs = []
    try:
        for shard in range(n_procs):
            args[1] = str(shard)
            procs.append(
                subprocess.Popen(
                    [sys.executable, "-m", "perfbench.ceiling", *args],
                    stdin=subprocess.PIPE,
                    stdout=subprocess.PIPE,
                    text=True,
                )
            )
        for p in procs:
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("ceiling worker failed to load its shard")
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        spans = []
        for p in procs:
            out, _ = p.communicate(timeout=timeout)
            if p.returncode != 0:
                raise RuntimeError(f"ceiling worker exited with {p.returncode}")
            start, end, n = out.split()
            spans.append((float(start), float(end), int(n)))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    start = min(s for s, _, _ in spans)
    end = max(e for _, e, _ in spans)
    return sum(n for _, _, n in spans) / (end - start)


def _worker(pages_path, shard, n_shards, scored, want_content):
    import pyarrow.parquet as pq

    from readability_spark.options import DEFAULT_OPTIONS, Options
    from readability_spark.pipeline import extract_row

    options = Options(content_extraction=True) if scored else DEFAULT_OPTIONS
    htmls = pq.read_table(pages_path, columns=["html"]).column("html").to_pylist()
    mine = htmls[shard::n_shards]
    print("ready", flush=True)
    sys.stdin.readline()
    start = time.monotonic()
    for html in mine:
        extract_row(html, options=options, want_content=want_content)
    print(start, time.monotonic(), len(mine), flush=True)


if __name__ == "__main__":
    path, shard, n, scored, content = sys.argv[1:6]
    _worker(path, int(shard), int(n), scored == "1", content == "1")
