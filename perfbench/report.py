"""Assembly of the traced run's per-layer metrics.

Spark-side layers (scan, shuffle, the Arrow boundary, sink, scheduling,
textops) come from the event log of the traced calls; Python-side layers
(parse, the 16 stages, scoring, ``text()``, serialize) from the in-process
layer timer, scaled to the traced calls' documents.  The layer sum is
compared against the summed task run time; the difference is the
residual.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

from . import ceiling
from .layers import STAGE_NAMES, time_layers
from .session import cores

BENCHMARK_JSON = Path(__file__).resolve().parents[1] / "BENCHMARK.json"


def units(section):
    """Metric name -> unit of one of BENCHMARK.json's metric lists
    (``end_to_end`` or ``per_layer``)."""
    return {m["name"]: m["unit"] for m in json.loads(BENCHMARK_JSON.read_text())[section]}


#: Spark-side layers of the layer sum, each a part of some task's run
#: time.  python.start_ms and python.init_ms are left out: Spark times
#: worker initialization from the worker's side, and its total exceeds the
#: summed task run time, so it overlaps the other layers.
_SPARK_LAYERS = (
    "scan.ms",
    "shuffle.write_ms",
    "shuffle.fetch_wait_ms",
    "sink.task_commit_ms",
)


def _log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def per_layer(wl, inputs, plain, traced, spark_layers, lineage_ms):
    """Every per-layer metric of BENCHMARK.json for one traced run.
    ``plain`` and ``traced`` are the checked calls of the untraced and the
    traced half."""
    unit = units("per_layer")
    m = {name: 0.0 for name in unit}
    for name in m:
        if name in spark_layers:
            m[name] = spark_layers[name]
    m["lineage.check_ms"] = lineage_ms
    task_ms = spark_layers["tasks.run_ms_sum"]
    docs_plain = statistics.median(c.docs_written / c.wall_s for c in plain)
    docs_traced = statistics.median(c.docs_written / c.wall_s for c in traced)
    m["trace.overhead_frac"] = 1.0 - docs_traced / docs_plain
    layer_sum = sum(m[name] for name in _SPARK_LAYERS)

    if wl.kind == "query":
        m["textops.edge_rows"] = spark_layers["joins.output_rows"]
        m["textops.shuffle_bytes"] = spark_layers["shuffle.write_bytes"]
        m["textops.cc_rounds"] = spark_layers["cc.rounds"]
    else:
        extract_ms = [ms for c in traced for ms in c.extract_ms]
        docs = len(extract_ms)
        m["extract.ms_mean"] = statistics.fmean(extract_ms)
        m["extract.ms_p50"] = statistics.median(extract_ms)
        m["extract.ms_max"] = max(extract_ms)
        m["extract.docs_per_s_1core"] = 1000.0 / m["extract.ms_mean"]
        m["boundary.ms_per_doc"] = m["python.run_ms"] / docs - m["extract.ms_mean"]

        htmls, weights = wl.sample(inputs)
        options = wl.options or _default_options()
        layer_ms, nodes, inproc_ms, mismatches = time_layers(
            htmls, weights, options, want_content=True
        )
        if mismatches:
            raise RuntimeError(
                f"layer timer: {mismatches} documents differ from extract_row"
            )
        # the timer makes one weighted pass over the input; the traced half
        # made len(traced) passes
        scale = len(traced)
        m["dom.parse_ms"] = layer_ms.get("dom.parse", 0.0) * scale
        m["dom.nodes"] = nodes * scale
        m["dom.text_ms"] = layer_ms.get("dom.text", 0.0) * scale
        m["dom.serialize_ms"] = layer_ms.get("dom.serialize", 0.0) * scale
        m["scoring.grab_article_ms"] = layer_ms.get("scoring.grab_article", 0.0) * scale
        for name in STAGE_NAMES:
            m[f"stages.{name}_ms"] = layer_ms.get(f"stages.{name}", 0.0) * scale
        python_layers = sum(layer_ms.values()) * scale
        extract_sum = sum(extract_ms)
        # Python-worker run time = the boundary (Arrow hand-off, pandas
        # conversion, batch assembly) + the in-worker extract time; the
        # layer sum takes the boundary from Spark and the extract part from
        # the in-process spans
        layer_sum += (m["python.run_ms"] - extract_sum) + python_layers
        _log(
            f"extract in Spark {extract_sum:.0f} ms vs in-process layers "
            f"{python_layers:.0f} ms ({inproc_ms * scale:.0f} ms untraced in-process)"
        )

        m["ceiling.docs_per_s"] = ceiling.docs_per_s(
            inputs.dir / "pages.parquet", cores(), options.content_extraction, want_content=True
        )
        m["engine.overhead_frac"] = 1.0 - docs_plain / m["ceiling.docs_per_s"]
    m["layers.sum_ms"] = layer_sum
    m["layers.task_ms"] = task_ms
    m["layers.residual_ms"] = task_ms - layer_sum
    _log(
        f"layer sum {layer_sum:.0f} ms vs summed task time {task_ms:.0f} ms: "
        f"residual {task_ms - layer_sum:.0f} ms ({(task_ms - layer_sum) / task_ms:.1%})"
    )
    _log(
        f"docs/s untraced {docs_plain:.1f}, traced {docs_traced:.1f} "
        f"(tracing overhead {m['trace.overhead_frac']:.1%})"
    )
    assert m.keys() == unit.keys(), sorted(m.keys() ^ unit.keys())
    return {k: {"value": float(v), "unit": unit[k]} for k, v in m.items()}


def _default_options():
    from readability_spark.options import DEFAULT_OPTIONS

    return DEFAULT_OPTIONS
