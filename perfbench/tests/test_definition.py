"""The layer map names only metrics and workloads of BENCHMARK.json; the
in-process layer timer recomposes extract_row exactly."""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks  # noqa: E402
from perfbench.layers import time_layers  # noqa: E402
from perfbench.workloads import documents  # noqa: E402
from readability_spark.fixtures import build_rows  # noqa: E402
from readability_spark.options import DEFAULT_OPTIONS, Options  # noqa: E402
from readability_spark.spark.pages import synthesize_html  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYER_MAP = json.loads((ROOT / "perfbench" / "layer_map.json").read_text())


def test_layer_map_covers_every_layer_metric_once():
    listed = [name for group in LAYER_MAP.values() for name in group["metrics"]]
    assert sorted(listed) == sorted(m["name"] for m in BENCH["per_layer"])
    end_to_end = {m["name"] for m in BENCH["end_to_end"]}
    workloads = {w["name"] for w in BENCH["workloads"]}
    for group in LAYER_MAP.values():
        for metric, names in group["moves"].items():
            assert metric in end_to_end
            assert set(names) <= workloads
        assert set(group.get("zero_on", ())) <= workloads


def test_layer_timer_recomposes_extract_row():
    docs = documents(3, 20)
    htmls = [synthesize_html(i, t, l).encode() for i, t, l in zip(docs.doc_id, docs.text, docs.lang)]
    layer_ms, nodes, _, mismatches = time_layers(htmls, [2] * len(htmls), DEFAULT_OPTIONS, True)
    assert mismatches == 0 and nodes > 0
    assert "scoring.grab_article" not in layer_ms and layer_ms["dom.serialize"] > 0

    rows = build_rows(120)
    fixtures = [r.html for r in rows] + [checks.deep_nest_html(60, "a b c").encode()]
    layer_ms, _, _, mismatches = time_layers(
        fixtures, [1] * len(fixtures), Options(content_extraction=True), True
    )
    assert mismatches == 0 and layer_ms["scoring.grab_article"] > 0
