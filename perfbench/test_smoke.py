"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

For each workload: an untraced run must print every end-to-end metric of
``BENCHMARK.json`` with its unit and pass its correctness checks; the
traced run of the same seed must print every per-layer metric with its
unit, and its span tree must cover the workload's layers with non-negative
self times. Takes a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)

LAYERS = {
    "batch": {"canonicalize", "features", "blocking", "scoring", "cluster",
              "io"},
    "skew": {"canonicalize", "features", "blocking", "scoring", "cluster",
             "io"},
    "stream": {"streaming", "incremental"},
}


def run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def units(result: dict) -> dict[str, str]:
    return {k: m["unit"] for k, m in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_metrics_and_span_tree(workload):
    plain = run(workload, 0)
    assert plain["correct"] and plain["failed"] == 0, plain
    assert plain["attempted"] >= 1
    assert units(plain) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in plain["metrics"].values()), plain

    traced = run(workload, 1)
    assert traced["correct"], traced
    assert units(traced) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    with open(os.path.join(ROOT, ".bench_run", f"{workload}-tiny",
                           "spans.json"), encoding="utf-8") as f:
        spans = json.load(f)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["self_s"] >= 0 and s["end"] >= s["start"] for s in spans)
    assert LAYERS[workload] <= {s["layer"] for s in spans}
    values = {k: m["value"] for k, m in traced["metrics"].items()}
    for layer in LAYERS[workload]:
        assert values[f"{layer}.jobs"] > 0, layer
    if workload == "skew":
        assert values["cluster.distributed"] == 1
        assert values["cluster.iterations"] >= 1
        assert values["blocking.hot_key_rows"] > 0
        assert values["blocking.pair_cap_rows"] > 0
    if workload == "batch":
        assert values["cluster.distributed"] == 0
    if workload == "stream":
        assert values["streaming.batches"] >= 1
        assert values["incremental.new_convs"] > 0
