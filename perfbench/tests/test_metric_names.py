"""The metrics a run prints are exactly the ones BENCHMARK.json declares."""

from __future__ import annotations

import json
from pathlib import Path

import layers
import run
from spans import PipelineTracer

DECLARED = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text()
)


class _FakeContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_end_to_end_names_and_units():
    got = run.end_to_end_metrics(100, [2.0, 3.0], 0.999, 9.5)
    want = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["docs_per_s"]["value"] == 40.0
    assert all(v["value"] for v in got.values())


def test_per_layer_names_and_units():
    tracer = PipelineTracer(_FakeSpark(), clock=iter(range(100)).__next__)
    with tracer.traced_run("w.c1") as run_idx:
        pass
    counts = {"blocks": 10, "truncated_blocks": 1, "block_wall_ms": 1000,
              "pairs_scored": 8, "edges_accepted": 2, "score_wall_ms": 2000,
              "clusters": 3, "cc_iterations": 2, "cluster_wall_ms": 500}
    sample = {"run_id": "c1", "run_span": run_idx, "counts": counts,
              "steal_pct": 0.1, "busy_pct": 90.0}
    outputs = {"kept_rows": 10, "useful_rows": 6, "enumerated_pairs": 9,
               "lineage_rows": 7, "truncated_rows": 4}
    table = layers.layer_metrics("w", tracer, {}, [sample], [outputs])
    table["run.resume_s"] = (1.5, "s")
    table["jvm.peak_rss_mb"] = (512.0, "MB")
    table["trace.overhead_s"] = (0.0, "s")
    want = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    assert {k: unit for k, (_, unit) in table.items()} == want
    assert table["blocking.useful_row_ratio"][0] == 6 / 14
    assert table["scoring.distinct_ratio"][0] == 8 / 9


def test_workloads_match():
    assert sorted(w["name"] for w in DECLARED["workloads"]) == sorted(run.WORKLOADS)
