"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Runs every workload once untraced and once traced through the real
command line, and checks the output checks themselves on corrupted
expectations. Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402

# spans a traced run of each workload must emit: one per layer it measures
SPANS = {
    "crawl_job": {
        "jobs.run_job", "jobs.run_job.resume", "sources.read", "snapshot",
        "pages.extract", "geocode_kernel", "tiling.udf",
        "streaming.geocode_pages_stream",
    },
    "stream_ingest": {
        "streaming.geocode_pages_stream", "sources.read", "snapshot",
        "pages.extract", "geocode_kernel", "tiling.udf",
    },
    "spatial_queries": {f"spatial.{q}" for q in ("pip_grid", "pip_h3", "knn_h3", "knn_grid", "rollup")},
}
COMMON_SPANS = {
    "geocode.build_gazetteer_index", "text.extract_text",
    "geocode_kernel.cascade_kernel", "h3.latlng_to_cell", "s2.lat_lon_to_leaf_id",
}


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_workload_prints_every_metric_and_span(workload):
    res = _run(workload, trace=0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())

    res = _run(workload, trace=1)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench_work", f"spans-{workload}-3.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    names = {s["name"] for s in spans}
    assert SPANS[workload] | COMMON_SPANS <= names
    assert len({s["run_id"] for s in spans}) == 1
    assert all(s["end"] >= s["start"] for s in spans)


def test_corrupted_page_expectation_is_caught():
    truth = pd.DataFrame({"url": ["a", "b", "c"], "place_id": [1, 2, 3]})
    got = truth.copy()
    assert gen.page_failures(got, truth) == 0
    bad = truth.assign(place_id=[1, 2, 4])
    assert gen.page_failures(got, bad) == 1
    assert gen.page_failures(got.iloc[:2], truth) == 1  # a page lost
    assert gen.page_failures(pd.concat([got, got.iloc[:1]]), truth) == 1  # kept twice


def test_corrupted_spatial_expectations_are_caught():
    truth = pd.Series([0, 1, 1], index=[10, 11, 12])
    got = pd.DataFrame({"pt_id": [12, 10, 11], "poly_id": [1, 0, 1]})
    assert gen.pip_ok(got, truth)
    assert not gen.pip_ok(got, truth.replace({0: 2}))
    assert not gen.pip_ok(got, truth.iloc[:2])

    q_ids = np.array([5, 3])
    want = np.array([[0.1, 0.2], [0.3, 0.4]])  # rows in q_ids order
    res = pd.DataFrame({"query_id": [3, 3, 5, 5], "dist_km": [0.4, 0.3, 0.2, 0.1]})
    assert gen.knn_ok(res, q_ids, want)
    assert not gen.knn_ok(res, q_ids, want + np.array([[0, 0], [0, 1e-3]]))

    counts = pd.Series([3, 1], index=[7, 8])
    assert gen.counts_ok(pd.Series([1, 3], index=[8, 7]), counts)
    assert not gen.counts_ok(pd.Series([1, 3], index=[8, 7]), counts.replace({3: 2}))
