"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The seed tests are pure Python (plus DuckDB).  The run tests start the
benchmark as a subprocess, a few minutes in all.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import common, history, timeline, trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _h(obj) -> str:
    return hashlib.md5(repr(obj).encode()).hexdigest()


def timeline_fingerprint(seed: int) -> tuple:
    events, reqs = timeline.plan(seed, 3)
    return _h(events), _h([(r.cls, r.params, r.expected) for r in reqs])


def history_fingerprint(seed: int, tmp) -> tuple:
    data = history.generate(seed)
    paths = history.write_parquet(data, str(tmp / f"g{seed}"))
    batches = history.table_batches(seed)
    oracle = history.Oracle(paths, data["n_tx"], batches)
    oracle.apply_batch(0)
    reqs = [(r.cls, r.params, r.expected) for r in history.plan(seed, 1, oracle)]
    return _h((data, batches)), _h(reqs)


def test_timeline_seed_determines_requests_and_data():
    a, b, c = timeline_fingerprint(5), timeline_fingerprint(5), timeline_fingerprint(6)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]


def test_history_seed_determines_requests_and_data(tmp_path):
    a = history_fingerprint(5, tmp_path)
    b = history_fingerprint(5, tmp_path)
    c = history_fingerprint(6, tmp_path)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]


def test_best_of_takes_each_requests_fastest_pass():
    a, b = common.PassResult(), common.PassResult()
    a.samples = [("read", 0.3), ("write", 0.1), ("read", 0.2)]
    b.samples = [("read", 0.1), ("write", None), ("read", 0.4)]
    best = common.best_of([a, b])
    assert best["read"] == [0.1, 0.2]
    assert best["write"] == []  # failed in one pass: no sample


def test_unattributed_counts_bench_spans_only_under_jobs():
    tr = trace.Tracer.__new__(trace.Tracer)
    tr.epoch = 0.0
    tr.requests = [{"cls": "read", "group": "w/read/1", "start": 10.0, "end": 11.0,
                    "pkg_s": 0.2, "plan_s": 0.1, "bench": [(10.5, 11.0)]}]
    jobs = {1: {"group": "w/read/1", "start": 10_600, "end": 10_800},
            2: {"group": "w/read/2", "start": 10_500, "end": 11_000}}
    wall, rest = trace.unattributed(tr, jobs, [])["read"]
    assert wall == 1.0 and abs(rest - 0.5) < 1e-9
    # a SQL execution inside the collect covers its gaps between jobs
    wall, rest = trace.unattributed(tr, jobs, [(10_550, 10_900)])["read"]
    assert abs(rest - 0.35) < 1e-9


def test_per_layer_names_match_spec():
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert spec == trace.metric_names()


def run_bench(workload: str, seed: int, traced: int, seconds: int = 2) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.fixture(scope="module", params=WORKLOADS)
def traced_pair(request):
    return request.param, [run_bench(request.param, 11, 1) for _ in range(2)]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_output_matches_spec(workload):
    out = run_bench(workload, 12, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_output_matches_spec_and_counts_repeat(traced_pair):
    workload, (a, b) = traced_pair
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for out in (a, b):
        assert out["correct"]
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        assert out["metrics"]["spark.ungrouped_jobs"]["value"] == 0
    exact = ["store.version_at.calls", "store.iter_visible.rows_scanned"]
    exact += [f"spark.jobs.{c}" for c in timeline.CLASSES]
    for name in exact:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
