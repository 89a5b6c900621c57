"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start their own Spark sessions at the smallest scale and
take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _declared()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    names = run.per_layer_names(run.layer_modules())
    assert layers == {n: run.units_of(n) for n in names}
    assert len(names) == len(set(names))
    for name in [*e2e, *layers]:
        assert NAME.fullmatch(name), name
    assert [w["name"] for w in spec["workloads"]] == ["mr_parity", "queries"]


def test_p90_needs_ten_samples_beyond_it():
    few = run.latency_summary([float(i) for i in range(60)])
    assert "op_p90_s" not in few and few["n"] == 60
    many = run.latency_summary([float(i) for i in range(200)])
    assert 178 < many["op_p90_s"] < 182
    assert run.latency_summary([1.0])["op_p50_s"] == 1.0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from mr_python_spark.session import get_spark

    yield get_spark("perfbench-tests")


def test_planted_wrong_mapreduce_result_counts_as_failed(spark):
    from perfbench import datagen, mrjobs
    from perfbench import workloads as wl

    class OffByOneWordCount(mrjobs.WordCount):
        def reducer(self, key, values):
            return key, sum(values) + (key == "w0")

    corpus = datagen.zipf_corpus(3, 50)
    work = wl.MrParity(3, "unused", 0.001)
    work.ops = [wl.MrOp("planted", OffByOneWordCount, corpus, oracle_cls=mrjobs.WordCount),
                wl.MrOp("honest", mrjobs.WordCount, corpus)]
    for op in work.ops:
        op.expected = wl.mr_expected(op)
    results = wl.run_pass(work, spark, "cold")
    assert [r.ok for r in results] == [False, True]
    rec = {"get_spark_s": 1.0, "warmup_s": 0.0, "peak_rss_mb": 1.0, "cache_mb": 0.0,
           "attempted": 2, "failed": 1, "cold": [results], "warm": [results]}
    assert run.end_to_end(rec)["failed_frac"] == 0.5


@pytest.mark.parametrize("workload", ["mr_parity", "queries"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_at_smallest_scale(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _declared()
    wanted = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == wanted
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
