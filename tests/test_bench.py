"""``bench.py``'s contract: the printed line carries only what the run
measured, and every query's cold run starts from an empty corpus
registry, so no timed run reads a cache that another query built."""

from __future__ import annotations

import json
import random
import statistics

import bench
from mr_python_spark import session


def _samples(names, seed=0):
    rng = random.Random(seed)
    return {
        name: {
            "cold_s": rng.randint(100, 999) / 100,
            "warm_s": [rng.randint(100, 999) / 100 for _ in range(bench.WARM_RUNS)],
        }
        for name in names
    }


def test_line_fits_and_carries_only_measured_numbers():
    samples = _samples(bench.HEADLINE)
    detail, line = bench.summarize(samples, 0.1, 4)
    assert len(line) <= bench.LINE_BUDGET
    out = json.loads(line)

    assert set(out) == {
        "metric", "value", "unit", "cold_total", "warm_spread", "sf", "cpus", "queries",
    }
    assert (out["metric"], out["unit"], out["sf"], out["cpus"]) == (
        "headline_queries_total_wall", "sec", 0.1, 4,
    )
    warm = sum(min(s["warm_s"]) for s in samples.values())
    median = sum(statistics.median(s["warm_s"]) for s in samples.values())
    assert out["value"] == round(warm, 3)
    assert out["cold_total"] == round(sum(s["cold_s"] for s in samples.values()), 3)
    assert out["warm_spread"] == round(median / warm - 1, 3)

    # the over-budget line loses its cheapest queries, and only those
    shown = out["queries"]
    assert 0 < len(shown) < len(bench.HEADLINE)
    dropped = [min(s["warm_s"]) for n, s in samples.items() if n not in shown]
    assert max(dropped) <= min(shown.values())
    assert all(shown[n] == round(min(samples[n]["warm_s"]), 2) for n in shown)

    assert list(detail) == bench.HEADLINE
    for name, d in detail.items():
        warm_s = samples[name]["warm_s"]
        assert d == {
            "cold_s": samples[name]["cold_s"],
            "warm_min_s": min(warm_s),
            "warm_median_s": statistics.median(warm_s),
        }


def test_short_line_keeps_every_query():
    names = bench.HEADLINE[:10]
    _, line = bench.summarize(_samples(names), 0.001, 1)
    assert list(json.loads(line)["queries"]) == names


def test_jaccard_never_reads_the_pair_cache(spark):
    """``dedup_cross_source_matrix`` stores ``dedup.ngram_pairs``, the
    very frame ``dedup_ngram_jaccard`` returns.  The query's cold run
    must not find the matrix's entry: it builds its own, and its warm
    runs read that one."""
    from conftest import SF_DIR

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    stored, returned = [], []

    def jaccard(spark, sf_dir):
        stored.append([v for k, (v, _) in session._CORPUS.items()  # noqa: SLF001
                       if k[0] == "dedup.ngram_pairs"])
        returned.append(qs["dedup_ngram_jaccard"](spark, sf_dir))
        return returned[-1]

    names = ["dedup_cross_source_matrix", "dedup_ngram_jaccard"]
    samples = bench.measure(spark, dict(qs, dedup_ngram_jaccard=jaccard), names, SF_DIR)
    cold = returned[0]
    assert stored[0] == [] and len(stored) == 1 + bench.WARM_RUNS
    assert all(len(w) == 1 and w[0] is cold for w in stored[1:])
    assert all(r is cold for r in returned)
    assert list(samples) == names
    for s in samples.values():
        assert s["cold_s"] > 0
        assert len(s["warm_s"]) == bench.WARM_RUNS
