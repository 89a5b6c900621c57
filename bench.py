"""Benchmark harness: the headline queries at $SPARK_GRAFT_SF_DIR.

Protocol, in one session on the cores ``get_spark`` gives it:

1. warm-up, untimed: a full-column scan of each table at ``SF_DIR``,
   then every ``HEADLINE`` query at sf0.001 and sf0.01.  This pays the
   one-time machinery (JIT, whole-stage codegen, the Python worker
   pool, parquet footers, the OS page cache) and nothing of the timed
   queries' own work at ``SF_DIR``.
2. per query, in ``HEADLINE`` order: every corpus-registry entry is
   evicted (outside the timed window), then the query runs once
   **cold**, building every keyed cache it reads, and three times
   **warm**, back to back.  Each run executes the full plan into the
   no-op sink.  A cold number does not depend on which queries ran
   before it, and no warm number is a read of a cache that another
   query built.

``docs/bench_detail.json`` gets ``cold_s``, ``warm_min_s`` and
``warm_median_s`` per query, and no other file in the repository is
written or staged.  The run prints ONE JSON line of at most 1,900
characters, every number on it computed from this run's samples:

* ``value``: the warm total, the sum of per-query minimums;
* ``cold_total``: the sum of the cold runs;
* ``warm_spread``: sum of per-query medians / ``value`` - 1;
* ``sf`` and ``cpus`` (the session's default parallelism);
* ``queries``: per-query warm minimums.  The cheapest entries are left
  out only while the line is over budget; the totals cover them all.

Run it with ``SPARK_GRAFT_CPUS=4 python bench.py``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: the smaller scale factors beside ``SF_DIR``, for the warm-up passes
WARM_UP_SF_DIRS = tuple(
    os.path.join(os.path.dirname(SF_DIR.rstrip("/")), sf) for sf in ("sf0.001", "sf0.01")
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "lineitem", "orders", "events", "documents", "embeddings",
)
WARM_RUNS = 3
LINE_BUDGET = 1900

#: one query per capability area, benched in this order; ``git log -p
#: bench.py`` tells when and why each one joined
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_volume",
    "filter_project_lineitem",
    "join_left_outer_agg",
    "window_top3_per_customer",
    "window_running_total",
    "distinct_users_per_event",
    "tumbling_window_events",
    "session_window_events",
    "word_count",
    "word_topk",
    "text_stats",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental_prefix",
    "dedup_incremental_minhash",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "ann_brute_topk",
    "ann_ivf_label",
    "pandas_udf_token_count",
    "grouped_map_top2_sharded",
    "stats_variance_quantity",
    "pivot_daily_event_values",
    "variant_props_events",
    "dedup_exact_substring",
    "dedup_semantic",
    "gopher_quality_rules",
    "bpe_token_stats",
    "bigram_lm_perplexity",
    "nb_quality_classifier",
    "search_bm25_topk",
    "dsir_importance_weights",
    "cms_heavy_hitters",
    "search_phrase_topk",
    "dedup_cross_source_matrix",
    "vocab_growth_report",
    "ccnet_perplexity_buckets",
    "shard_balance_report",
    "incremental_oov_report",
    "bitext_margin_mining",
    "quality_ablation_curve",
    "tokenizer_bakeoff_report",
    "scd2_event_intervals",
    "cdc_latest_snapshot",
    "merge_upsert_orders",
    "streaming_cdc_apply",
    "unimax_language_budgets",
    "q8_market_share",
    "moore_lewis_selection",
    "multimodal_phash_dedup",
    "multimodal_phash_near",
    "nb_calibration_report",
    "zorder_bucket_stats",
    "dedup_ccnet_paragraphs",
    "cooccurrence_pmi",
    "compression_ratio_quality",
    "dedup_incremental_bloom",
    "multimodal_resize_nearest",
    "lang_id_ngram_profile",
    "q2_min_cost_supplier",
]


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_once(spark, qs, name: str, sf_dir: str) -> float:
    """Wall seconds of one run of ``name`` into the no-op sink."""
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def measure(spark, qs, names, sf_dir: str) -> dict[str, dict]:
    """``{name: {"cold_s": s, "warm_s": [s, s, s]}}``: per query, one
    cold run after evicting every corpus-registry entry, then the warm
    runs, back to back."""
    from mr_python_spark import session

    samples = {}
    for name in names:
        session.evict(*{key[0] for key in session._CORPUS})  # noqa: SLF001
        cold = run_once(spark, qs, name, sf_dir)
        warm = [run_once(spark, qs, name, sf_dir) for _ in range(WARM_RUNS)]
        samples[name] = {"cold_s": cold, "warm_s": warm}
    return samples


def summarize(samples: dict[str, dict], sf: float, cpus: int) -> tuple[dict, str]:
    """The per-query detail record and the printed line for ``samples``."""
    mins = {name: min(s["warm_s"]) for name, s in samples.items()}
    medians = {name: statistics.median(s["warm_s"]) for name, s in samples.items()}
    detail = {
        name: {
            "cold_s": round(s["cold_s"], 3),
            "warm_min_s": round(mins[name], 3),
            "warm_median_s": round(medians[name], 3),
        }
        for name, s in samples.items()
    }
    warm = sum(mins.values())
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(warm, 3),
        "unit": "sec",
        "cold_total": round(sum(s["cold_s"] for s in samples.values()), 3),
        "warm_spread": round(sum(medians.values()) / warm - 1, 3),
        "sf": sf,
        "cpus": cpus,
        "queries": {name: round(m, 2) for name, m in mins.items()},
    }
    line = json.dumps(out, separators=(",", ":"))
    while len(line) > LINE_BUDGET and out["queries"]:
        del out["queries"][min(out["queries"], key=out["queries"].get)]
        line = json.dumps(out, separators=(",", ":"))
    return detail, line


def main() -> None:
    from mr_python_spark.session import get_spark, load_table

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = entrymod.queries()
    for t in TABLES:
        load_table(spark, SF_DIR, t).write.format("noop").mode("overwrite").save()
    for warm_sf in WARM_UP_SF_DIRS:
        for name in HEADLINE:
            run_once(spark, qs, name, warm_sf)

    samples = measure(spark, qs, HEADLINE, SF_DIR)
    sf, cpus = sf_from_dir(SF_DIR), spark.sparkContext.defaultParallelism
    detail, line = summarize(samples, sf, cpus)
    record = {
        "protocol": f"per query: evict the registry, 1 cold + {WARM_RUNS} warm runs",
        "sf": sf,
        "cpus": cpus,
        "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "queries": detail,
    }
    with open(os.path.join(REPO, "docs", "bench_detail.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(line)


if __name__ == "__main__":
    main()
