"""Cross-SF scaling probe: synthesize sf1 facts and time queries vs sf0.1.

The driver ships sf{0.001,0.01,0.1} only.  To check the claim that a
10× data decade costs well under 10× wall-clock (fixed overhead and
parallel slack dominate at small SF), this tool builds a synthetic sf1
under ``<repo>/.data/sf1`` — fact tables (lineitem, orders) replicated
10× with non-overlapping order keys, dimension tables copied — and
times a TPC-H-shaped query set at both scale factors in one session.

The synthetic sf1 is an internal scaling experiment, NOT a correctness
input: oracle-gated runs always use the driver's own parquet.

Usage::

    python tools/scale_probe.py           # generate (once) + measure
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(REPO, ".data", "sf1")

#: fact tables replicated 10x with offset order keys; dims copied as-is
REPLICAS = 10
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q18_large_volume",
    "join_left_outer_agg",
    # dedup/ANN family: the sub-quadratic-candidates claims under 10x data
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "ann_ivf_pq",
    # round-6 late family additions: span-df counting and clustered
    # semantic dedup must both stay ~linear under 10x data
    "dedup_exact_substring",
    "dedup_semantic",
    # round-12: the restructured queries (one (dir,key) partitioning /
    # shared q_fp-partitioned quality cache) and the CDC family must
    # hold their shapes under 10x data
    "bitext_margin_mining",
    "quality_ablation_curve",
    "scd2_event_intervals",
    "cdc_latest_snapshot",
    "merge_upsert_orders",
    # round-14: the new real-compute operators — two-model LM
    # selection (cached-LM consumer), the real-decode pHash pair
    # (shared cached hash frame: dedup pays the decode, near pays
    # banding + pair explosion), prototype ranking, join-free
    # attribution, z-order layout stats, and the NB calibration join
    "moore_lewis_selection",
    "multimodal_phash_dedup",
    "multimodal_phash_near",
    "prototypicality_rank",
    "attribution_last_touch",
    "zorder_bucket_stats",
    "nb_calibration_report",
    # round-16: the rewritten single-action scorers (constants ride
    # broadcast crossJoins instead of driver jobs) and the
    # selective-dimension-first join reorders must hold under 10x data
    "search_bm25_topk",
    "nb_quality_classifier",
    "q8_market_share",
    "q2_min_cost_supplier",
    "encode_tokens_to_ids",
    # round-16 optimization round: the restructured operators must
    # hold their shapes under 10x data — the checkpointed graph fixed
    # points (the warm column here measures the cached-leaf consumer
    # path; their one-time LOOP cost is timed separately under
    # "cold_builds"), the volume-sized stateful-stream state
    # partitions (sf1 saturates the [4, cores] clamp), the fused
    # bakeoff encode, and the cached-scalar scorers
    "dedup_clusters",
    "pagerank_dedup_graph",
    "streaming_join_full_live",
    "streaming_parquet_sink",
    "cooccurrence_pmi",
    "tokenizer_bakeoff_report",
    "dsir_importance_weights",
]


def generate(dst: str = DST, replicas: int = REPLICAS, tables=None) -> None:
    """Synthesize a replicated fixture at ``dst``.  ``tables`` limits
    generation to a subset (e.g. just the dedup corpora for the sf3
    probe); None means everything."""
    import duckdb

    def wanted(name: str) -> bool:
        return tables is None or name in tables

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    offset = con.sql(
        f"SELECT MAX(o_orderkey) + 1 FROM '{SRC}/orders.parquet'"
    ).fetchone()[0]
    if wanted("orders"):
        con.sql(
            f"""
            COPY (
              SELECT o_orderkey + i * {offset} AS o_orderkey,
                     o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                     o_orderpriority
              FROM '{SRC}/orders.parquet' CROSS JOIN range({replicas}) t(i)
            ) TO '{dst}/orders.parquet' (FORMAT parquet)
            """
        )
    if wanted("lineitem"):
        con.sql(
            f"""
            COPY (
              SELECT l_orderkey + i * {offset} AS l_orderkey,
                     l_partkey, l_suppkey, l_linenumber, l_quantity,
                     l_extendedprice, l_discount, l_tax, l_returnflag,
                     l_linestatus, l_shipdate
              FROM '{SRC}/lineitem.parquet' CROSS JOIN range({replicas}) t(i)
            ) TO '{dst}/lineitem.parquet' (FORMAT parquet)
            """
        )
    for dim in ("region", "nation", "customer", "supplier", "part"):
        if wanted(dim):
            con.sql(
                f"COPY (SELECT * FROM '{SRC}/{dim}.parquet') "
                f"TO '{dst}/{dim}.parquet' (FORMAT parquet)"
            )

    # Documents: `replicas` statistically independent corpora, not exact
    # copies.  Exact copies would collapse the dedup candidate
    # structure (every shingle's df multiplies by the replica count, so
    # the df-cap drops the whole vocabulary and the probe measures
    # nothing).  Tagging every token with the replica id keeps each
    # replica's shingle-df histogram identical to the original while
    # making vocabularies disjoint across replicas — a sub-quadratic
    # candidate generator then scales ~linearly, while a hidden
    # all-pairs path would still blow up ~replicas^2.
    if wanted("documents"):
        con.sql(
            f"""
            COPY (
              SELECT doc_id + i * 1_000_000 AS doc_id,
                     CASE WHEN i = 0 THEN text
                          ELSE regexp_replace(text, '(\\S+)', '\\1' || i, 'g')
                     END AS text,
                     lang, source, n_chars
              FROM '{SRC}/documents.parquet' CROSS JOIN range({replicas}) t(i)
            ) TO '{dst}/documents.parquet' (FORMAT parquet)
            """
        )

    # Events: replicated with offset event/user ids and unchanged
    # timestamps — each replica adds load to the SAME windows, the
    # production shape of more traffic (not a longer history).
    if wanted("events"):
        con.sql(
            f"""
            COPY (
              SELECT event_id + i * 10_000_000 AS event_id,
                     ts,
                     user_id + i * 1_000_000 AS user_id,
                     event_type, value, props
              FROM '{SRC}/events.parquet' CROSS JOIN range({replicas}) t(i)
            ) TO '{dst}/events.parquet' (FORMAT parquet)
            """
        )

    # Embeddings: circularly rotate each vector by the replica id.
    # Rotation preserves all dot products WITHIN a replica (each
    # replica is isometric to the original corpus) while cross-replica
    # similarities decorrelate, so near-dup structure per replica is
    # unchanged and total volume scales with the replica count.  The
    # 64-dim vectors bound usable replicas at 64 rotations.
    if wanted("embeddings"):
        con.sql(
            f"""
            COPY (
              SELECT vec_id + i * 1_000_000 AS vec_id,
                     CASE WHEN i = 0 THEN embedding
                          ELSE list_concat(embedding[i + 1:64], embedding[1:i])
                     END AS embedding,
                     label
              FROM '{SRC}/embeddings.parquet' CROSS JOIN range({replicas}) t(i)
            ) TO '{dst}/embeddings.parquet' (FORMAT parquet)
            """
        )


def run() -> None:
    # events.parquet is the newest synthesized table (round 7); its
    # absence means a stale earlier-round .data/sf1 needs regenerating
    if not all(
        os.path.exists(os.path.join(DST, f"{t}.parquet"))
        for t in ("lineitem", "documents", "embeddings", "events")
    ):
        generate()

    from mr_python_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("scale_probe")
    qs = entrymod.queries()

    # Warm BOTH scale factors (codegen, parquet footers, page cache,
    # shuffle paths).  The probe's question is whether COMPUTE scales
    # sub-quadratically with data — warming only sf0.1 (the old
    # behavior) charged sf1 alone for one-time costs and inflated its
    # ratios ~2-3x (minhash read 7.3x cold vs ~2x steady-state),
    # which misreads as superlinear compute.  One-time costs are
    # per-process, not per-decade-of-data: a cluster pays them once.
    for sf_dir in (SRC, DST):
        for name in QUERIES:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    result: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
        timings = {}
        for name in QUERIES:
            best = float("inf")
            for _ in range(3):  # best-of-3: sub-second denominators are noisy
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        timings["total"] = round(sum(timings.values()), 3)
        result[sf_name] = timings
    result["method"] = "both SFs warmed, per-query best-of-3"
    # Cold-build scaling of the round-16 checkpointed fixed points:
    # the warm column above reads their cached leaves, so the loop
    # cost (edge build + iterations to convergence / 3 PR rounds) is
    # timed here with the keyed caches explicitly evicted first.
    from mr_python_spark.session import evict

    cold: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
        t_cold = {}
        # evict the fixed point AND its private edge frame (r16 ADVICE:
        # pagerank's bidirected edge cache survived the old eviction,
        # so its "cold" time excluded the edge build while
        # dedup_clusters' did not — asymmetric artifact); evicting the
        # edge frame cascades to the fixed point built on it.  The
        # shared UPSTREAM caches (hashed shingles, posting candidates,
        # verified pairs) stay warm by design: both cold timings cover
        # the edge construction + iterations over the shared pair
        # machinery, which docs/cold_warm artifacts time separately.
        for root, name in (
            ("dedup.cluster_labels", "dedup_clusters"),
            ("graph.bidir", "pagerank_dedup_graph"),
        ):
            evict(root)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            t_cold[name] = round(time.perf_counter() - t0, 3)
        cold[sf_name] = t_cold
    result["cold_builds"] = cold
    result["cold_builds_note"] = (
        "fixed-point caches evicted (incl. pagerank's bidirected edge frame); "
        "shared upstream keyed caches (shingles/postings/verified pairs) warm"
    )
    result["cold_builds_ratio_10x"] = {
        k: round(cold["sf1"][k] / cold["sf0.1"][k], 2)
        for k in cold["sf0.1"]
        if cold["sf0.1"][k] > 0
    }
    result["ratio_10x_data"] = {
        k: round(result["sf1"][k] / result["sf0.1"][k], 2)
        for k in result["sf0.1"]
        if result["sf0.1"][k] > 0
    }
    print(json.dumps(result, indent=2))
    out = os.path.join(REPO, "docs", "scale_probe_sf1.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=2)
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    run()
