"""Scale and cold/warm probes on bench.py's measurement protocol.

Usage::

    python tools/probe.py scale       # PROBES["scale"]
    python tools/probe.py cold_warm   # PROBES["cold_warm"]

A probe is a query list and the replica counts of the fixture it is
timed on (1 = the source, ``$SPARK_GRAFT_SF_DIR``, itself).  After one
untimed pass over its queries at the source (JIT, codegen, the Python
worker pool), each point is timed by :func:`bench.measure`: per query,
every corpus-registry entry is evicted, then one cold and three warm
runs into the no-op sink.  ``docs/probe_<name>.json`` gets, per point,
:func:`bench.summarize`'s ``cold_s``, ``warm_min_s`` and
``warm_median_s`` per query.

Cold means keyed caches empty, as in the bench: a cold number includes
every cache the query reads, upstream ones too.  (The earlier
cold/warm probe evicted one family's root caches and kept the caches
upstream of them warm; its record is ``docs/cold_warm_r17.json``.)

:func:`fixture` is the one replica recipe the probes in ``tools/``
share; :func:`derived` keys every other generated probe input by its
source and recipe.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import zlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

#: the source fixture: ``$SPARK_GRAFT_SF_DIR``, as in the bench
SRC = bench.SF_DIR
DATA = os.path.join(REPO, ".data")

#: per replicated table, the columns of its ``i``-th replica.  The rest
#: of the tables (the TPC-H dimensions) are copied once.
#:
#: * order keys are offset by ``MAX(o_orderkey) + 1`` per replica;
#: * documents tag every token with the replica id, so vocabularies are
#:   disjoint across replicas while each replica keeps the source's
#:   shingle-df histogram: a sub-quadratic candidate generator scales
#:   ~linearly, a hidden all-pairs path ~replicas²;
#: * events keep their timestamps: each replica adds load to the same
#:   windows (more traffic, not a longer history);
#: * embeddings are rotated circularly by the replica id, which keeps
#:   every dot product within a replica exact and decorrelates replicas
#:   (64 dimensions: at most 64 distinct rotations).
REPLICA_COLUMNS = {
    "orders": """o_orderkey + i * {offset} AS o_orderkey, o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority""",
    "lineitem": """l_orderkey + i * {offset} AS l_orderkey, l_partkey,
        l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        l_tax, l_returnflag, l_linestatus, l_shipdate""",
    "documents": """doc_id + i * 1_000_000 AS doc_id,
        CASE WHEN i = 0 THEN text
             ELSE regexp_replace(text, '(\\S+)', '\\1' || i, 'g') END AS text,
        lang, source, n_chars""",
    "events": """event_id + i * 10_000_000 AS event_id, ts,
        user_id + i * 1_000_000 AS user_id, event_type, value, props""",
    "embeddings": """vec_id + i * 1_000_000 AS vec_id,
        CASE WHEN i = 0 THEN embedding
             ELSE list_concat(embedding[i + 1:64], embedding[1:i]) END AS embedding,
        label""",
}

#: name -> the queries it times and the replica counts of its points
PROBES = {
    "scale": {
        "replicas": (1, 10, 30),
        "queries": [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_local_supplier",
            "q6_forecast_revenue",
            "q18_large_volume",
            "join_left_outer_agg",
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "dedup_incremental_minhash",
            "dedup_embedding_cosine",
            "dedup_embedding_lsh",
            "ann_ivf_pq",
            "dedup_exact_substring",
            "dedup_semantic",
            "bitext_margin_mining",
            "quality_ablation_curve",
            "scd2_event_intervals",
            "cdc_latest_snapshot",
            "merge_upsert_orders",
            "moore_lewis_selection",
            "multimodal_phash_dedup",
            "multimodal_phash_near",
            "prototypicality_rank",
            "attribution_last_touch",
            "zorder_bucket_stats",
            "nb_calibration_report",
            "search_bm25_topk",
            "nb_quality_classifier",
            "q8_market_share",
            "q2_min_cost_supplier",
            "encode_tokens_to_ids",
            "dedup_clusters",
            "pagerank_dedup_graph",
            "streaming_join_full_live",
            "streaming_parquet_sink",
            "cooccurrence_pmi",
            "tokenizer_bakeoff_report",
            "dsir_importance_weights",
            "streaming_cdc_apply",
            "unimax_language_budgets",
            "q17_small_quantity",
            "bigram_lm_perplexity",
            "dup_ngram_char_fraction",
            "source_drift_report",
            "winnow_fingerprint_report",
            "dedup_winnow",
            "ccnet_perplexity_buckets",
            "search_phrase_topk",
            "dedup_cross_source_matrix",
            "vocab_growth_report",
            "shard_balance_report",
            "incremental_oov_report",
            "cms_heavy_hitters",
        ],
    },
    # one consumer or two per keyed-cache family: shingles, verified
    # pairs, MinHash signatures, the graph fixed points, the LM frames,
    # span df, image features, Bloom bits, sketches, planning scalars and
    # driver-trained models
    "cold_warm": {
        "replicas": (1,),
        "queries": [
            "dedup_ngram_jaccard",
            "dedup_cross_source_matrix",
            "dedup_minhash_lsh",
            "dedup_incremental_minhash",
            "dedup_clusters",
            "pagerank_dedup_graph",
            "ccnet_perplexity_buckets",
            "nb_calibration_report",
            "moore_lewis_selection",
            "lang_id_ngram_profile",
            "quality_ablation_curve",
            "dedup_exact_substring",
            "multimodal_phash_dedup",
            "multimodal_resize_nearest",
            "dedup_incremental_bloom",
            "freq_items_envelope",
            "merge_upsert_orders",
            "dsir_importance_weights",
            "tokenizer_bakeoff_report",
            "ann_ivf_label",
        ],
    },
}


def fixture(src: str, replicas: int, tables, root: str = DATA) -> str:
    """The directory of ``src`` replicated ``replicas`` times, with at
    least ``tables`` in it: ``<root>/<basename(src)>_x<replicas>``.

    Only the tables missing there are generated, each written under a
    temporary name and then renamed, so a table that exists is whole.
    The fixtures are scaling inputs, never oracle-gated inputs.
    """
    dst = os.path.join(root, f"{os.path.basename(src.rstrip('/'))}_x{replicas}")
    missing = [t for t in tables if not os.path.exists(os.path.join(dst, f"{t}.parquet"))]
    if not missing:
        return dst
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    offset = con.sql(f"SELECT MAX(o_orderkey) + 1 FROM '{src}/orders.parquet'").fetchone()[0]
    for t in missing:
        columns = REPLICA_COLUMNS.get(t)
        query = (
            f"SELECT * FROM '{src}/{t}.parquet'" if columns is None
            else f"SELECT {columns.format(offset=offset)} "
                 f"FROM '{src}/{t}.parquet' CROSS JOIN range({replicas}) t(i)"
        )
        out = os.path.join(dst, f"{t}.parquet")
        con.sql(f"COPY ({query}) TO '{out}.tmp' (FORMAT parquet)")
        os.replace(f"{out}.tmp", out)
    return dst


def derived(src: str, recipe: str, make=None) -> str:
    """The directory of the inputs that ``recipe`` derives from ``src``:
    ``<DATA>/<basename(src)>_<crc32(recipe)>``, so another source or
    another recipe never reuses it.  If it does not exist yet and
    ``make`` is given, ``make(tmp)`` writes the inputs into a
    temporary directory that is then renamed, so a directory that
    exists is whole."""
    name = f"{os.path.basename(src.rstrip('/'))}_{zlib.crc32(recipe.encode()):08x}"
    dst = os.path.join(DATA, name)
    if make is not None and not os.path.isdir(dst):
        tmp = f"{dst}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.replace(tmp, dst)
    return dst


def main(argv: list[str]) -> int:
    if len(argv) != 1 or argv[0] not in PROBES:
        raise SystemExit(f"usage: python tools/probe.py {{{','.join(PROBES)}}}")
    name = argv[0]
    spec = PROBES[name]
    points = [SRC if r == 1 else fixture(SRC, r, bench.TABLES) for r in spec["replicas"]]

    from mr_python_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(f"probe_{name}")
    qs = entrymod.queries()
    for query in spec["queries"]:
        bench.run_once(spark, qs, query, SRC)

    cpus = spark.sparkContext.defaultParallelism
    record = {
        "probe": name,
        "protocol": f"per query: evict the registry, 1 cold + {bench.WARM_RUNS} warm runs",
        "src": SRC,
        "cpus": cpus,
        "points": {},
    }
    for sf_dir in points:
        samples = bench.measure(spark, qs, spec["queries"], sf_dir)
        detail, _ = bench.summarize(samples, bench.sf_from_dir(sf_dir), cpus)
        label = os.path.basename(sf_dir.rstrip("/"))
        record["points"][label] = detail
        print(label, json.dumps(detail), flush=True)
    record["recorded_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    path = os.path.join(REPO, "docs", f"probe_{name}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
