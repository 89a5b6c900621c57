"""Physical-plan audit: assert the plans are the ones we'd want at 100 TB.

For each audited query the formatted plan is checked for the
properties that matter at scale — filters reaching the parquet scan,
pruned read schemas, broadcast joins on dimension tables, map-side
partial aggregation, top-k as TakeOrderedAndProject instead of a
global sort, and no accidental cartesian products anywhere.

Broadcast-hint policy check (``hinted_broadcasts``): the plan is
re-derived with ``spark.sql.autoBroadcastJoinThreshold=-1`` — with
stats-based broadcasting disabled, the ONLY thing that can still put a
BroadcastExchange in the plan is an explicit ``F.broadcast`` hint.
The audit asserts the count equals the number of constant-size-dim
hints the query is supposed to carry, so a forced broadcast of an
SF-scaling table (customer/supplier/part — the 100 TB OOM pattern)
fails the audit even though it would pass at sf0.1.

Usage::

    python tools/explain_audit.py            # audit all, print report
    python tools/explain_audit.py -v         # include full plans
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mr_python_spark import dedup, multimodal  # noqa: E402
from mr_python_spark.functions import lm, pipeline, text  # noqa: E402
from mr_python_spark.operators import graph  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: name -> dict(must=[...], must_not=[...], hinted_broadcasts=int|None)
AUDITS: dict[str, dict] = {
    # ---------------- scans / pushdown ----------------
    # scan-bound: every predicate pushed, schema pruned to 6 cols, no shuffle
    "filter_project_lineitem": dict(
        must=[r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate",
              r"ReadSchema: struct<l_orderkey:bigint,l_linenumber:int",
              r"codegen id"],  # narrow ops fused into whole-stage codegen
        must_not=[r"Exchange", r"CartesianProduct"],
    ),
    "q6_forecast_revenue": dict(
        must=[r"PushedFilters: \[.*l_shipdate", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "csv_scan_nation": dict(must=[r"Scan csv"], must_not=[r"CartesianProduct"]),
    # PERMISSIVE ingestion: corrupt rows land, healthy rows aggregate
    "csv_corrupt_records_permissive": dict(
        must=[r"Scan csv", r"partial_"],
        must_not=[r"CartesianProduct"],
    ),
    # merged-schema read still partial-aggregates map-side
    "schema_evolution_read": dict(
        must=[r"partial_", r"HashAggregate"], must_not=[r"CartesianProduct"]
    ),
    # Spark 4 Python Data Source: the custom source must appear as a
    # BatchScan and feed a partial+final aggregate
    "pyds_calendar_scan": dict(
        must=[r"BatchScan pycalendar", r"partial_"],
        must_not=[r"CartesianProduct"],
    ),
    # VariantType path extraction stays a JVM projection feeding a
    # map-side-combined aggregate — no Python evaluation anywhere
    "variant_props_events": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
    ),
    "json_scan_orders": dict(must=[r"Scan json"], must_not=[r"CartesianProduct"]),
    "orc_scan_supplier": dict(must=[r"Scan orc"], must_not=[r"CartesianProduct"]),
    # partitioned layout: the filter prunes directories at the scan
    "partition_pruned_read": dict(
        must=[r"PartitionFilters: \[.*event_type", r"partial_"],
        must_not=[r"CartesianProduct"],
    ),
    # ---------------- aggregation ----------------
    # one wide-table aggregate: partial+final, single exchange
    "q1_pricing_summary": dict(
        must=[r"partial_sum", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"SortAggregate"],
    ),
    "distinct_users_per_event": dict(must=[r"HashAggregate", r"partial_"], must_not=[]),
    # decimal aggregation is algebraic too: partial+final, one exchange
    "q1_pricing_decimal": dict(
        must=[r"partial_sum", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"SortAggregate"],
        hinted_broadcasts=0,
    ),
    # interval min/max combine map-side like any algebraic agg; the
    # orders⋈lineitem join stays an equi-join on the natural key
    "interval_ship_latency": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "cube_orders": dict(must=[r"Expand", r"HashAggregate"], must_not=[r"CartesianProduct"]),
    "rollup_region_nation": dict(must=[r"Expand", r"HashAggregate"], must_not=[r"CartesianProduct"]),
    "grouping_sets_lineitem": dict(must=[r"Expand", r"HashAggregate"], must_not=[r"CartesianProduct"]),
    "agg_salted_skew": dict(must=[r"partial_", r"HashAggregate"], must_not=[r"CartesianProduct"]),
    "pipeline_rekey_bands": dict(
        must=[r"partial_", r"HashAggregate"], must_not=[r"CartesianProduct"]
    ),
    # moment aggregation combines map-side like any algebraic agg
    "corr_quantity_price": dict(
        must=[r"partial_sum", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"SortAggregate"],
    ),
    "stats_variance_quantity": dict(
        must=[r"partial_", r"HashAggregate"], must_not=[r"CartesianProduct"]
    ),
    "pivot_daily_event_values": dict(
        must=[r"partial_", r"HashAggregate"], must_not=[r"CartesianProduct"]
    ),
    # ordered listagg over a schema-bounded group; region is the
    # constant-size dim (hinted broadcast), ordering is SortAggregate
    # by nature — the objectagg buffer sorts within each tiny group
    "listagg_regions": dict(
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"Window"],
        hinted_broadcasts=1,
    ),
    # try_* arithmetic stays whole-stage-codegen projections feeding
    # one partial+final aggregate — no Python, no extra exchange
    "try_arith_lineitem": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window", r"BatchEvalPython",
                  r"ArrowEvalPython"],
        hinted_broadcasts=0,
    ),
    # by-name union is plan concatenation + one combined aggregate
    "union_by_name_evolution": dict(
        must=[r"Union", r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window", r"SortMergeJoin"],
        hinted_broadcasts=0,
    ),
    # OFFSET page rides the top-k machinery, not a global sort
    "paged_orders_offset": dict(
        must=[r"TakeOrderedAndProject"],
        must_not=[r"CartesianProduct", r"Window", r"Sort\b.*global"],
        hinted_broadcasts=0,
    ),
    # observe(): the returned frame is the one-row driver metrics
    # table (LocalTableScan); the observed pass itself carries the
    # accumulator — no join, no window, no shuffle in the result
    "observed_quality_metrics": dict(
        must=[r"LocalTableScan|Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"Join", r"Window", r"Exchange"],
        hinted_broadcasts=0,
    ),
    # audio decimation: one spread Arrow pass, nothing after the map
    "multimodal_audio_resample": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Window",
                  r"Exchange hashpartitioning"],
        hinted_broadcasts=0,
    ),
    # MAD fence: two |langs|-bounded percentile aggregates + joins on
    # the bounded frames; no corpus window, no global sort
    "doc_length_mad_outliers": dict(
        must=[r"HashAggregate|SortAggregate|ObjectHashAggregate"],
        must_not=[r"CartesianProduct", r"Window",
                  r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # contingency table: crosstab plans as one partial+final pivot agg
    "crosstab_orders": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window"],
        hinted_broadcasts=0,
    ),
    # freqItems envelope: the audited frame is the exact-count side
    # (the sketch itself is a bounded one-row driver materialization)
    "freq_items_envelope": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window", r"SortMergeJoin"],
        hinted_broadcasts=0,
    ),
    # UniMax allocation: one |langs|-row aggregate; the rank/prefix/
    # threshold windows all ride that bounded frame (three WindowExecs,
    # every one above the lang aggregate), no joins anywhere
    "unimax_language_budgets": dict(
        must=[r"partial_", r"HashAggregate", r"Window"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
        unpartitioned_windows=["agg:lang", "agg:lang", "agg:lang"],
    ),
    # ---------------- joins: star shapes + hint policy ----------------
    # hinted_broadcasts: expected BroadcastExchange count when
    # autoBroadcastJoinThreshold=-1 — i.e. ONLY the explicit hints on
    # constant-size dims; SF-scaling tables must NOT be hinted.
    "q3_shipping_priority": dict(
        selective_dim_first=True,
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    "q5_local_supplier": dict(
        selective_dim_first=True,
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=2,  # region→nation, (nation⋈region)→customer
    ),
    "q7_nation_volume": dict(
        must=[r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=2,  # the two 25-row nation aliases
    ),
    "q10_returned_items": dict(
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject",
              r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)"],
        must_not=[r"CartesianProduct", r"Sort\b.*global"],
        hinted_broadcasts=1,  # nation only
    ),
    "q14_promo_revenue": dict(
        selective_dim_first=True,
        must=[r"partial_sum"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    "q4_order_priority": dict(
        must=[r"Join type: LeftSemi", r"PushedFilters: \[.*o_orderdate"],
        must_not=[r"CartesianProduct"],
    ),
    "q18_large_volume": dict(
        must=[r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    "join_inner_basic": dict(
        must=[], must_not=[r"CartesianProduct"], hinted_broadcasts=0
    ),
    "join_range_tiers": dict(
        must=[r"BroadcastNestedLoopJoin"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 4-row literal tier table
    ),
    # intentional cross product: broadcast NLJ, never a shuffled CartesianProduct
    "join_cross_product": dict(
        must=[r"BroadcastNestedLoopJoin"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 5-row distinct-priority side
    ),
    # aggregate pushed BELOW the join (see the query docstring): the
    # count/sum partials must appear, the join stays LeftOuter, and no
    # aggregate node may consume the join output — the only HashAggregates
    # in the plan belong to the pre-join per-customer rollup.  Pinned
    # after the sf1 probe measured join-then-aggregate at 2.4x per
    # 10x data vs ~1x for this shape.
    "join_left_outer_agg": dict(
        must=[r"partial_count", r"LeftOuter"],
        must_not=[r"CartesianProduct",
                  # detail sections are numbered leaves-first, so a
                  # join NODE followed by a later HashAggregate node
                  # means the aggregate consumes the join output —
                  # i.e. the agg-below-join rewrite regressed
                  r"(?s)\(\d+\) (?:\w+Hash|SortMerge)Join.*\(\d+\) HashAggregate"],
        hinted_broadcasts=0,
    ),
    "join_left_anti": dict(must=[r"LeftAnti"], must_not=[r"CartesianProduct"]),
    "join_full_outer": dict(must=[r"FullOuter"], must_not=[r"CartesianProduct"]),
    "join_asof_events": dict(
        must=[r"Window", r"Union"], must_not=[r"CartesianProduct"]
    ),
    # bucketed+sorted layout: co-located scans, NO exchange AND NO
    # sort feeding the merge join (single-file buckets, sortBy order
    # trusted via the outputOrdering conf the frame carries)
    "join_bucketed_colocated": dict(
        must=[r"Bucketed: true", r"SortMergeJoin"],
        must_not=[r"Exchange hashpartitioning\(o_orderkey",
                  r"Exchange hashpartitioning\(l_orderkey",
                  r"\(\d+\) Sort\b"],
    ),
    # ---------------- windows: one shuffle on the partition key ----------------
    "window_top3_per_customer": dict(
        must=[r"RunningWindowFunction|Window"], must_not=[r"CartesianProduct"]
    ),
    "window_rank_dense": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    "window_running_total": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    "window_lag_delta": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    "window_moving_avg": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    "window_range_frame": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    "window_ntile_distribution": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    # ---------------- set ops ----------------
    "setop_union_all": dict(must=[r"Union"], must_not=[r"CartesianProduct"]),
    "setop_union_distinct": dict(
        must=[r"Union", r"HashAggregate"], must_not=[r"CartesianProduct"]
    ),
    "setop_intersect": dict(must=[r"LeftSemi"], must_not=[r"CartesianProduct"]),
    "setop_except": dict(must=[r"LeftAnti"], must_not=[r"CartesianProduct"]),
    # ---------------- sorts / top-k: never a global sort for a limit ----------------
    "topk_orders": dict(must=[r"TakeOrderedAndProject"], must_not=[r"CartesianProduct"]),
    "word_topk": dict(must=[r"TakeOrderedAndProject", r"partial_"], must_not=[]),
    "multisort_limit_lineitem": dict(
        must=[r"TakeOrderedAndProject"], must_not=[r"CartesianProduct"]
    ),
    # ---------------- scalar families: pure projection, zero shuffle ----------------
    "string_funcs_part": dict(must=[r"Project"], must_not=[r"Exchange", r"CartesianProduct"]),
    # grouped by (yr, mo, qtr): one exchange with map-side partials
    "date_funcs_orders": dict(must=[r"partial_", r"HashAggregate"], must_not=[r"CartesianProduct"]),
    "date_arith_orders": dict(must=[r"Project"], must_not=[r"Exchange", r"CartesianProduct"]),
    "math_funcs_lineitem": dict(must=[r"Project"], must_not=[r"Exchange", r"CartesianProduct"]),
    "array_funcs_embeddings": dict(must=[r"Project"], must_not=[r"Exchange", r"CartesianProduct"]),
    "map_funcs_events": dict(must=[r"Project"], must_not=[r"Exchange", r"CartesianProduct"]),
    # ---------------- dedup: equi-joins on hash keys — never nested-loop ----------------
    # size-GATED hint (gated_verify_frame): fires at audit SF because the
    # pruned frame is measured tiny; tests/test_determinism.py pins the
    # gate-OFF path (0 BroadcastExchange, identical output)
    # the query returns the stored verified pair frame (registry name
    # dedup.ngram_pairs, read by the family's consumers too), a
    # Scan ExistingRDD leaf in every call order; the verify join and
    # its size-GATED hints are policed on ngram_pairs_builder below
    "dedup_ngram_jaccard": dict(
        must=[r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dedup_ngram_jaccard_exact": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "dedup_minhash_lsh": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "dedup_simhash": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "dedup_exact": dict(
        must=[r"HashAggregate", r"partial_"],
        must_not=[r"Exchange hashpartitioning.*text"],
    ),
    # corpus collapses to a fingerprint->winner index BEFORE the probe
    # join (agg-below-join, same pin as join_left_outer_agg); only
    # 32-byte hashes shuffle, never text
    "dedup_incremental_prefix": dict(
        must=[r"partial_min"],
        must_not=[r"CartesianProduct",
                  r"(?s)\(\d+\) (?:\w+Hash|SortMerge)Join.*\(\d+\) HashAggregate",
                  r"Exchange hashpartitioning.*text"],
        hinted_broadcasts=0,
    ),
    "dedup_incremental_minhash": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # envelope: exact truth join (evaluation tier) + left join against
    # the minhash pass — all equi-joins, no corpus-sized broadcast hint
    "dedup_incremental_minhash_envelope": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # envelope: within-cell pair join (equi on cell) + one final agg;
    # the range predicate rides the equi-join, never a nested loop
    "dedup_semantic_envelope": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
              r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # recall-envelope pair: the parents' exact-truth joins re-projected
    # row-locally; the pair self-join is equi-keyed, never NLJ
    "dedup_lsh_recall_envelope": dict(
        must=[r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # (the exact-cosine truth side rides the stored pair frame —
    # consumers plan a Scan ExistingRDD leaf, so no MapInPandas here)
    "dedup_rp_recall_envelope": dict(
        must=[r"Join"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # embedding-LSH precision envelope: exact block-grid tier + the
    # banding/bucket-GEMM pipeline, pair-keyed full join (no broadcast
    # — both sides scale with the corpus), one global aggregate
    "dedup_embedding_lsh_envelope": dict(
        must=[r"FlatMapGroupsInPandas|GroupedMapPandas", r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin", r"BroadcastHashJoin"],
        hinted_broadcasts=0,
    ),
    # within-language twin: same re-verification shape with the
    # (cell, lang) neighbor condition
    "dedup_semantic_lang_envelope": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
              r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # containment shares the jaccard plan: posting-list grouping, pair
    # explosion JVM-side, semi-join-pruned verification — never NLJ
    "dedup_containment": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=2,  # same size-GATED hint as dedup_ngram_jaccard
    ),
    # verbatim-span contamination: document-frequency counting only —
    # no pair join, no text shuffle, df aggregate combiner-reduced
    "dedup_exact_substring": dict(
        must=[r"partial_count"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                  r"Exchange hashpartitioning.*text"],
        hinted_broadcasts=0,
    ),
    # relational Bloom: only md5 fps / bit ints / ids shuffle; the
    # probe is an int equi-join, the truth check a fp equi-join —
    # never text, never a pair explosion
    "dedup_incremental_bloom": dict(
        must=[r"Generate", r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                  r"Window", r"Exchange hashpartitioning.*text"],
        hinted_broadcasts=0,
    ),
    # CCNet paragraph removal: block grid is ONE Generate (no window,
    # no self-join); winner comes from a map-side-combined min(struct)
    # aggregate, keeper join is block-keyed equi
    # round 16: the keeper JOIN is gone — the per-block aggregate
    # carries winner + instance list, one explode recovers the flagged
    # stream; the only join left is the per-doc left join back to docs
    "dedup_ccnet_paragraphs": dict(
        must=[r"Generate", r"partial_min"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                  r"Window"],
        hinted_broadcasts=0,
    ),
    # SemDeDup: one hash-by-cell exchange between the two pandas ops;
    # no pair join, no corpus-sized broadcast
    "dedup_semantic": dict(
        must=[r"MapInPandas", r"FlatMapGroupsInPandas|GroupedMapPandas",
              r"hashpartitioning\(cell"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Broadcast"],
        hinted_broadcasts=0,
    ),
    # block-grid exact cosine: grouped-map pandas op, no driver collect,
    # no corpus-sized broadcast anywhere in the plan
    "dedup_embedding_cosine": dict(
        must=[r"FlatMapGroupsInPandas|GroupedMapPandas"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Broadcast"],
    ),
    # round 8: banding mapInPandas → ONE (band, bval) shuffle →
    # per-bucket GEMM verify in applyInPandas → distinct on verified
    # pairs.  No join at all — candidate pairs never materialize as
    # rows, so a join appearing here would mean a regression to the
    # old explode-join-fold pipeline.
    "dedup_embedding_lsh": dict(
        must=[r"MapInPandas", r"FlatMapGroupsInPandas"],
        must_not=[
            r"CartesianProduct",
            r"BroadcastNestedLoopJoin",
            r"SortMergeJoin",
            r"ShuffledHashJoin",
        ],
    ),
    # centroid means: integer-unit decimal sums must stay a JVM
    # partial+final aggregate — no Python evaluation anywhere
    "label_centroids": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        hinted_broadcasts=0,
    ),
    # int8 quantization: map-only projection, no exchange at all
    "embedding_int8_quantize": dict(
        must=[r"Project"],
        must_not=[r"Exchange", r"CartesianProduct", r"BatchEvalPython",
                  r"ArrowEvalPython"],
        hinted_broadcasts=0,
    ),
    # arrow grouped map: one hash exchange by group key, arrow eval node
    "arrow_grouped_map_langstats": dict(
        must=[r"FlatMapGroupsInArrow|FlatMapGroupsInPandas"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # custom python sink roundtrip: returned frame is the committed-file
    # read-back — a plain json scan, no join anywhere
    "pyds_sink_roundtrip": dict(
        must=[r"Scan json"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # lang-constrained SemDeDup: unhinted equi-join for metadata, then
    # the same two-pandas-op shape hashed by (cell, lang)
    "dedup_semantic_within_lang": dict(
        must=[r"MapInPandas", r"FlatMapGroupsInPandas|GroupedMapPandas",
              r"hashpartitioning\(cell"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # LSH recall audit: truth is a deliberate exact self-join (sample
    # evaluation path); the LSH side must stay an equi-join
    "dedup_lsh_eval_report": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # recall evaluation: joins two top-k frames, no corpus-sized work
    "ann_recall_report": dict(
        must=[r"HashAggregate"],
        must_not=[r"CartesianProduct"],
    ),
    # RP-LSH recall audit: truth is the block-grid GEMM grouped-map
    # (deliberate exact path, evaluation runs on a sample); the LSH
    # side stays banded MapInPandas + equi-joins
    "dedup_rp_lsh_eval_report": dict(
        must=[r"FlatMapGroupsInPandas|GroupedMapPandas", r"MapInPandas",
              r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # real-format decode: Arrow-batched map pass over (doc_id, plen)
    # — round 16 applies the phash move, so the only exchange is the
    # spread() repartition of the two narrow columns (a local-scan
    # artifact; no-op at real scale) and corpus bytes never shuffle
    "multimodal_decode_real": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Join", r"BroadcastExchange"],
        hinted_broadcasts=0,
    ),
    # ---------------- similarity ----------------
    # r3: fully distributed — the query set reaches executors via a 1-row
    # packed broadcast join (the only BroadcastExchange), NEVER a driver
    # collect; the corpus is packed partition-locally (two MapInPandas,
    # no Exchange between scan and the first MapInPandas).
    "ann_brute_topk": dict(
        must=[r"MapInPandas", r"Window", r"BroadcastExchange"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 1-row packed query aggregate
    ),
    # filtered retrieval: the candidate predicate must reach the
    # parquet scan BELOW the packing mapInPandas — files prune before
    # any embedding bytes are read when partitioned on the column
    "ann_filtered_topk": dict(
        must=[r"MapInPandas", r"Window", r"BroadcastExchange",
              r"PushedFilters: \[.*LessThan\(label"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 1-row packed query aggregate
    ),
    "ann_ivf_label": dict(
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=1,  # the tiny query subset — constant-ish, hinted
    ),
    # ---------------- python surfaces ----------------
    "pandas_udf_token_count": dict(must=[r"ArrowEvalPython"], must_not=[r"Exchange"]),
    # Spark 4 arrow-optimized plain UDF: Arrow evaluation, zero shuffle
    "arrow_python_udf": dict(
        must=[r"ArrowEvalPython|BatchEvalPython"],
        must_not=[r"Exchange", r"CartesianProduct"],
    ),
    # polymorphic UDTF (analyze): Generate-over-Python-UDTF feeding a
    # partial+final distinct aggregate
    "udtf_ngram_analyze": dict(
        must=[r"(?i)udtf|PythonUDTF", r"partial_"],
        must_not=[r"CartesianProduct"],
    ),
    "grouped_map_top2_sharded": dict(
        must=[r"FlatMapGroupsInPandas|GroupedMapPandas"], must_not=[r"CartesianProduct"]
    ),
    # grouped-agg pandas UDAF: the Arrow aggregate node, one exchange
    "pandas_udaf_weighted_avg": dict(
        must=[r"ArrowAggregatePython|AggregateInPandas"],
        must_not=[r"CartesianProduct"],
    ),
    "word_count": dict(must=[r"Generate", r"partial_"], must_not=[r"CartesianProduct"]),
    # ---------------- round-2 additions ----------------
    "q13_customer_distribution": dict(
        must=[r"HashAggregate", r"partial_"], must_not=[r"CartesianProduct"]
    ),
    "q15_top_supplier": dict(
        must=[r"partial_sum"], must_not=[r"CartesianProduct"], hinted_broadcasts=1
    ),
    "q17_small_quantity": dict(
        selective_dim_first=True,
        must=[r"partial_"], must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "q19_disjunctive_revenue": dict(
        selective_dim_first=True,
        must=[r"partial_sum"], must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "tfidf_top_terms": dict(
        must=[r"Window", r"partial_"], must_not=[r"CartesianProduct"]
    ),
    # deterministic sampling is a pure pushable filter: zero shuffle
    "stratified_sample_documents": dict(
        must=[r"Filter"], must_not=[r"Exchange", r"CartesianProduct"]
    ),
    "doc_length_quantiles": dict(
        must=[r"Aggregate"], must_not=[r"CartesianProduct"]
    ),
    "window_percent_rank": dict(must=[r"Window"], must_not=[r"CartesianProduct"]),
    "join_right_outer": dict(
        # canonicalized to LeftOuter with sides swapped
        must=[r"LeftOuter|RightOuter"], must_not=[r"CartesianProduct"]
    ),
    # NOT IN is the ONE surface Spark can only execute by broadcasting
    # the subquery side (the null-aware anti join has no shuffle
    # strategy), so the planner forces that broadcast at ANY threshold
    # — the known NOT IN scale trap this demo exists to exhibit.  The
    # accepted_fact_builds entry records the exception EXPLICITLY; the
    # 100 TB rewrite is NOT EXISTS / left-anti (join_left_anti), per
    # the query docstring.
    "not_in_subquery_customers": dict(
        must=[r"LeftAnti"], must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,
        accepted_fact_builds=["orders"],
    ),
    "agg_minmax_by": dict(
        must=[r"partial_", r"HashAggregate|ObjectHashAggregate"],
        must_not=[r"CartesianProduct"],
    ),
    "multimodal_audio_energy": dict(
        must=[r"MapInPandas"], must_not=[r"CartesianProduct", r"Exchange"]
    ),
    "multimodal_keyframes": dict(
        must=[r"MapInPandas"], must_not=[r"CartesianProduct", r"Exchange"]
    ),
    # RecordBatch-level Python (mapInArrow): PythonMapInArrow node,
    # zero shuffle — payloads never leave their partition
    "multimodal_probe_arrow": dict(
        must=[r"(?i)MapInArrow"], must_not=[r"CartesianProduct", r"Exchange"]
    ),
    # ---------------- round-3 pipeline passes ----------------
    # repetition: two map-side-combined aggs + per-doc lead window
    "quality_repetition": dict(
        must=[r"partial_", r"Window"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # rarity: vocab join NOT broadcast-hinted (scales with corpus);
    # only the 1-row corpus total rides a (nested-loop) broadcast
    "doc_rarity_score": dict(
        must=[r"partial_", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,
    ),
    # composed filter: aggregation-only pass, zero joins
    "docs_quality_filter": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # character diversity: two combiner-reduced aggregates, zero joins,
    # text never shuffles (only doc_id/char/count)
    "char_diversity_quality": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join", r"Exchange hashpartitioning.*text"],
        hinted_broadcasts=0,
    ),
    # Gopher shape rules: one exploded-token aggregate, zero joins
    # (countDistinct adds an expand+second agg, still combiner-reduced)
    "gopher_quality_rules": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    "dedup_canonical": dict(
        must=[r"Window"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # Spark 4 recursive CTE: the plan must contain the recursion
    # operator pair (UnionLoop driving UnionLoopRef), equi-joins only
    "reach_flagged_neighborhood": dict(
        must=[r"UnionLoop", r"UnionLoopRef"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # survivor policy: converged component labels (cached leaves) +
    # the quality projection on one doc_id equi-join, a per-cluster
    # window, a |clusters|-row aggregate
    "dedup_cluster_survivors": dict(
        must=[r"Window", r"HashAggregate|SortAggregate", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # the registry query returns the stored fixed point (a
    # lineage-free leaf); the rounds' join-aggregate structure is
    # policed on the pagerank_builder pseudo-entry below
    "pagerank_dedup_graph": dict(
        must=[r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # decontamination: hash equi-join of two inverted indexes, both
    # shuffled (eval side deliberately unhinted), text never moves
    "decontaminate_against_eval": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"xxhash64"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # trained-quantizer IVF: Arrow-batched assignment, broadcast only
    # the (tiny) probed-query side, window top-k
    # IVF-PQ: Arrow-batched encode/probe, broadcast probed queries
    # (stride-subset, same bound as ann_ivf_kmeans), JVM-side ADC
    # lookup-sum, two windows (ADC shortlist + exact-rerank top-k)
    # hash-ordered deterministic reservoir: per-partition partial
    # top-k (window) — no full sort, no cartesian
    # bigram df is a word-count-shaped partial+final aggregate; the
    # df re-join onto the exploded stream must stay an equi-join
    "bigram_fluency": dict(
        must=[r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # negative-sampling table: word-count aggregate → top-K cut; the
    # cumulative window rides the LIMIT-bounded frame only
    "negative_sampling_table": dict(
        must=[r"partial_", r"TakeOrderedAndProject", r"Window"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
        # total + cumulative, both over the top-K LIMIT frame
        unpartitioned_windows=["limit", "limit"],
    ),
    # pipe syntax lowers to the identical classic plan: pushed filter,
    # partial+final aggregate — syntax, not semantics
    "sql_pipe_syntax": dict(
        must=[r"partial_", r"HashAggregate",
              r"PushedFilters: \[.*l_quantity"],
        must_not=[r"CartesianProduct", r"Window", r"Join"],
        hinted_broadcasts=0,
    ),
    # null-safe <=> stays a HASH join (NULL hashes like a value) —
    # the nested-loop fallback a general null predicate forces is the
    # failure mode this audit exists to catch
    "join_null_safe": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # split-half coherence: everything in the row's arrays — no
    # shuffle, no join, no window
    "doc_halves_coherence": dict(
        must=[r"Scan parquet"],
        must_not=[r"CartesianProduct", r"Join", r"Window",
                  r"Exchange hashpartitioning"],
        hinted_broadcasts=0,
    ),
    # RRF fusion: both rank windows ride limit-bounded top-k frames;
    # corpus-scaling work lives in (and is audited on) the source
    # rankers
    "search_hybrid_rrf": dict(
        must=[r"Window", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # bm25's 1-row corpus-stats frame
        unpartitioned_windows=["limit", "limit"],
    ),
    # Cavnar–Trenkle langid: JVM trigram explode, word-count-shaped
    # profile aggregates, PARTITIONED rank windows (per lang / per
    # doc), |langs|-bounded broadcast fan-out for the classify join
    # the (doc_id, lang, tri, c) frame is stored in the registry:
    # both consumers plan a Scan ExistingRDD leaf, so the explode /
    # raw-stream shuffle is policed on the langid_dp_builder
    # pseudo-entry below; here the hint is the |langs|-bounded
    # classify crossJoin
    "lang_id_ngram_profile": dict(
        must=[r"Scan ExistingRDD", r"partial_", r"Window"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,
    ),
    # zlib quality signal: one Arrow-batched Python pass, row-local —
    # no shuffle at all (the spread repartition is the only exchange)
    "compression_ratio_quality": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Window", r"SortMergeJoin",
                  r"Exchange hashpartitioning"],
        hinted_broadcasts=0,
    ),
    # PMI collocations: pair stream is JVM array code + ONE explode
    # (no positions self-join anywhere), counts combine map-side,
    # top-k is TakeOrderedAndProject
    "cooccurrence_pmi": dict(
        must=[r"Generate", r"partial_count", r"TakeOrderedAndProject"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                  r"Window"],
        hinted_broadcasts=0,
    ),
    "xml_scan_nation": dict(must=[r"(?i)xml"], must_not=[r"CartesianProduct"]),
    # raw-asset ingestion: the binaryFile source must appear as its
    # own scan (file list split across executors, bytes never driver-side)
    "binaryfile_scan": dict(
        must=[r"Scan binaryFile"],
        must_not=[r"CartesianProduct", r"Exchange"],
        hinted_broadcasts=0,
    ),
    # runtime bloom-filter injection must actually land in the big
    # side's scan (the frame carries the filter's confs to every
    # action — a regression here means the filter silently planned
    # away)
    "join_bloom_runtime_filter": dict(
        must=[r"might_contain"],
        must_not=[r"CartesianProduct"],
    ),
    "reservoir_sample_per_key": dict(
        must=[r"Window"],
        must_not=[r"CartesianProduct"],
    ),
    # correlated LATERAL decorrelates into a join + per-key limit
    "lateral_top2_orders": dict(
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "ann_ivf_pq": dict(
        must=[r"MapInPandas", r"Window", r"BroadcastExchange"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the stride-50 probed query set
    ),
    # PQ recall report: composes brute truth (1 hinted broadcast of the
    # packed query block) with the PQ pipeline (1 hinted query-set
    # broadcast); hit-count join + final agg add no hints
    "ann_pq_recall_report": dict(
        must=[r"MapInPandas", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=2,
    ),
    # BPE encode: one Arrow-batched python pass over the scan, merges
    # by closure — no join, no shuffle beyond the spread repartition
    "bpe_token_stats": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # unigram-LM twin of bpe_token_stats: closure-shipped piece costs,
    # map-only Arrow encode — no join, no exchange below the stats agg
    "unigram_token_stats": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # driver-built model table (bounded <= UNIGRAM_VOCAB rows) — the
    # artifact query; nothing to shuffle
    "unigram_vocab": dict(
        must=[],
        must_not=[r"CartesianProduct", r"Exchange"],
        hinted_broadcasts=0,
    ),
    # fertility envelope: parent mapInPandas encode + the documents
    # equi-join + |langs|-row aggregate, flags are projections
    "tokenizer_fertility_envelope": dict(
        must=[r"MapInPandas", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # DoReMi-lite weights: cached-LM leaf + doc_id equi-join +
    # |sources|-row aggregate; the global totals ride unpartitioned
    # windows over that bounded frame (the offsets device)
    "doremi_domain_weights": dict(
        must=[r"Window", r"HashAggregate|SortAggregate", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,  # LM frame is a stored leaf; see builder entry
        # both global-total windows sit above the |sources|-row
        # aggregate — bounded single partitions, never corpus rows
        unpartitioned_windows=["agg:source", "agg:source"],
    ),
    # bake-off: ONE Arrow encode pass for both budgeted models (shipped
    # by closure), one doc_id equi-join of narrow int frames against the
    # documents metadata, |langs|-row aggregate
    "tokenizer_bakeoff_report": dict(
        must=[r"MapInPandas", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # envelope re-shapes the parent's |langs| rows; same plan bars
    "tokenizer_bakeoff_envelope": dict(
        must=[r"MapInPandas", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # PQ recall envelope: parent (PQ + brute GEMM sides) + the
    # truth aggregate join; the brute side's packed-query BNLJ is its
    # documented 1-row broadcast, so only cartesian is banned.  Three
    # hints total, all constant-size: the parent's brute 1-row query
    # pack + the PQ probe pack, plus the envelope's own brute truth
    # run (a second 1-row query pack — the plans are separate
    # subtrees, so the exchange is not shared)
    "ann_pq_recall_envelope": dict(
        must=[r"MapInPandas", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=3,
    ),
    # trained-kmeans IVF envelope: parent (trained assign + probe, 1
    # hinted query-set broadcast) + the brute truth run (1-row packed
    # query broadcast) + shape/hit joins and per-query aggregates —
    # both hints constant-size
    "ann_ivf_kmeans_envelope": dict(
        must=[r"MapInPandas", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=2,
    ),
    # bigram LM scoring: the query returns the stored scored frame, a
    # Scan ExistingRDD LEAF, so the walk sees ZERO hints here; the
    # plan shape and the model hints are policed on the builder (the
    # lm_scored_builder pseudo-entry below)
    "bigram_lm_perplexity": dict(
        must=[r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"SortMergeJoin", r"Window"],
        hinted_broadcasts=0,
    ),
    # last-touch attribution: JOIN-FREE — one user-keyed window
    # carries the most recent touch struct, then a |channels|-row
    # partial-agged aggregate
    "attribution_last_touch": dict(
        must=[r"Window", r"partial_"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # Spark-4 transpose surface: the INPUT aggregate is the audited
    # part (broadcast-dim joins + 5-group aggregate); transpose itself
    # materializes the bounded frame by contract, so the final plan is
    # a local relation — assert only that nothing cartesian slipped in
    "transpose_region_metrics": dict(
        must=[],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # z-order layout stats: 1-row bounds aggregate broadcast back over
    # the scan (the scalar-total BNLJ pattern — a deliberate hint of a
    # CONSTANT-size frame), then codegen'd integer bit arithmetic +
    # one partial-agged bucket groupBy — no Python, no equi-join
    "zorder_bucket_stats": dict(
        must=[r"partial_", r"HashAggregate", r"BroadcastNestedLoopJoin"],
        must_not=[r"CartesianProduct", r"Window", r"MapInPandas"],
        hinted_broadcasts=1,  # the 1-row min/max bounds frame
    ),
    # pHash near-dup: cached hash leaf → stack bands (Generate) →
    # bucket aggregate with cap → JVM pair explosion; verification is
    # inline popcount, so NO join of any kind appears
    "multimodal_phash_near": dict(
        must=[r"Generate", r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # prototypicality ranking: one Arrow assign+cosine pass (centroids
    # by closure), then the cell-keyed rank/count window over
    # three-integer rows — no joins; the Window partitions by cell
    "prototypicality_rank": dict(
        must=[r"MapInPandas", r"Window"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # perceptual-hash dedup: the stored image-feature frame (its Arrow
    # decode pass is policed on image_features_builder), then the
    # hash-keyed cluster window — no joins; the Window is PARTITIONED
    # by the hash pair (never single-partition)
    "multimodal_phash_dedup": dict(
        must=[r"Scan ExistingRDD", r"Window"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # nearest-neighbor resize: a select over the stored image-feature
    # frame; its decode pass is policed on image_features_builder
    "multimodal_resize_nearest": dict(
        must=[r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"Join", r"Window",
                  r"Exchange hashpartitioning"],
        hinted_broadcasts=0,
    ),
    # Moore-Lewis contrastive selection: in-domain model tables are
    # sample-bounded (safe hints: in_uni + in_bi); the general per-doc
    # frame is the cached LM leaf (its hints policed on
    # lm_scored_builder); bigrams built in-array, per-doc aggregates
    # partial-combine, the final join shuffles five-integer rows only
    "moore_lewis_selection": dict(
        must=[r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"Window"],
        # the query returns the stored frame, a Scan ExistingRDD leaf;
        # its aggregates and in-domain model hints are policed on the
        # builder (ml_scored_builder below)
        hinted_broadcasts=0,
    ),
    # NB calibration: the stored per-doc NB frame (r15 — shared with
    # the classifier, so this query no longer re-runs the corpus pass)
    # + one narrow weak-label scan + a four-integer doc_id join +
    # |bins| aggregate
    "nb_calibration_report": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window"],
        # the NB parent plans as a Scan ExistingRDD leaf; its model +
        # constant hints are policed on nb_scored_builder below
        hinted_broadcasts=0,
    ),
    # winnow matching: codegen'd exploded winnowing core (per-doc
    # Window — the measured 17× choice over in-array lambdas) feeding
    # the df-capped posting aggregate + JVM pair explosion — no
    # self-join, no forced broadcast
    "dedup_winnow": dict(
        must=[r"partial_", r"HashAggregate", r"Generate", r"Window"],
        must_not=[r"CartesianProduct", r"SortMergeJoin",
                  r"BroadcastHashJoin"],
        hinted_broadcasts=0,
    ),
    # winnowing report: exploded core + per-doc aggregate (string-min
    # + count-distinct plan as SortAggregate pairs); exactly ONE
    # exchange — the doc_id repartition — and no joins of any kind
    "winnow_fingerprint_report": dict(
        must=[r"Window", r"SortAggregate|HashAggregate"],
        must_not=[r"Join", r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # Gopher dup-ngram mass: in-array trigram build (no Window), two
    # doc-keyed partial-agged reduces, zero joins
    "dup_ngram_char_fraction": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window", r"Join"],
        hinted_broadcasts=0,
    ),
    # drift report: only the |sources|-row totals frame is HINTED to
    # broadcast; the corpus-scaling vocab join is left to AQE (its
    # small-sf physical plan may still pick broadcast by size estimate
    # — that is the planner's reversible choice, not a forced hint)
    "source_drift_report": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window"],
    ),
    # NB classifier: one vocab-bounded model broadcast, weak labels
    # and training all inside the TakeOrdered sample, corpus scored in
    # one scan with a partial-agged per-doc reduce
    "nb_quality_classifier": dict(
        must=[r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct", r"SortMergeJoin", r"Window"],
        # the query returns the stored frame, a Scan ExistingRDD leaf,
        # so the walk sees ZERO hints; the plan shape and the model +
        # constant hints are policed on the builder (the
        # nb_scored_builder pseudo-entry below)
        hinted_broadcasts=0,
    ),
    # dynamic-gap sessions: same stateful session operator as the
    # fixed-gap query; the per-row gap is an expression, not state
    "session_window_dynamic_gap": dict(
        must=[r"(?i)session"],
        must_not=[r"CartesianProduct"],
    ),
    "ann_ivf_kmeans": dict(
        must=[r"MapInPandas", r"Window", r"BroadcastExchange"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the stride-50 probed query set
    ),
    # salted join: MUST stay on the shuffled path (the salt is the
    # point), partitioned by the decorrelated (flag, salt) key
    "join_salted_skew": dict(
        must=[r"ShuffledHashJoin", r"hashpartitioning\(l_returnflag.*salt"],
        must_not=[r"CartesianProduct", r"BroadcastHashJoin"],
        hinted_broadcasts=0,
    ),
    # vocab is TakeOrdered top-V (never a global sort); the encode
    # join is an equi-join; re-assembly is one doc_id aggregate
    "encode_tokens_to_ids": dict(
        must=[r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        # the id-assignment window runs over the top-VOCAB_SIZE LIMIT
        # frame — bounded by a literal, never corpus rows
        unpartitioned_windows=["limit"],
    ),
    # pure function of doc_id: scan + one map-side-combined aggregate
    "split_train_val_test": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # sequence packing: per-shard window + final rollup, no joins
    "pack_training_batches": dict(
        must=[r"Window", r"partial_"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    "setop_intersect_all": dict(
        must=[r"Generate|Expand"], must_not=[r"CartesianProduct"]
    ),
    "setop_except_all": dict(
        must=[r"Generate|Expand"], must_not=[r"CartesianProduct"]
    ),
    "sort_nulls_ordering": dict(
        must=[r"TakeOrderedAndProject"], must_not=[r"CartesianProduct"]
    ),
    "unpivot_daily_values": dict(
        must=[r"Expand"], must_not=[r"CartesianProduct"]
    ),
    "cube_grouping_id": dict(
        must=[r"Expand", r"HashAggregate"], must_not=[r"CartesianProduct"]
    ),
    # the hint must yield ShuffledHashJoin — no sort on either side
    "join_shuffle_hash_hint": dict(
        must=[r"ShuffledHashJoin"],
        must_not=[r"CartesianProduct", r"SortMergeJoin"],
    ),
    # pure projection: normalization never shuffles
    "text_normalize": dict(
        must=[r"Project"], must_not=[r"Exchange", r"CartesianProduct"]
    ),
    # ---------------- round-3 additions: remaining TPC-H shapes ----------------
    # correlated min via window over the rollup; only region+nation hinted
    "q2_min_cost_supplier": dict(
        selective_dim_first=True,
        must=[r"Window", r"BroadcastHashJoin", r"partial_min"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=2,  # region (5 rows), nation (25 rows)
    ),
    "q8_market_share": dict(
        selective_dim_first=True,
        must=[r"partial_sum", r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=2,  # (cust-nation⋈AMERICA-region), supp-nation
    ),
    "q9_product_profit": dict(
        selective_dim_first=True,
        must=[r"partial_sum", r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=1,  # nation
    ),
    # scalar threshold rides a 1-row broadcast NLJ; the threshold branch is a
    # zero-shuffle global sum (sum-of-sums identity), not a rollup recompute
    "q11_important_stock": dict(
        selective_dim_first=True,
        must=[r"partial_sum"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=3,  # nation appears in both branches + 1-row threshold
    ),
    "q12_priority_shipping": dict(
        must=[r"partial_sum", r"PushedFilters: \[.*l_shipdate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "q16_supplier_cnt": dict(
        selective_dim_first=True,
        must=[r"LeftAnti", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    "q20_potential_promo": dict(
        selective_dim_first=True,
        must=[r"LeftSemi", r"Window"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=1,  # nation
    ),
    "q21_suppliers_waiting": dict(
        must=[r"LeftSemi", r"LeftAnti"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # scalar avg threshold: 1-row broadcast; dormant filter is a LeftAnti
    "q22_global_sales": dict(
        must=[r"LeftAnti"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 1-row avg aggregate
    ),
    # chunking is per-document: the plan must be a pure map pipeline —
    # any Exchange here means the corpus text is being shuffled
    "chunk_documents": dict(
        must=[r"Generate"],  # the posexplode of the chunk list
        must_not=[r"Exchange", r"Join", r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # two-pass resample: per-source counts, then rate application;
    # only the 1-row totals aggregate is broadcast-hinted
    "mixture_resample_sources": dict(
        must=[r"partial_", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 1-row (total, k) aggregate
    ),
    # regex count+replace in one projection: scan-speed map, no shuffle
    "pii_scrub_canaries": dict(
        must=[r"codegen id"],
        must_not=[r"Exchange", r"Join", r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # one shuffle on shard, bounded in-partition sort
    "shuffle_shard_order": dict(
        must=[r"Window"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # three chained conditional aggregates, all joined on user_id —
    # map-side combine everywhere, no cartesian anywhere
    "funnel_stages_events": dict(
        must=[r"partial_min", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # the capstone chain: every join is a doc_id/hash equi-join, the
    # dedup winner index collapses before its join, partials everywhere
    "pipeline_curate_report": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # one lag window on user_id + map-side-combined 25-cell rollup
    "event_transition_matrix": dict(
        must=[r"Window", r"partial_"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # first-seen aggregate + user_id equi-join + distinct rollup
    "cohort_retention_events": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # calendar densification: JVM-side sequence+explode (Generate),
    # map-side-combined daily aggregate, per-user fill window; join
    # strategy left to stats (both sides scale with the corpus)
    "timeseries_gapfill": dict(
        must=[r"Generate", r"partial_", r"Window"],
        must_not=[r"CartesianProduct", r"PythonUDF"],
        hinted_broadcasts=0,
    ),
    # both stacked windows (lag-change-detect, lead-close) share ONE
    # shuffle+sort: exactly one Exchange node in the whole plan
    "scd2_event_intervals": dict(
        must=[r"lag\(", r"lead\("],
        must_not=[r"CartesianProduct", r"(?s)\(\d+\) Exchange.*\(\d+\) Exchange"],
        hinted_broadcasts=0,
    ),
    # latest-per-key must push the top-1 into the shuffle as
    # partial+final WindowGroupLimit, not rank-then-filter a full sort
    "cdc_latest_snapshot": dict(
        must=[r"WindowGroupLimit", r"row_number"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,
    ),
    # single pruned column into a partial+final hash aggregate
    "histogram_prices": dict(
        must=[r"ReadSchema: struct<l_extendedprice:double>", r"partial_"],
        must_not=[r"CartesianProduct", r"Exchange.*Exchange.*Exchange"],
        hinted_broadcasts=0,
    ),
    # DSIR scoring: the ONLY join is against the DSIR_BUCKETS-row
    # hashed model (constant size by construction -> hint is
    # policy-safe); per-doc reduce partial-combines map-side
    "dsir_importance_weights": dict(
        must=[r"BroadcastHashJoin", r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"SortMergeJoin", r"Window"],
        hinted_broadcasts=1,  # the 64-bucket hashed unigram model
    ),
    # temperature mixture: token counts via size(tokens) projection
    # (no explode, no Generate), one |sources|-row aggregate, no joins
    "mixture_temperature_weights": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join", r"Generate", r"Window"],
        hinted_broadcasts=0,
    ),
    # CMS: sketch builds as ONE map-side-combined constant-size
    # aggregate; the estimate probe joins the constant counter frame
    # (hinted); exact-count audit column is the evaluation tier
    "cms_heavy_hitters": dict(
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=1,  # the d*w counter frame
    ),
    # kNN eval: blocked-GEMM core (1-row packed-query broadcast onto
    # corpus blocks — the deliberate NLJ of the ann family), then
    # exact-integer voting; label joins equi, AQE-planned
    "knn_label_eval": dict(
        must=[r"MapInPandas", r"Window"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 1-row packed query frame
    ),
    # hard negatives: same blocked-GEMM shortlist; label joins equi
    "hard_negative_mining": dict(
        must=[r"MapInPandas", r"Window"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=1,  # the 1-row packed query frame
    ),
    # fertility: the BPE encode pass (MapInPandas, ranks by closure)
    # joined equi to doc metadata, one |langs|-row aggregate
    "tokenizer_fertility_report": dict(
        must=[r"MapInPandas", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # agreement audit: composes the two exact pair tiers (their own
    # audited plans), then a pair-keyed aggregate to ONE row
    "dedup_lexical_semantic_agreement": dict(
        must=[r"HashAggregate|SortAggregate", r"Union"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # per-lang ranking window + |langs|-row aggregate; no joins
    "quality_token_budget": dict(
        must=[r"Window", r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # minhash estimator envelope: pair frame (candidate-budget
    # bounded) equi-joined twice against the cached signature frame —
    # nothing rescans the corpus; no cartesian, no window
    "dedup_minhash_estimate_envelope": dict(
        must=[r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"Window"],
        hinted_broadcasts=0,
    ),
    # SQL session variables: the parser folds the variable to a
    # literal, so the plan is one filtered scan + partial-agged
    # aggregate — no join, the filter pushed to the scan
    "sql_variables_quota": dict(
        must=[r"partial_", r"HashAggregate", r"PushedFilters"],
        must_not=[r"CartesianProduct", r"Join", r"Window"],
        hinted_broadcasts=0,
    ),
    # pyds streaming sink: the audited plan is the read-back rollup
    # over the manifest-listed json files — one partial-agged
    # aggregate, no joins
    "pyds_stream_sink_roundtrip": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join", r"Window"],
        hinted_broadcasts=0,
    ),
    # streaming attribution: the audited plan is the per-channel
    # rollup over the stream-materialized per-purchase rows — a
    # |channels|-row partial-agged aggregate, no joins
    "streaming_attribution_live": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Join", r"Window"],
        hinted_broadcasts=0,
    ),
    # streaming sketch probe: the audited plan is the batch probe over
    # the stream-materialized 1024-row counter frame (hinted)
    "streaming_cms_hitters": dict(
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=1,
    ),
    # BM25: postings filtered to the query terms BEFORE the shuffle;
    # corpus stats + idf fold into ONE 1-row frame broadcast back via
    # crossJoin (BroadcastNestedLoop over exactly one build row — not a
    # data-sized cartesian); dl rides the posting aggregate (no second
    # corpus join); top-k is TakeOrderedAndProject
    "search_bm25_topk": dict(
        must=[r"BroadcastNestedLoopJoin", r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"SortMergeJoin", r"Window",
                  r"BroadcastHashJoin"],
        hinted_broadcasts=1,  # the 1-row corpus-stats frame
    ),
    # CCNet terciles: the LM scorer's two model broadcasts, then ONE
    # per-language window over narrow integer rows (text never enters
    # the window shuffle); no extra hints beyond the LM's
    "ccnet_perplexity_buckets": dict(
        must=[r"Window", r"BroadcastHashJoin", r"Scan ExistingRDD"],
        must_not=[r"CartesianProduct"],
        hinted_broadcasts=0,  # LM frame is a stored leaf; see builder entry
    ),
    # phrase retrieval: adjacency counted IN-ARRAY — the only Generate
    # is the 3-rows-per-doc stack() pivot, never a token explode — and
    # no join anywhere; only hit rows reach the per-phrase rank window
    "search_phrase_topk": dict(
        must=[r"Window", r"Arguments: stack\("],
        must_not=[r"Join", r"CartesianProduct", r"explode\("],
        hinted_broadcasts=0,
    ),
    # dup provenance: pair frame bounded by verified near-dups; source
    # attribution joins a corpus-scaling (doc_id, source) projection —
    # broadcast-hint FORBIDDEN (round-2 policy), AQE picks
    "dedup_cross_source_matrix": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # vocab growth: two word-count-class partial+final aggregates
    # (unigram counts, bigram distinct), |sources|-row final joins
    "vocab_growth_report": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"Window"],
    ),
    # shard balance: size(tokens) projection (no explode), |shards|-row
    # aggregate, global window ONLY over that constant-size frame
    "shard_balance_report": dict(
        must=[r"partial_", r"HashAggregate", r"Window"],
        must_not=[r"CartesianProduct", r"explode\("],
        hinted_broadcasts=0,
        # the grand-total window rides the |shards|-row aggregate
        # (N_SHARDS is a constant) — bounded, never corpus rows
        unpartitioned_windows=["agg:shard"],
    ),
    # OOV drift: corpus trigrams collapse to a DISTINCT type set below
    # the join (aggregate-below-join); vocabulary-keyed join left to
    # AQE — the type set scales with the n-gram vocabulary, no hint
    "incremental_oov_report": dict(
        must=[r"partial_", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window"],
    ),
    # bitext mining: BOTH sides are corpus-scaling, so broadcast hints
    # are FORBIDDEN (round-2 policy) — the cross-sides grid replicates
    # via explode, scores in one applyInPandas GEMM per cell, and
    # everything downstream is id-keyed windows + equi-joins
    "bitext_margin_mining": dict(
        must=[r"FlatMapGroupsInPandas", r"Window"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # ablation curve: distributed exact rank (per-key counts + bounded
    # offsets window + per-key row_number) — NO single-partition NTILE
    # over corpus rows; LM joins from the registry (its two model
    # hints are policed on the builder, like ccnet's)
    "quality_ablation_curve": dict(
        must=[r"partial_", r"HashAggregate", r"Window"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        # the bounded distinct-q_fp offsets frame (≤ 2^20+1 rows by
        # construction) is hinted back onto the ranked rows; the LM
        # frame stays a stored leaf — see the builder entry
        hinted_broadcasts=1,
        # the offsets window (running offset + grand total in one
        # WindowExec) sits above the distinct-q_fp aggregate —
        # bounded by construction, never corpus rows
        unpartitioned_windows=["agg:q_fp"],
    ),
    # BUILDER frames (FRAME_BUILDERS): every consumer plans a stored
    # frame as a Scan ExistingRDD leaf, so the plan shape and the
    # broadcast policy of the frame itself are asserted on its builder
    # quality-frame builder: one scan, the dup-hash window count, no
    # joins anywhere
    "quality_fp_builder": dict(
        must=[r"Window", r"PushedFilters|Scan parquet"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # bigram LM scorer: model frames are sample-bounded (safe to hint
    # broadcast at any sf); bigrams built in-array (no Window shuffle);
    # the TakeOrdered cap bounds the training sample without a global
    # sort; per-doc aggregate partial-combines map-side
    "lm_scored_builder": dict(
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"SortMergeJoin", r"Window"],
        hinted_broadcasts=2,  # unigram + bigram model tables
    ),
    "ml_scored_builder": dict(
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"Window"],
        hinted_broadcasts=2,  # in-domain unigram + bigram model tables
    ),
    # image-feature builder: one Arrow decode pass over the spread
    # scan, no joins; only the payload length is shuffled
    "image_features_builder": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Join", r"Window",
                  r"Exchange hashpartitioning"],
        hinted_broadcasts=0,
    ),
    # round-15 tokenizer envelopes: the stats pair re-run the parent's
    # distributed Arrow encode (MapInPandas) and join the n_chars
    # metadata — no hints, strategy left to stats/AQE; the vocab pair
    # aggregate a driver-materialized bounded model table (LocalTableScan
    # leaf, |merges| <= 200 / |pieces| <= max(512, alphabet) rows by
    # construction) — joins of any kind are a spec violation there
    "bpe_stats_envelope": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Window"],
        hinted_broadcasts=0,
    ),
    "unigram_stats_envelope": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Window"],
        hinted_broadcasts=0,
    ),
    "bpe_vocab_envelope": dict(
        must=[r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"Join", r"Window"],
        hinted_broadcasts=0,
    ),
    # prototypicality envelope: the parent's Arrow score pass + its
    # cell-keyed window, re-projected row-locally — no joins
    "prototypicality_envelope": dict(
        must=[r"MapInPandas", r"Window"],
        must_not=[r"CartesianProduct", r"Join"],
        hinted_broadcasts=0,
    ),
    # zlib-ratio envelope: the parent's shuffle-free Arrow pass plus a
    # row-local projection — joins of any kind are a spec violation
    "compression_ratio_envelope": dict(
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Join", r"Window",
                  r"Exchange hashpartitioning"],
        hinted_broadcasts=0,
    ),
    "unigram_vocab_envelope": dict(
        must=[r"HashAggregate|SortAggregate"],
        must_not=[r"CartesianProduct", r"Join", r"Window"],
        hinted_broadcasts=0,
    ),
    # NB builder frame (consumers plan it as a stored leaf):
    # model table + the 1-row constant frames (sample-agg, consts
    # feeding the model, consts feeding the final projection — the
    # consts subtree materializes per consumer): no driver .first()
    # jobs — every scalar rides a broadcast crossJoin
    "nb_scored_builder": dict(
        must=[r"BroadcastHashJoin", r"TakeOrderedAndProject", r"partial_"],
        must_not=[r"CartesianProduct", r"SortMergeJoin", r"Window"],
        hinted_broadcasts=5,
    ),
    # lang-id per-doc trigram count frame: one explode, one
    # partial-agged shuffle — no join, no window, nothing broadcast
    "langid_dp_builder": dict(
        must=[r"Generate", r"partial_"],
        must_not=[r"CartesianProduct", r"Join", r"Window"],
        hinted_broadcasts=0,
    ),
    # the PageRank rounds the registry pins: equi-joins on the edge
    # list + partial+final sum, never a cartesian or nested loop
    "pagerank_builder": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # ONE connected-components min-label round: edge equi-join +
    # partial+final min + label left join
    "cc_round_builder": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"partial_min"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # CC edge build over a fresh shingling: posting self-join (equi on
    # the shingle hash), two size equi-joins, threshold filter — no
    # cartesian
    "cc_edges_builder": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"xxhash64"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=0,
    ),
    # verified-pair builder (dedup_ngram_jaccard and its consumers
    # plan the stored pair frame as a Scan ExistingRDD leaf): the
    # verify join with the size-GATED broadcast hints
    "ngram_pairs_builder": dict(
        must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        hinted_broadcasts=2,  # gated verify broadcast, sa + sb sides
    ),
}


def _cc_shingle_sets(spark, sf_dir):
    # the uncached shingling (docs= bypasses the dedup.shingles cache),
    # so the audited plan shows the xxhash64 pass, not a stored leaf
    from mr_python_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    return dedup.hashed_shingle_sets(spark, sf_dir, docs=docs)


def _cc_round_builder(spark, sf_dir):
    from pyspark.sql import functions as F

    edges = dedup._cc_edges(_cc_shingle_sets(spark, sf_dir))
    bidir = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        bidir.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return dedup._cc_round(bidir, labels)


def _cc_edges_builder(spark, sf_dir):
    return dedup._cc_edges(_cc_shingle_sets(spark, sf_dir))


#: pseudo-entries auditing the builders whose frames registry queries
#: only ever read as a stored ``Scan ExistingRDD`` leaf
FRAME_BUILDERS = {
    "lm_scored_builder": lm._lm_scored,
    "quality_fp_builder": pipeline._quality_fp,
    "ml_scored_builder": lm._ml_scored,
    "nb_scored_builder": lm._nb_scored,
    "langid_dp_builder": text._langid_dp,
    "pagerank_builder": graph._pagerank,
    "cc_round_builder": _cc_round_builder,
    "cc_edges_builder": _cc_edges_builder,
    "ngram_pairs_builder": dedup._ngram_pairs,
    "image_features_builder": multimodal._image_feature_pass,
}


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def count_broadcast_exchanges(df) -> int:
    """Count BroadcastExchangeExec nodes in a DataFrame's physical plan.

    Walks the JVM plan tree instead of grepping the formatted string,
    so only operators of this plan count.  A stored registry frame is
    a ``Scan ExistingRDD`` leaf: the hints of the plan that built it
    are policed on its builder entry.  ``AdaptiveSparkPlan`` is
    unwrapped to its current physical plan.
    """

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name.startswith("AdaptiveSparkPlanExec"):
            return walk(node.executedPlan())
        n = 1 if name.startswith("BroadcastExchange") else 0
        children = node.children()
        for i in range(children.size()):
            n += walk(children.apply(i))
        return n

    return walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001


#: fact tables scale with SF — they must never be FORCED to a
#: broadcast build side, and should never join each other before any
#: dimension has shrunk one side (the r13 q5 pathology)
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
#: dimension tables for the selective-dim-first rule (constant-size
#: region/nation plus the SF-scaling-but-filterable customer/
#: supplier/part)
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


def _unwrap_stage(node):
    name = node.getClass().getSimpleName()
    if name.startswith("AdaptiveSparkPlanExec"):
        return _unwrap_stage(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _unwrap_stage(node.plan())
    return node


def _scan_table(node) -> str | None:
    """Table name if ``node`` is a parquet scan of a known fixture."""
    name = node.getClass().getSimpleName()
    if not name.startswith(("FileSourceScan", "BatchScan")):
        return None
    text = node.toString()
    for t in FACT_TABLES + DIM_TABLES:
        if f"{t}.parquet" in text:
            return t
    return None


def broadcast_fact_builds(df) -> list[str]:
    """Fact scans on a broadcast build side with nothing bounding them.

    Walks the physical plan; for every ``BroadcastExchange`` it checks
    whether a fact-table scan is reachable in the broadcast subtree
    WITHOUT passing a bounding node (global limit / top-k / aggregate).
    Run on the stats-disabled plan, any hit is a FORCED broadcast of an
    SF-scaling frame — at 100 TB that build side OOMs every executor.
    Codifies docs/SCALE.md's "never let a fact table reach the build
    side" rule (the r14 q5 sf1 pathology, caught then by a hand probe).
    """
    hits: list[str] = []

    def unbounded_facts(node) -> list[str]:
        node = _unwrap_stage(node)
        name = node.getClass().getSimpleName()
        if name.startswith(
            ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
        ) or "Aggregate" in name:
            return []  # bounded below this point
        t = _scan_table(node)
        if t in FACT_TABLES:
            return [t]
        out: list[str] = []
        children = node.children()
        for i in range(children.size()):
            out += unbounded_facts(children.apply(i))
        return out

    def walk(node):
        node = _unwrap_stage(node)
        if node.getClass().getSimpleName().startswith("BroadcastExchange"):
            for t in unbounded_facts(node):
                hits.append(t)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return hits


def bare_fact_fact_joins(df) -> list[str]:
    """Binary joins where both sides are fact-only (no dim applied yet).

    For queries that HAVE a selective dimension (spec opt-in via
    ``selective_dim_first=True``), a join whose BOTH subtrees contain a
    fact-table scan while NEITHER contains any dimension scan means the
    two fact tables met before the dimension filter shrank either side
    — the r13 q5 shape (lineitem⋈orders first, full fact⋈fact
    SortMergeJoin, dimension selectivity applied only afterwards).
    Spark without CBO never reorders DataFrame joins, so the code
    order IS the plan order; this makes the ordering rule structural
    instead of a hand probe.
    """
    hits: list[str] = []

    def tables(node) -> set:
        node = _unwrap_stage(node)
        t = _scan_table(node)
        out = {t} if t else set()
        children = node.children()
        for i in range(children.size()):
            out |= tables(children.apply(i))
        return out

    def walk(node):
        node = _unwrap_stage(node)
        name = node.getClass().getSimpleName()
        children = node.children()
        if "Join" in name and children.size() == 2:
            sides = [tables(children.apply(i)) for i in range(2)]
            if all(s & set(FACT_TABLES) for s in sides) and not any(
                s & set(DIM_TABLES) for s in sides
            ):
                facts = sorted(
                    (sides[0] | sides[1]) & set(FACT_TABLES)
                )
                hits.append(f"{name}({','.join(facts)})")
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return hits


def unpartitioned_window_bounds(df) -> list[str]:
    """Describe what bounds each unpartitioned window operator's input.

    An unpartitioned window is single-partition by definition — fine
    ONLY when its input frame is bounded by construction.  For every
    ``WindowExec`` / ``WindowInPandasExec`` with an empty partitionSpec
    this returns what caps the rows flowing into it, found by walking
    its subtree:

    * ``"limit"`` — an explicit GLOBAL limit / top-k below (≤ literal
      rows; ``LocalLimit`` alone only caps rows per partition and does
      NOT count)
    * ``"agg:<cols>"`` — a grouped aggregate below (≤ |distinct keys|)
    * ``"UNBOUNDED"`` — nothing caps it: a corpus-scaling single
      partition, which must fail the audit.

    A multi-child node (join / union) is bounded only when EVERY child
    is bounded — a bounded dim joined to a corpus scan still scales
    with the corpus; the label reported is the first child's.

    Specs opt in via ``unpartitioned_windows=[...]`` (exact list,
    order of appearance); absent the key the audit expects NONE.
    """

    def unwrap(node):
        name = node.getClass().getSimpleName()
        if name.startswith("AdaptiveSparkPlanExec"):
            return unwrap(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return unwrap(node.plan())
        return node

    def bound_below(node):
        node = unwrap(node)
        name = node.getClass().getSimpleName()
        if name.startswith(("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")):
            return "limit"
        if name.startswith(("HashAggregate", "ObjectHashAggregate", "SortAggregate")):
            keys = node.groupingExpressions().mkString(",")
            cols = sorted(set(re.findall(r"(\w+)#\d+", keys)))
            return "agg:" + ",".join(cols)
        children = node.children()
        n = children.size()
        if n == 0:
            return None
        child_bounds = [bound_below(children.apply(i)) for i in range(n)]
        # single child: pass through; joins/unions: ALL branches must
        # be bounded or the combined output scales with the corpus
        if all(child_bounds):
            return child_bounds[0]
        return None

    found: list[str] = []

    def walk(node):
        node = unwrap(node)
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty():
            found.append(bound_below(node) or "UNBOUNDED")
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return found


def main(argv: list[str]) -> int:
    verbose = "-v" in argv
    names = [a for a in argv if not a.startswith("-")] or sorted(AUDITS)

    from mr_python_spark.session import get_spark, with_conf

    import __spark_entry__ as entrymod

    spark = get_spark("explain_audit")
    qs = entrymod.queries()
    failures = 0
    for name in names:
        spec = AUDITS[name]
        fn = FRAME_BUILDERS.get(name) or qs[name]
        df = fn(spark, SF_DIR)
        plan = formatted_plan(df)
        problems = []
        for pat in spec.get("must", []):
            if not re.search(pat, plan):
                problems.append(f"missing /{pat}/")
        for pat in spec.get("must_not", []):
            if re.search(pat, plan):
                problems.append(f"forbidden /{pat}/ present")
        # default-deny: every audited plan is checked for unpartitioned
        # WindowExecs.  A spec lists its expected bounds explicitly
        # (["limit"] / ["agg:<keys>"], order of appearance) — absent
        # the key, the expectation is NONE, so an accidental
        # corpus-wide single-partition window anywhere fails the audit.
        expected_upw = spec.get("unpartitioned_windows", [])
        got_upw = unpartitioned_window_bounds(df)
        if got_upw != expected_upw:
            problems.append(
                f"unpartitioned windows: expected {expected_upw}, got {got_upw}"
            )
        # selective-dim-first (opt-in for the TPC-H star queries): no
        # join may see fact tables on BOTH sides before ANY dimension
        # has been applied to either side — checked on the default
        # plan (whatever join strategy stats picked)
        if spec.get("selective_dim_first"):
            bare = bare_fact_fact_joins(df)
            if bare:
                problems.append(
                    f"fact⋈fact join before any dim applied: {bare}"
                )
        expected_hints = spec.get("hinted_broadcasts")
        if expected_hints is not None:
            # disable stats-based broadcasting: any BroadcastExchange
            # left is a forced hint.  Must equal the constant-dim count.
            nostats_df = with_conf(
                fn(spark, SF_DIR), {"spark.sql.autoBroadcastJoinThreshold": "-1"}
            )
            got = count_broadcast_exchanges(nostats_df)
            # default-deny: any hint-forced broadcast whose build
            # subtree reaches a fact scan unbounded (no limit / no
            # aggregate between) is a 100 TB OOM — never allowed
            # unless the spec EXPLICITLY accepts it (only the
            # null-aware anti join, which Spark cannot shuffle)
            accepted = spec.get("accepted_fact_builds", [])
            fact_builds = [
                t
                for t in broadcast_fact_builds(nostats_df)
                if t not in accepted
            ]
            if fact_builds:
                problems.append(
                    "forced broadcast of unbounded fact table(s): "
                    f"{fact_builds}"
                )
            if spec.get("selective_dim_first"):
                bare = bare_fact_fact_joins(nostats_df)
                if bare:
                    problems.append(
                        "fact⋈fact join before any dim applied "
                        f"(nostats plan): {bare}"
                    )
            if got != expected_hints:
                problems.append(
                    f"hinted broadcasts: expected {expected_hints}, got {got} "
                    "(forced broadcast of an SF-scaling table?)"
                )
        status = "ok  " if not problems else "FAIL"
        failures += bool(problems)
        print(f"{status}  {name}" + (f": {'; '.join(problems)}" if problems else ""))
        if verbose or problems:
            print(plan)
    print(f"\n{len(names) - failures}/{len(names)} plans clean")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
