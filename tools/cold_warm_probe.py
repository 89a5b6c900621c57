"""Cold-build vs warm-read seconds for every keyed-cache family.

r16 verdict order #5: the house keyed caches (shingles, postings,
minhash bands, verified pairs, LM frames, graph fixed points, trained
Python models, planning scalars) make repeat consumers cheap, but the
bench's untimed warm pass means their one-time build cost is invisible
in the headline numbers.  This tool mechanizes the ad-hoc cold/warm
timings earlier round logs carried: per family it

1. warms everything once (one pass over the consumer queries),
2. evicts EXACTLY that family's cache dicts (upstream families stay
   warm, so the cold number isolates the family's own build),
3. times each representative consumer cold (build + read), then
4. times it warm (cached-leaf read),

and writes ``docs/cold_warm_r<N>.json`` (round via
``SPARK_GRAFT_PLAN_ROUND``, default r17).  The artifact is the
auditable amortization record: cold − warm ≈ the one-time cost a
long-lived cluster pays once per corpus version.

Usage::

    python tools/cold_warm_probe.py            # all families at sf0.1
    python tools/cold_warm_probe.py verified_pairs lm_scored
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r17")


def _families():
    """(family → (cache dicts to evict, consumer query names)).

    Grouped hierarchically: a family's eviction list contains every
    cache that must fall for its build to actually re-run (e.g. the
    candidate frames sit downstream of the shingle cache, so evicting
    shingles alone would measure nothing — the warm candidate frame
    would still satisfy the consumer)."""
    from mr_python_spark import dedup, multimodal, session, similarity
    from mr_python_spark.functions import bpe, lm, pipeline, text, unigram
    from mr_python_spark.operators import graph, stats

    return {
        # the whole shingle→postings→candidate chain (dedup_ngram_jaccard
        # consumes the two candidate frames; the chain is one family
        # because the downstream frames pin the upstream ones warm).  The
        # verified pair frame goes too: while it is registered, Spark's
        # CacheManager rewrites dedup_ngram_jaccard's plan to read it.
        "ngram_candidates": (
            [
                dedup._HSH_CACHE,
                dedup._POSTINGS_CACHE,
                dedup._CAND_CACHE,
                dedup._SH_SMALL_CACHE,
                dedup._SH_SMALL_N_CACHE,
                dedup._NGRAM_PAIRS_CACHE,
            ],
            ["dedup_ngram_jaccard"],
        ),
        # r17: the materialized verified pair frame (upstream candidate
        # chain stays warm — this isolates the verify join's build)
        "verified_pairs": (
            [dedup._NGRAM_PAIRS_CACHE],
            ["dedup_cross_source_matrix"],
        ),
        "minhash_signatures": (
            [
                dedup._SIG_CACHE,
                dedup._BAND_FRAME_CACHE,
                dedup._LSH_BUCKETS_CACHE,
                dedup._INC_BUCKETS_CACHE,
            ],
            ["dedup_minhash_lsh", "dedup_incremental_minhash"],
        ),
        "cc_fixed_point": ([dedup._CLUSTER_LABELS_CACHE], ["dedup_clusters"]),
        "pagerank_fixed_point": (
            [graph._PAGERANK_CACHE, graph._BIDIR_CACHE],
            ["pagerank_dedup_graph"],
        ),
        "lm_scored": ([lm._LM_SCORED_CACHE], ["ccnet_perplexity_buckets"]),
        "nb_scored": ([lm._NB_SCORED_CACHE], ["nb_calibration_report"]),
        "ml_scored": ([lm._ML_CACHE], ["moore_lewis_selection"]),
        "langid_dp": ([text._LANGID_DP_CACHE], ["lang_id_ngram_profile"]),
        "quality_fp": ([pipeline._QUALITY_FP_CACHE], ["quality_ablation_curve"]),
        "span_df": ([dedup._SPAN_CACHE], ["dedup_exact_substring"]),
        "phash": ([multimodal._PHASH_CACHE], ["multimodal_phash_dedup"]),
        "resize": ([multimodal._RESIZE_CACHE], ["multimodal_resize_nearest"]),
        "bloom_bits": (
            [dedup._BLOOM_CORPUS_CACHE, dedup._BLOOM_BITS_CACHE],
            ["dedup_incremental_bloom"],
        ),
        "freq_items_sketch": (
            [stats._FREQ_ITEMS_CACHE], ["freq_items_envelope"],
        ),
        # one-scalar-per-corpus planning jobs (counts, maxes, sizing
        # collects) — grouped because each is a single driver job
        "planning_scalars": (
            [
                session._SCAN_NPART_CACHE,
                session._TABLE_COUNT_CACHE,
                session._TABLE_MAX_CACHE,
                pipeline._DRIFT_TOTAL_CACHE,
                pipeline._DSIR_TOKS_CACHE,
                pipeline._DSIR_TOTALS_CACHE,
                pipeline._MIX_TOTALS_CACHE,
                similarity._BITEXT_SIZING_CACHE,
            ],
            ["merge_upsert_orders", "dsir_importance_weights"],
        ),
        # driver-trained Python models (BPE merges, unigram vocab,
        # k-means/PQ codebooks) — Python-object caches, not frames
        "trained_py_models": (
            [bpe._BPE_MODELS, unigram._UNIGRAM_MODELS, similarity._TRAINED],
            ["tokenizer_bakeoff_report", "ann_ivf_label"],
        ),
    }


def _evict(cache: dict) -> None:
    from pyspark.sql import DataFrame

    from mr_python_spark.dedup import _evict_frame

    for k in list(cache):
        v = cache.pop(k)
        if isinstance(v, DataFrame):
            _evict_frame(v)


def main(selected: list[str]) -> int:
    from mr_python_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("cold_warm_probe")
    qs = entrymod.queries()
    fams = _families()
    if selected:
        fams = {k: v for k, v in fams.items() if k in selected}

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # one warm pass so every upstream cache is hot before any family's
    # cold timing (plus codegen/JIT warm-up, as in the bench protocol)
    spark.sparkContext.setJobDescription("cold_warm: warm pass")
    for _, consumers in fams.values():
        for name in consumers:
            run(name)

    out: dict = {
        "sf_dir": SF_DIR,
        "method": (
            "per family: evict only that family's cache dicts (upstream "
            "families warm), time consumer cold (= family build + read), "
            "then warm (= cached-leaf read); seconds, noop sink"
        ),
        "families": {},
    }
    for fam, (caches, consumers) in fams.items():
        spark.sparkContext.setJobDescription(f"cold_warm: {fam}")
        for c in caches:
            _evict(c)
        rec: dict = {}
        for i, name in enumerate(consumers):
            cold = run(name)
            warm = run(name)
            rec[name] = {
                "cold_s": cold,
                "warm_s": warm,
                "amortized_build_s": round(cold - warm, 3),
            }
            # only the FIRST consumer pays the family build; later
            # consumers read the already-rebuilt cache and are recorded
            # as warm-tier evidence
            if i > 0:
                rec[name]["note"] = "family already rebuilt by first consumer"
        out["families"][fam] = {
            "evicted_caches": len(caches),
            "consumers": rec,
        }
    out["recorded_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    path = os.path.join(REPO, "docs", f"cold_warm_{ROUND}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["families"], indent=1))
    print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
