"""Cold-build vs warm-read seconds for every keyed-cache family.

r16 verdict order #5: the house keyed caches (shingles, postings,
minhash bands, verified pairs, LM frames, graph fixed points, trained
Python models, planning scalars) make repeat consumers cheap, but the
bench's untimed warm pass means their one-time build cost is invisible
in the headline numbers.  This tool mechanizes the ad-hoc cold/warm
timings earlier round logs carried: per family it

1. warms everything once (one pass over the consumer queries),
2. evicts that family's root caches, and through the registry
   cascade everything built on them (upstream caches stay warm, so the
   cold number isolates the family's own build),
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


#: family → (root cache names to evict, consumer query names).  The
#: registry cascade evicts everything built on a root too (e.g. the
#: candidate frames and the verified pair frame sit downstream of the
#: shingles), so a family's build actually re-runs; caches upstream of
#: the roots stay warm, isolating the family's own build.
FAMILIES = {
    "ngram_candidates": (["dedup.shingles"], ["dedup_ngram_jaccard"]),
    # the materialized verified pair frame (upstream candidate chain
    # stays warm — this isolates the verify join's build)
    "verified_pairs": (["dedup.ngram_pairs"], ["dedup_cross_source_matrix"]),
    "minhash_signatures": (
        ["dedup.signatures"],
        ["dedup_minhash_lsh", "dedup_incremental_minhash"],
    ),
    "cc_fixed_point": (["dedup.cluster_labels"], ["dedup_clusters"]),
    "pagerank_fixed_point": (["graph.bidir"], ["pagerank_dedup_graph"]),
    "lm_scored": (["lm.scored"], ["ccnet_perplexity_buckets"]),
    "nb_scored": (["lm.nb_scored"], ["nb_calibration_report"]),
    "ml_scored": (["lm.ml_scored"], ["moore_lewis_selection"]),
    "langid_dp": (["text.langid_dp"], ["lang_id_ngram_profile"]),
    "quality_fp": (["pipeline.quality_fp"], ["quality_ablation_curve"]),
    "span_df": (["dedup.spans"], ["dedup_exact_substring"]),
    "phash": (["multimodal.phash"], ["multimodal_phash_dedup"]),
    "resize": (["multimodal.resize"], ["multimodal_resize_nearest"]),
    "bloom_bits": (["dedup.bloom_corpus"], ["dedup_incremental_bloom"]),
    "freq_items_sketch": (["stats.freq_items"], ["freq_items_envelope"]),
    # one-scalar-per-corpus planning jobs (counts, maxes, sizing
    # collects) — grouped because each is a single driver job
    "planning_scalars": (
        [
            "session.scan_partitions",
            "session.table_count",
            "session.table_max.o_orderkey",
            "pipeline.drift_total",
            "pipeline.dsir_toks",
            "pipeline.mix_totals",
            "similarity.bitext_sizing",
        ],
        ["merge_upsert_orders", "dsir_importance_weights"],
    ),
    # driver-trained Python models (BPE merges, unigram vocab,
    # k-means/PQ codebooks) — Python-object caches, not frames
    "trained_py_models": (
        ["bpe.model", "unigram.model", "similarity.trained"],
        ["tokenizer_bakeoff_report", "ann_ivf_label"],
    ),
}


def main(selected: list[str]) -> int:
    from mr_python_spark.session import evict, get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("cold_warm_probe")
    qs = entrymod.queries()
    fams = FAMILIES
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
            "per family: evict the family's root caches and, by the "
            "registry cascade, everything built on them (upstream caches "
            "warm), time consumer cold (= family build + read), then warm "
            "(= cached-leaf read); seconds, noop sink"
        ),
        "families": {},
    }
    for fam, (roots, consumers) in fams.items():
        spark.sparkContext.setJobDescription(f"cold_warm: {fam}")
        evict(*roots)
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
            "evicted_roots": roots,
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
