"""Adversarial-skew dedup probe (round-11 order #7).

``DF_CAP`` / ``LSH_BUCKET_CAP`` bound the posting lists and LSH
buckets, but the drop-rate / recall trade under PATHOLOGICAL skew —
boilerplate text in EVERY document, the license-header / cookie-banner
shape every web corpus has — was never measured.  Two fixtures at
sf1-class size (50k docs, the 10x replica corpus with a boilerplate
prefix prepended to every document):

* ``boiler3`` — a 3-word prefix: exactly ONE universal shingle
  (df = n), the judge's literal scenario.
* ``boiler24`` — a 24-word prefix: 22 universal shingles, enough
  boiler minima to drive MinHash band collisions into the
  ``LSH_BUCKET_CAP`` regime so the cap actually trips.

Ground truth is EXACT and fixture-aware, in two parts:

* CONTENT-reachable pairs (sharing >= 1 non-universal shingle) come
  from the UNCAPPED posting join excluding df = n shingles
  (Sum df^2 ~ 28M rows, affordable), verified with exact jaccard
  over the FULL hashed shingle arrays (boiler included, so every
  reported jaccard is the fixture's real jaccard).
* BOILER-ONLY pairs — docs sharing NOTHING but the u universal
  shingles — have jaccard u/(Sa + Sb − u), a function of the two
  SIZES alone, so they are counted EXACTLY from the shingle-count
  histogram with no pair join: a pair clears threshold t iff
  Sa + Sb <= u(1 + 1/t).  (Short documents make this set real: the
  base corpus' 10-word docs give 22/(32+32−22) = 0.52 under the
  24-word boiler — an earlier revision of this probe wrongly assumed
  a fixed document length bounded boiler-only jaccard below 0.2 and
  dropped these pairs from the truth denominators.)  The capped
  ngram path can never emit them (its candidates need a kept
  posting); the MinHash path can (boiler-dominated minima can
  collide in an under-cap bucket and the full-jaccard verify
  passes), so its boiler-only finds are counted via an anti-join of
  its output against the content candidates.

Per fixture the probe records: posting/bucket histograms (kept vs
cap-dropped counts and doc-mass), candidate-pair counts, and the
recall of `dedup_ngram_jaccard` (vs truth@0.2) and `dedup_minhash_lsh`
(vs truth@0.5), with subset sanity (capped output must be a subset of
truth).  Writes ``docs/skew_dedup_probe.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BOILER3 = "terms of service"
BOILER24 = (
    "this document is provided under the standard license terms all "
    "rights reserved please review the full policy before any use or "
    "redistribution of content"
)
FIXTURES = {"boiler3": BOILER3, "boiler24": BOILER24}


def generate(boiler: str, sf1: str) -> str:
    """``sf1``'s documents with ``boiler`` prepended to every text, made
    once per source and boilerplate by :func:`tools.probe.derived`."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tools.probe import derived

    def make(dst: str) -> None:
        t = pq.read_table(os.path.join(sf1, "documents.parquet"))
        text = pc.binary_join_element_wise(
            pa.array([boiler] * t.num_rows), t.column("text").combine_chunks(), " "
        )
        cols = {n: t.column(n) for n in t.column_names}
        cols["text"] = text
        pq.write_table(pa.table(cols), os.path.join(dst, "documents.parquet"))

    return derived(sf1, f"documents prefixed with {boiler!r}", make)


def probe_fixture(spark, label: str, sf_dir: str, n_boiler_words: int) -> dict:
    from pyspark.sql import functions as F

    from mr_python_spark.dedup import (
        DF_CAP,
        LSH_BUCKET_CAP,
        cached_posting_candidates,
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        hashed_shingle_sets,
        minhash_band_frame,
        minhash_signatures,
    )
    from mr_python_spark.session import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    report: dict = {"fixture": label, "n_docs": n_docs}

    # ---- exact fixture-aware truth ----
    t0 = time.perf_counter()
    sh_sets = hashed_shingle_sets(spark, sf_dir)  # (doc_id, sh array)
    sh = sh_sets.select("doc_id", F.explode("sh").alias("s")).cache()
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # universal shingles = the pure-boiler ones (df == n); everything
    # else joins uncapped
    nonuni = sh.join(dfs.filter(F.col("df") < n_docs), "s")
    a, b = nonuni.alias("a"), nonuni.alias("b")
    cand_truth = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # content shingle arrays: universal (pure-boiler) shingles removed,
    # for the CONTENT-jaccard truth — what the pair's similarity is
    # once boilerplate stops inflating it
    uni_arr = F.array(
        *[
            F.lit(v)
            for v in [
                r.s
                for r in dfs.filter(F.col("df") == n_docs)
                .select("s")
                .collect()
            ]
        ]
    )
    sh_content = sh_sets.select(
        "doc_id", F.array_except("sh", uni_arr).alias("shc")
    )
    both = sh_sets.join(sh_content, "doc_id")
    sa, sb = both.alias("sa"), both.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    inter_c = F.size(F.array_intersect(F.col("sa.shc"), F.col("sb.shc")))
    union_c = F.size(F.col("sa.shc")) + F.size(F.col("sb.shc")) - inter_c
    truth = (
        cand_truth.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("j"),
            (inter_c.cast("double") / union_c).alias("jc"),
        )
        .filter((F.col("j") >= 0.2) | (F.col("jc") >= 0.2))
        .cache()
    )
    n_truth_02 = truth.filter(F.col("j") >= 0.2).count()
    n_truth_05 = truth.filter(F.col("j") >= 0.5).count()
    n_ctruth_02 = truth.filter(F.col("jc") >= 0.2).count()
    n_ctruth_05 = truth.filter(F.col("jc") >= 0.5).count()

    # ---- boiler-only pairs, counted exactly from the size histogram:
    # a pair sharing ONLY the u universal shingles has
    # j = u / (Sa + Sb - u), so it clears threshold t iff
    # Sa + Sb <= floor(u * (1 + 1/t)).  Count all size-qualifying
    # pairs, subtract the size-qualifying CONTENT-candidate pairs
    # (those were already measured with their full jaccard, which is
    # monotonically above the boiler-only level at the same sizes).
    u = n_boiler_words - 2
    cand_truth = cand_truth.cache()
    sizes = sh_sets.select("doc_id", F.size("sh").alias("s")).cache()
    hist = {r.s: r.c for r in sizes.groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()}

    def size_pairs(bound: int) -> int:
        ks = sorted(hist)
        total = 0
        for i, sa in enumerate(ks):
            for sb in ks[i:]:
                if sa + sb > bound:
                    break
                if sa == sb:
                    total += hist[sa] * (hist[sa] - 1) // 2
                else:
                    total += hist[sa] * hist[sb]
        return total

    def cand_size_pairs(bound: int) -> int:
        a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
        b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
        return (
            cand_truth.join(a, "doc_a")
            .join(b, "doc_b")
            .filter(F.col("sa") + F.col("sb") <= bound)
            .count()
        )

    extra = {}
    for t_name, t_val in (("02", 0.2), ("05", 0.5)):
        if u == 0:
            extra[t_name] = 0
            continue
        bound = int(u * (1.0 + 1.0 / t_val))
        n_all = size_pairs(bound)
        extra[t_name] = n_all - cand_size_pairs(bound) if n_all else 0

    report["truth"] = {
        "content_reachable_pairs_j02": n_truth_02,
        "content_reachable_pairs_j05": n_truth_05,
        "boiler_only_pairs_j02": extra["02"],
        "boiler_only_pairs_j05": extra["05"],
        "pairs_j02": n_truth_02 + extra["02"],
        "pairs_j05": n_truth_05 + extra["05"],
        "content_pairs_j02": n_ctruth_02,
        "content_pairs_j05": n_ctruth_05,
        "universal_shingles": u,
        "boiler_only_counting": "size-histogram exact count of pairs "
        "with Sa+Sb <= u(1+1/t) minus content candidates in that size "
        "range (boiler-only jaccard = u/(Sa+Sb-u) depends on sizes "
        "alone); short docs make this set non-empty at boiler24",
        "wall_sec": round(time.perf_counter() - t0, 1),
    }

    # ---- ngram path: posting histogram + recall ----
    t0 = time.perf_counter()
    hist = (
        dfs.select(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") > DF_CAP).cast("long")).alias("n_dropped"),
            F.sum(
                F.when(F.col("df") > DF_CAP, F.col("df")).otherwise(0)
            ).alias("mass_dropped"),
            F.sum(
                F.when(F.col("df") == n_docs, F.col("df")).otherwise(0)
            ).alias("mass_universal"),
            F.max("df").alias("max_df"),
        )
    ).collect()[0]
    cand, _ = cached_posting_candidates(spark, sf_dir)
    n_cand = cand.count()
    got = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").cache()
    n_got = got.count()
    t02 = truth.filter(F.col("j") >= 0.2).select("doc_a", "doc_b")
    missed = t02.join(got, ["doc_a", "doc_b"], "left_anti").count()
    c02 = truth.filter(F.col("jc") >= 0.2).select("doc_a", "doc_b")
    missed_c = c02.join(got, ["doc_a", "doc_b"], "left_anti").count()
    not_in_truth = got.join(t02, ["doc_a", "doc_b"], "left_anti").count()
    # the capped path's candidates all share a kept posting, so it can
    # never emit a boiler-only pair; every boiler-only true pair is a
    # structural miss for it
    total_02 = n_truth_02 + extra["02"]
    report["ngram_capped"] = {
        "df_cap": DF_CAP,
        "n_shingles": hist["n_shingles"],
        "postings_dropped_by_cap": hist["n_dropped"],
        "doc_mass_dropped": int(hist["mass_dropped"]),
        "doc_mass_universal": int(hist["mass_universal"]),
        "max_df": hist["max_df"],
        "candidate_pairs": n_cand,
        "found_pairs_j02": n_got,
        "missed_vs_truth": missed + extra["02"],
        "recall": round((n_truth_02 - missed) / max(total_02, 1), 4),
        "recall_vs_content_truth": round(
            (n_ctruth_02 - missed_c) / max(n_ctruth_02, 1), 4
        ),
        "not_subset_of_truth": not_in_truth,
        "wall_sec": round(time.perf_counter() - t0, 1),
    }
    got.unpersist()

    # ---- minhash path: bucket histogram + recall ----
    t0 = time.perf_counter()
    bands = minhash_band_frame(minhash_signatures(spark, sf_dir))
    bhist = (
        bands.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("m"))
        .select(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("m") > LSH_BUCKET_CAP).cast("long")).alias(
                "n_dropped"
            ),
            F.sum(
                F.when(F.col("m") > LSH_BUCKET_CAP, F.col("m")).otherwise(0)
            ).alias("mass_dropped"),
            F.max("m").alias("max_bucket"),
        )
    ).collect()[0]
    got = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").cache()
    n_got = got.count()
    truth05 = truth.filter(F.col("j") >= 0.5).select("doc_a", "doc_b")
    missed = truth05.join(got, ["doc_a", "doc_b"], "left_anti").count()
    c05 = truth.filter(F.col("jc") >= 0.5).select("doc_a", "doc_b")
    missed_c = c05.join(got, ["doc_a", "doc_b"], "left_anti").count()
    # output rows NOT among the content candidates are boiler-only
    # finds — MinHash can surface those through boiler-dominated
    # minima when the bucket stays under cap; they are verified
    # j >= 0.5 by the operator, so they count as true hits
    boiler_found = got.join(
        cand_truth, ["doc_a", "doc_b"], "left_anti"
    ).count()
    total_05 = n_truth_05 + extra["05"]
    report["minhash_lsh"] = {
        "bucket_cap": LSH_BUCKET_CAP,
        "n_buckets": bhist["n_buckets"],
        "buckets_dropped_by_cap": bhist["n_dropped"],
        "doc_mass_dropped": int(bhist["mass_dropped"]),
        "max_bucket": bhist["max_bucket"],
        "found_pairs_j05": n_got,
        "boiler_only_found": boiler_found,
        "missed_vs_truth": missed + (extra["05"] - boiler_found),
        "recall": round(
            (n_truth_05 - missed + boiler_found) / max(total_05, 1), 4
        ),
        "recall_vs_content_truth": round(
            (n_ctruth_05 - missed_c) / max(n_ctruth_05, 1), 4
        ),
        "wall_sec": round(time.perf_counter() - t0, 1),
    }
    got.unpersist()
    truth.unpersist()
    sh.unpersist()
    sizes.unpersist()
    cand_truth.unpersist()
    return report


def main() -> None:
    from mr_python_spark.session import get_spark
    from tools.probe import SRC, fixture

    sf1 = fixture(SRC, 10, ("documents",))
    spark = get_spark("skew_dedup_probe")
    result = {"fixtures": []}
    for label, boiler in FIXTURES.items():
        sf_dir = generate(boiler, sf1)
        rep = probe_fixture(
            spark, label, sf_dir, n_boiler_words=len(boiler.split())
        )
        result["fixtures"].append(rep)
        print(json.dumps(rep, indent=2))

    out = os.path.join(REPO, "docs", "skew_dedup_probe.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=2)
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
