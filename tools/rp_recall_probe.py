"""Sampled-truth RP-LSH recall at n = 256k-512k (round-11 order #1).

Up to n = 64k the masked sub-band multi-probe design is measured
against FULL exact ground truth: :func:`exact_point` aggregates
``dedup_rp_lsh_eval_report`` (exact block-grid truth) at the source
(n = 2k) and its 4x/16x/32x rotation replicas (``tools.probe.fixture``;
n = 8k, 32k, 64k), the ``exact_curve`` of the record.  The design's
new claims live at n = 256k-512k, where the 128-band cap engages
(b = 14) and exact truth is O(n^2)-unaffordable.  This probe measures
recall there with the judge's sampled-truth recipe:

1. **Fixtures** past the 64-rotation isometry budget: replica i is a
   left-rotation by ``i % 64`` composed with a Walsh sign pattern
   selected by ``i // 64`` (flip dim j iff bit ``k-1`` of j is set,
   k = i // 64 >= 1).  Any fixed sign pattern D satisfies
   <Dx, Dy> = <x, y>, so every replica stays EXACTLY isometric to the
   base corpus (within-replica near-dup structure preserved) while
   cross-replica similarities decorrelate -- the same design intent as
   the rotation replicas of ``tools.probe.fixture``.
2. **Sampled truth**: the vectors with base id in ``Q_ORIG`` in EVERY
   replica form the query sample; each query is brute-forced against
   the FULL corpus in one Arrow-batched pass (batch GEMM against the
   closure-shipped query pack -- linear per query, the ann_brute
   shape).  True pairs are cosine >= 0.4 on the identical
   normalize-then-GEMM float path the operator verifies with.
3. **Retrieval decision** without shuffling the 512k x 64 payload
   through L*b bucket copies (~0.5 TB at n = 512k): bucket occupancy
   comes from the PRODUCTION key pass
   (:func:`mr_python_spark.dedup.rp_band_key_frame`,
   ``payload=False``), and each sampled true pair's shared-bucket
   keys are derived from its two sign-bit vectors per the operator's
   own emission rule (Hamming 0 in a band -> the mask-0 bucket only;
   Hamming 1 -> exactly the bucket whose mask is the differing bit;
   Hamming >= 2 -> none).  A pair is retrieved iff one of its keys
   lands in a bucket with 2 <= m <= RP_BUCKET_CAP members.
4. **Validation**: at n = 64k (the 32x fixture, where the full
   operator is affordable) the decision procedure is compared
   PAIR-FOR-PAIR against actually running ``dedup_embedding_lsh`` --
   the probe aborts on any disagreement -- before the 256k/512k
   numbers are trusted.

Writes ``docs/rp_recall_probe.json``.

Usage::

    python tools/rp_recall_probe.py              # exact curve, validate, both points
    python tools/rp_recall_probe.py --skip-512k  # faster: without n = 512k
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.probe import SRC, fixture  # noqa: E402

COS_T = 0.4  # the operator's verify threshold
COS_DESIGN = 0.45  # the design cosine the band count is sized for
Q_ORIG = (0, 1)  # base vec_ids sampled as queries in every replica

#: replica counts of the exact-truth points (n = 2000 x replicas); the
#: sampled decision is validated on the last
EXACT_POINTS = (1, 4, 16, 32)
#: fixture label -> replica count (n = 2000 x replicas)
BIG_POINTS = {"rp_big_x128": 128, "rp_big_x256": 256}


def generate_big(dst: str, replicas: int) -> None:
    """Rotation x Walsh-sign replica fixture (embeddings only)."""
    if os.path.exists(os.path.join(dst, "embeddings.parquet")):
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    mat = np.array(base.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(base.column("vec_id").to_pylist(), dtype=np.int64)
    labels = base.column("label").to_pylist()
    d = mat.shape[1]
    os.makedirs(dst, exist_ok=True)
    out_ids, out_vecs, out_labels = [], [], []
    dims = np.arange(d)
    for i in range(replicas):
        rot = np.roll(mat, -(i % 64), axis=1)  # left-rotate, as tools.probe.fixture
        k = i // 64
        if k:
            sign = np.where((dims >> (k - 1)) & 1, -1.0, 1.0)
            rot = rot * sign
        out_ids.append(ids + i * 1_000_000)
        out_vecs.append(rot)
        out_labels.extend(labels)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_ids)),
            "embedding": pa.array(
                list(np.concatenate(out_vecs)), type=pa.list_(pa.float64())
            ),
            "label": pa.array(out_labels),
        }
    )
    pq.write_table(tbl, os.path.join(dst, "embeddings.parquet"))


def sampled_pairs_frame(spark, sf_dir: str, bits_per_band: int, n_bands: int):
    """(vec_a, vec_b, cosine, keys) for every sampled true pair.

    ``keys`` are the coded shared-bucket candidates (band * 2^32 +
    bval) that the operator's canonical emission rule would check --
    derived from the two vectors' sign bits with the same seeded
    projections and the same mask weight matrix as the production
    banding pass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from mr_python_spark.dedup import (
        RP_BAND_SEED,
        RP_MASK_STRIDE,
        RP_SLOT_BITS,
    )
    from mr_python_spark.session import load_table, spread

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = (
        emb.filter((emb.vec_id % 1_000_000).isin(list(Q_ORIG)))
        .toPandas()
        .sort_values("vec_id")
    )
    q_ids = q["vec_id"].to_numpy(dtype=np.int64)
    q_mat = np.array(list(q["embedding"]), dtype=np.float64)
    q_set = set(int(x) for x in q_ids)
    b, L = bits_per_band, n_bands

    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("keys", T.ArrayType(T.LongType())),
        ]
    )

    def scan(batches):
        proj = None
        # same mask recode matrix as the production banding pass
        W = np.zeros((b, b), dtype=np.int64)
        for i in range(b):
            kept = [j for j in range(b) if j != i]
            W[kept, i] = 1 << np.arange(b - 1, dtype=np.int64)
        qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
        q_bits = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            if proj is None:
                proj = np.concatenate(
                    [
                        np.random.RandomState(RP_BAND_SEED + i).standard_normal(
                            (mat.shape[1], RP_SLOT_BITS)
                        )[:, :b]
                        for i in range(L)
                    ],
                    axis=1,
                )
                q_bits = (q_mat @ proj >= 0.0).reshape(len(q_ids), L, b)
            cn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = cn @ qn.T  # (batch, Q) -- normalize-then-GEMM float path
            c_bits = (mat @ proj >= 0.0).reshape(len(ids), L, b)
            ci, qi = np.nonzero(sims >= COS_T)
            rows_a, rows_b, rows_c, rows_k = [], [], [], []
            for c, qq in zip(ci, qi):
                va, vb = int(ids[c]), int(q_ids[qq])
                if va == vb:
                    continue
                diff = c_bits[c] != q_bits[qq]  # (L, b)
                h = diff.sum(axis=1)
                keys: list[int] = []
                vbits = c_bits[c].astype(np.int64)
                for band in np.nonzero(h <= 1)[0]:
                    if h[band] == 0:
                        mask = 0
                    else:
                        mask = int(np.nonzero(diff[band])[0][0])
                    mvals = vbits[band] @ W  # all b masked vals
                    coded = int(mvals[mask]) + mask * RP_MASK_STRIDE
                    keys.append((int(band) << 32) | coded)
                a, b_ = (va, vb) if va < vb else (vb, va)
                rows_a.append(a)
                rows_b.append(b_)
                rows_c.append(float(sims[c, qq]))
                rows_k.append(keys)
            if rows_a:
                yield pd.DataFrame(
                    {
                        "vec_a": rows_a,
                        "vec_b": rows_b,
                        "cosine": rows_c,
                        "keys": rows_k,
                    }
                )

    # both-endpoints-in-sample pairs are emitted twice -> dedupe
    return (
        spread(emb)
        .mapInPandas(scan, schema)
        .dropDuplicates(["vec_a", "vec_b"])
    ), len(q_ids)


def measure_point(spark, label: str, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from mr_python_spark.dedup import (
        RP_BUCKET_CAP,
        rp_band_collision,
        rp_bits_per_band,
        rp_num_bands,
    )
    from mr_python_spark.session import load_table, spread

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    bits = rp_bits_per_band(n)
    L = rp_num_bands(bits)

    t0 = time.perf_counter()
    pairs, n_queries = sampled_pairs_frame(spark, sf_dir, bits, L)
    pairs = pairs.cache()
    pairs.count()  # materialize the cache inside the truth timing
    truth_wall = time.perf_counter() - t0

    # bucket occupancy from the PRODUCTION key pass (no payload)
    t0 = time.perf_counter()
    from mr_python_spark.dedup import rp_band_key_frame

    counts = (
        rp_band_key_frame(spread(emb), bits, L, payload=False)
        .groupBy("band", "bval")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    keyed = pairs.select(
        "vec_a", "vec_b", "cosine", F.explode("keys").alias("k")
    ).select(
        "vec_a",
        "vec_b",
        "cosine",
        F.shiftright("k", 32).cast("int").alias("band"),
        (F.col("k") % (1 << 32)).cast("int").alias("bval"),
    )
    found_pairs = (
        keyed.join(counts, ["band", "bval"])
        .filter(F.col("m") <= RP_BUCKET_CAP)
        .select("vec_a", "vec_b")
        .distinct()
    )
    flags = pairs.join(
        found_pairs.withColumn("hit", F.lit(True)), ["vec_a", "vec_b"], "left"
    ).select(
        "vec_a",
        "vec_b",
        "cosine",
        F.coalesce("hit", F.lit(False)).alias("found"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.col("found").cast("long")).alias("f"),
        F.sum((F.col("cosine") >= COS_DESIGN).cast("long")).alias("td"),
        F.sum(
            ((F.col("cosine") >= COS_DESIGN) & F.col("found")).cast("long")
        ).alias("fd"),
    ).collect()[0]
    decide_wall = time.perf_counter() - t0
    pairs.unpersist()
    p_band = rp_band_collision(bits)
    return {
        "fixture": label,
        "n_vectors": n,
        "n_queries": n_queries,
        "bits_per_band": bits,
        "n_bands": L,
        "sampled_true_pairs": agg["t"],
        "found": agg["f"],
        "recall": round(agg["f"] / max(agg["t"], 1), 3),
        "sampled_true_pairs_cos045": agg["td"],
        "recall_cos045": round(agg["fd"] / max(agg["td"], 1), 3),
        "predicted_recall_cos045": round(1.0 - (1.0 - p_band) ** L, 3),
        "truth_wall_sec": round(truth_wall, 1),
        "decide_wall_sec": round(decide_wall, 1),
    }


def exact_point(spark, sf_dir: str) -> dict:
    """Recall against FULL exact ground truth, from
    ``dedup_rp_lsh_eval_report``'s per-true-pair found flags."""
    from pyspark.sql import functions as F

    from mr_python_spark.dedup import (
        dedup_rp_lsh_eval_report,
        rp_bits_per_band,
        rp_num_bands,
    )

    n = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count()
    design, found = F.col("cosine") >= COS_DESIGN, F.col("found_by_rp_lsh")
    t0 = time.perf_counter()
    agg = dedup_rp_lsh_eval_report(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(found.cast("long")).alias("f"),
        F.sum(design.cast("long")).alias("td"),
        F.sum((design & found).cast("long")).alias("fd"),
    ).collect()[0]
    bits = rp_bits_per_band(n)
    return {
        "fixture": os.path.basename(sf_dir.rstrip("/")),
        "n_vectors": n,
        "bits_per_band": bits,
        "n_bands": rp_num_bands(bits),
        "true_pairs": agg["t"],
        "found": agg["f"],
        "recall": round(agg["f"] / max(agg["t"], 1), 3),
        "true_pairs_cos045": agg["td"],
        "recall_cos045": round(agg["fd"] / max(agg["td"], 1), 3),
        "eval_wall_sec": round(time.perf_counter() - t0, 1),
    }


def validate_against_operator(spark, sf_dir: str) -> dict:
    """At n = 64k, the decision procedure must agree PAIR-FOR-PAIR with
    actually running dedup_embedding_lsh on the sampled true pairs."""
    from pyspark.sql import functions as F

    from mr_python_spark.dedup import (
        RP_BUCKET_CAP,
        dedup_embedding_lsh,
        rp_band_key_frame,
        rp_bits_per_band,
        rp_num_bands,
    )
    from mr_python_spark.session import load_table, spread

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    bits = rp_bits_per_band(n)
    L = rp_num_bands(bits)
    pairs, _ = sampled_pairs_frame(spark, sf_dir, bits, L)
    pairs = pairs.cache()

    counts = (
        rp_band_key_frame(spread(emb), bits, L, payload=False)
        .groupBy("band", "bval")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    keyed = pairs.select(
        "vec_a", "vec_b", F.explode("keys").alias("k")
    ).select(
        "vec_a",
        "vec_b",
        F.shiftright("k", 32).cast("int").alias("band"),
        (F.col("k") % (1 << 32)).cast("int").alias("bval"),
    )
    probe_found = (
        keyed.join(counts, ["band", "bval"])
        .filter(F.col("m") <= RP_BUCKET_CAP)
        .select("vec_a", "vec_b")
        .distinct()
    )
    real_found = dedup_embedding_lsh(spark, sf_dir).join(
        pairs.select("vec_a", "vec_b"), ["vec_a", "vec_b"], "inner"
    )
    only_probe = probe_found.exceptAll(real_found).count()
    only_real = real_found.exceptAll(probe_found).count()
    n_pairs = pairs.count()
    n_found = probe_found.count()
    pairs.unpersist()
    ok = only_probe == 0 and only_real == 0
    report = {
        "fixture": os.path.basename(sf_dir),
        "n_vectors": n,
        "sampled_true_pairs": n_pairs,
        "probe_found": n_found,
        "probe_only": only_probe,
        "operator_only": only_real,
        "exact_pair_agreement": ok,
    }
    if not ok:
        print(json.dumps(report, indent=2))
        raise SystemExit("decision procedure disagrees with the operator")
    return report


def main() -> None:
    from mr_python_spark.session import get_spark

    exact = [SRC if r == 1 else fixture(SRC, r, ("embeddings",)) for r in EXACT_POINTS]
    skip_512k = "--skip-512k" in sys.argv
    for label, reps in BIG_POINTS.items():
        if skip_512k and reps == 256:
            continue
        generate_big(os.path.join(REPO, ".data", label), reps)

    spark = get_spark("rp_recall_probe")
    result = {
        "method": (
            "sampled truth: base ids %s in every replica brute-forced vs the "
            "full corpus (normalize-then-GEMM, cosine >= %.2f); retrieval "
            "decided from the production key pass' bucket occupancy + the "
            "operator's canonical emission rule; decision validated "
            "pair-for-pair vs dedup_embedding_lsh at n=64k" % (Q_ORIG, COS_T)
        ),
        "exact_curve": [exact_point(spark, d) for d in exact],
        "validation": validate_against_operator(spark, exact[-1]),
        "points": [],
    }
    print(json.dumps(result["exact_curve"], indent=2))
    print(json.dumps(result["validation"], indent=2))
    for label, reps in BIG_POINTS.items():
        if skip_512k and reps == 256:
            continue
        point = measure_point(spark, label, os.path.join(REPO, ".data", label))
        result["points"].append(point)
        print(json.dumps(point, indent=2))

    out = os.path.join(REPO, "docs", "rp_recall_probe.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=2)
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
