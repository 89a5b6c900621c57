"""Independent verification for the non-SQL-expressible hash pipelines.

The driver's DuckDB gate can't check the xxhash64-based queries
(minhash-LSH, simhash, fingerprints) or the HLL estimate, so they get
rows-only checks there.  These tests close the gap: only Spark's
``xxhash64`` primitive is trusted; every derived step — affine
permutations, min-aggregation, banding, bucket pairing, bit votes,
hamming verification — is reimplemented in plain Python over the
primitive hashes and compared against the engine's output at sf0.001.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.001"


def _shingle_hashes(spark):
    """doc_id → list of pmod(xxhash64(shingle), p) (trusted primitive)."""
    from mr_python_spark.dedup import MERSENNE_PRIME, shingle_sets
    from mr_python_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    rows = (
        shingle_sets(docs)
        .select(
            "doc_id",
            F.expr(f"transform(sh, s -> pmod(xxhash64(s), {MERSENNE_PRIME}))").alias("h"),
        )
        .collect()
    )
    return {r.doc_id: list(r.h) for r in rows}


def test_minhash_lsh_pipeline(spark):
    """Python-recomputed signatures + banding must reproduce the
    engine's candidate pairs and final jaccard-≥0.5 pairs."""
    from mr_python_spark.dedup import (
        _HASH_A,
        _HASH_B,
        MERSENNE_PRIME,
        MINHASH_BANDS,
        MINHASH_HASHES,
        dedup_minhash_lsh,
        minhash_signatures,
        shingle_sets,
    )
    from mr_python_spark.session import load_table

    hashes = _shingle_hashes(spark)

    # signatures
    expected_sig = {}
    for doc, hs in hashes.items():
        if not hs:
            continue
        expected_sig[doc] = [
            min((_HASH_A[i] * h + _HASH_B[i]) % MERSENNE_PRIME for h in hs)
            for i in range(MINHASH_HASHES)
        ]
    got_sig = {
        r.doc_id: list(r.sig) for r in minhash_signatures(spark, SF).collect()
    }
    assert got_sig == expected_sig

    # full pipeline: engine pairs must equal python pairs
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    buckets = defaultdict(set)
    for doc, sig in expected_sig.items():
        for b in range(MINHASH_BANDS):
            band_key = (b, tuple(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets[band_key].add(doc)
    from mr_python_spark.dedup import LSH_BUCKET_CAP

    cand = set()
    for docs_in_bucket in buckets.values():
        if len(docs_in_bucket) > LSH_BUCKET_CAP:
            continue  # engine drops oversized buckets
        ds = sorted(docs_in_bucket)
        for i, x in enumerate(ds):
            for y in ds[i + 1 :]:
                cand.add((x, y))
    shingles = {
        r.doc_id: set(r.sh)
        for r in shingle_sets(load_table(spark, SF, "documents")).collect()
    }
    expected_pairs = set()
    for a, b in cand:
        inter = len(shingles[a] & shingles[b])
        union = len(shingles[a]) + len(shingles[b]) - inter
        if union and inter / union >= 0.5:
            expected_pairs.add((a, b))
    got_pairs = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, SF).collect()
    }
    assert got_pairs == expected_pairs


def test_simhash_pipeline(spark):
    """Python-recomputed fingerprints must reproduce the engine's
    hamming-≤3 pairs."""
    from mr_python_spark.dedup import dedup_simhash
    from mr_python_spark.functions.text import tokens_col
    from mr_python_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    rows = (
        docs.select(
            "doc_id",
            F.expr("transform(filter(split(lower(text), '\\\\s+'), t -> t != ''), t -> xxhash64(t))").alias("th"),
        )
        .collect()
    )
    fps = {}
    for r in rows:
        votes = [0] * 64
        for h in r.th:
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        fp = 0
        for i in range(63):  # bit 63 kept zero (engine stays in signed long)
            if votes[i] > 0:
                fp |= 1 << i
        fps[r.doc_id] = fp

    # banded candidates (4 × 16-bit), hamming ≤ 3 verification
    buckets = defaultdict(set)
    for doc, fp in fps.items():
        for b in range(4):
            buckets[(b, (fp >> (b * 16)) & 0xFFFF)].add(doc)
    expected = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i, x in enumerate(ds):
            for y in ds[i + 1 :]:
                if bin(fps[x] ^ fps[y]).count("1") <= 3:
                    expected.add((x, y))
    got = {(r.doc_a, r.doc_b) for r in dedup_simhash(spark, SF).collect()}
    assert got == expected


def test_embedding_lsh_pipeline(spark):
    """Numpy-recomputed masked sub-band multi-probe buckets must
    reproduce the engine's verified pair set, and every emitted pair
    must be a true cosine-≥0.4 pair (subset of the exact block-grid
    result)."""
    import numpy as np

    from mr_python_spark.dedup import (
        RP_BAND_SEED,
        RP_MASK_STRIDE,
        RP_SLOT_BITS,
        dedup_embedding_cosine,
        dedup_embedding_lsh,
        rp_bits_per_band,
        rp_num_bands,
    )
    from mr_python_spark.session import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb], dtype=np.int64)
    mat = np.array([r.embedding for r in emb], dtype=np.float64)
    bits_per_band = rp_bits_per_band(len(ids))
    n_bands = rp_num_bands(bits_per_band)
    mask_w = 1 << np.arange(bits_per_band - 1, dtype=np.int64)

    # expected = union over masked buckets WITHOUT the engine's
    # canonical-emission rule: the rule only suppresses duplicate
    # emissions, so the distinct union must be identical — if the
    # canonical logic ever dropped a Hamming-0 pair outright, got
    # would lack a pair expected contains
    buckets = defaultdict(set)
    for band in range(n_bands):
        proj = np.random.RandomState(RP_BAND_SEED + band).standard_normal(
            (mat.shape[1], RP_SLOT_BITS)
        )
        bits = ((mat @ proj[:, :bits_per_band]) >= 0.0).astype(np.int64)
        for row, vid in enumerate(ids):
            for i in range(bits_per_band):
                mval = int(np.delete(bits[row], i) @ mask_w) + i * RP_MASK_STRIDE
                buckets[(band, mval)].add(int(vid))
    by_id = {int(v): i for i, v in enumerate(ids)}

    # the ENGINE's verification float path (and the exact tier's):
    # normalize rows with np.linalg.norm, then a BLAS GEMM.  The DuckDB
    # oracle uses a sequential fold instead — membership cannot diverge
    # because the fixtures' closest pair sits ≥ 1e-5 from the 0.4
    # threshold (pinned by test_determinism.test_rp_cosine_threshold_margin).
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    expected = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i, x in enumerate(ds):
            for y in ds[i + 1 :]:
                sub = matn[[by_id[x], by_id[y]]]
                if (sub @ sub.T)[0, 1] >= 0.4:
                    expected.add((x, y))

    got = {(r.vec_a, r.vec_b) for r in dedup_embedding_lsh(spark, SF).collect()}
    assert got == expected

    # the engine's "bit-consistent subset of the exact pass" contract:
    # every LSH-verified pair must appear in the block-grid exact tier
    exact = {
        (r.vec_a, r.vec_b) for r in dedup_embedding_cosine(spark, SF).collect()
    }
    assert got <= exact


def test_doc_fingerprint_matches_direct_expression(spark):
    """The fingerprint query equals xxhash64 of the normalized token
    stream computed by an independent expression."""
    from mr_python_spark.functions.text import doc_fingerprint
    from mr_python_spark.session import load_table

    got = {r.doc_id: r.fingerprint for r in doc_fingerprint(spark, SF).collect()}
    docs = load_table(spark, SF, "documents")
    expected_rows = docs.select(
        "doc_id",
        F.xxhash64(
            F.concat_ws(" ", F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != ""))
        ).alias("fp"),
    ).collect()
    expected = {r.doc_id: r.fp for r in expected_rows}
    assert got == expected


def test_approx_distinct_within_rsd(spark):
    """HLL estimates must sit within 5× the requested rsd (1%) of the
    exact per-key distinct counts."""
    from mr_python_spark.operators.aggregates import approx_distinct_users
    from mr_python_spark.session import load_table

    est = {
        r.event_type: r.n_users_approx
        for r in approx_distinct_users(spark, SF).collect()
    }
    events = load_table(spark, SF, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 0.05 * n), (k, est[k], n)


def test_ann_ivf_kmeans_matches_numpy(spark):
    """Full numpy recompute of the trained-quantizer IVF: identical
    sample, Lloyd rounds, assignments, probes, and top-k set."""
    import numpy as np

    from mr_python_spark.session import load_table
    from mr_python_spark.similarity import (
        KM_PROBE_CELLS,
        KM_QUERY_STRIDE,
        KM_SAMPLE_CAP,
        KM_SAMPLE_STRIDE,
        KM_TOP_K,
        _kmeans_train,
        ann_ivf_kmeans,
    )

    rows = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.array([r.embedding for r in rows], dtype=np.float64)

    from mr_python_spark.similarity import ivf_cells

    from mr_python_spark.similarity import cell_distances

    X = M[ids % KM_SAMPLE_STRIDE == 0][:KM_SAMPLE_CAP]
    C = _kmeans_train(X, k=ivf_cells(len(M)))
    d = cell_distances(M, C)
    cell = d.argmin(1)

    normed = M / np.linalg.norm(M, axis=1, keepdims=True)
    by_id = {int(v): i for i, v in enumerate(ids)}
    expected = set()
    for qi, qid in enumerate(ids):
        if qid % KM_QUERY_STRIDE != 0:
            continue
        probes = np.argsort(d[qi], kind="stable")[:KM_PROBE_CELLS]
        cands = [
            int(ids[j])
            for j in range(len(ids))
            if cell[j] in probes and ids[j] != qid
        ]
        cands.sort(key=lambda n: (-(normed[qi] @ normed[by_id[n]]), n))
        for rank, n in enumerate(cands[:KM_TOP_K], start=1):
            expected.add((int(qid), n, rank))

    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann_ivf_kmeans(spark, SF).collect()
    }
    assert got == expected


def test_minhash_lsh_bucket_cap(spark):
    """Oversized LSH buckets are dropped; small buckets keep their pairs.

    A 6-copy boilerplate cluster collides in every band, so with
    bucket_cap=4 all its buckets are oversized and it yields NO pairs;
    a 2-copy pair stays under the cap and survives.  The same corpus
    with the default cap returns the boilerplate pairs too — proving
    the cap (not banding) is what removed them.
    """
    from mr_python_spark.dedup import dedup_minhash_lsh

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    near = "completely different text about distributed minhash banding"
    rows = [(i, boiler) for i in range(6)] + [(100, near), (101, near)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, SF, bucket_cap=4, docs=docs).collect()
    }
    assert capped == {(100, 101)}

    full = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, SF, docs=docs).collect()
    }
    boiler_pairs = {(a, b) for a in range(6) for b in range(6) if a < b}
    assert full == boiler_pairs | {(100, 101)}


def test_ann_ivf_pq_matches_numpy(spark):
    """Full numpy recompute of the IVF-PQ pipeline: normalized-sample
    training (coarse + per-subspace codebooks), encoding, ADC
    shortlist, exact rerank — identical final top-k set."""
    import numpy as np

    from mr_python_spark.session import load_table
    from mr_python_spark.similarity import (
        KM_PROBE_CELLS,
        KM_QUERY_STRIDE,
        KM_SAMPLE_CAP,
        KM_SAMPLE_STRIDE,
        KM_TOP_K,
        PQ_M,
        PQ_RERANK,
        _kmeans_train,
        _pq_train,
        ann_ivf_pq,
    )

    rows = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    from mr_python_spark.similarity import ivf_cells

    X = M[ids % KM_SAMPLE_STRIDE == 0][:KM_SAMPLE_CAP]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    from mr_python_spark.similarity import cell_distances

    C = _kmeans_train(Xn, k=ivf_cells(len(M)))
    books = _pq_train(Xn)
    dsub = Mn.shape[1] // PQ_M

    d = cell_distances(Mn, C)
    cell = d.argmin(1)
    codes = np.stack(
        [
            ((Mn[:, None, m * dsub : (m + 1) * dsub] - books[m][None, :, :]) ** 2)
            .sum(-1)
            .argmin(1)
            for m in range(PQ_M)
        ],
        axis=1,
    )

    by_id = {int(v): i for i, v in enumerate(ids)}
    expected = set()
    for qi, qid in enumerate(ids):
        if qid % KM_QUERY_STRIDE != 0:
            continue
        probes = np.argsort(d[qi], kind="stable")[:KM_PROBE_CELLS]
        cands = [
            int(ids[j])
            for j in range(len(ids))
            if cell[j] in probes and ids[j] != qid
        ]
        table = np.concatenate(
            [books[m] @ Mn[qi, m * dsub : (m + 1) * dsub] for m in range(PQ_M)]
        )
        adc = {
            n: sum(table[m * 16 + codes[by_id[n], m]] for m in range(PQ_M))
            for n in cands
        }
        short = sorted(cands, key=lambda n: (-adc[n], n))[:PQ_RERANK]
        short.sort(key=lambda n: (-(Mn[qi] @ Mn[by_id[n]]), n))
        for rank, n in enumerate(short[:KM_TOP_K], start=1):
            expected.add((int(qid), n, rank))

    got = {
        (r.query_id, r.neighbor_id, r.rank) for r in ann_ivf_pq(spark, SF).collect()
    }
    assert got == expected


def test_ann_recall_floors(spark):
    """Approximate ANN quality is tracked, not just determinism: mean
    recall@3 vs the exact cosine top-3 must stay above a floor for
    both trained-IVF variants.  (Values are deterministic — seeded
    nothing, first-k init — so the floors only move if someone
    changes the quantizer or its knobs; a probe/rerank regression
    shows up here, not in the exact-match gates, whose semantics are
    probed-cell-relative.)"""
    import numpy as np

    from mr_python_spark.session import load_table
    from mr_python_spark.similarity import KM_TOP_K, ann_ivf_kmeans, ann_ivf_pq

    rows = (
        load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    by_id = {int(v): i for i, v in enumerate(ids)}

    def mean_recall(fn):
        got = {}
        for r in fn(spark, SF).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = []
        for qid, neigh in got.items():
            qi = by_id[qid]
            s = S[qi].copy()
            s[qi] = -np.inf
            order = sorted(range(len(ids)), key=lambda j: (-s[j], ids[j]))
            exact = {int(ids[j]) for j in order[:KM_TOP_K]}
            recalls.append(len(neigh & exact) / KM_TOP_K)
        return float(np.mean(recalls))

    r_kmeans = mean_recall(ann_ivf_kmeans)
    r_pq = mean_recall(ann_ivf_pq)
    assert r_kmeans >= 0.55, r_kmeans
    assert r_pq >= 0.40, r_pq


def test_hashed_shingle_cache_invalidation(spark, tmp_path):
    """The run-wide shingle cache must key on file identity: rewriting
    documents.parquet (new mtime) evicts the stale entry instead of
    silently serving old shingles."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mr_python_spark import session
    from mr_python_spark.dedup import hashed_shingle_sets

    def n_entries():
        return sum(k[0] == "dedup.shingles" for k in session._CORPUS)

    def write(texts):
        t = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
            }
        )
        pq.write_table(t, str(tmp_path / "documents.parquet"))

    write(["alpha beta gamma delta"])
    first = hashed_shingle_sets(spark, str(tmp_path)).collect()
    assert len(first[0].sh) == 2  # 4 tokens -> 2 trigrams
    n_before = n_entries()
    # same file identity -> same cached frame, no new entry
    hashed_shingle_sets(spark, str(tmp_path))
    assert n_entries() == n_before
    time.sleep(0.01)  # ensure a distinct mtime_ns
    write(["one two three four five six"])
    second = hashed_shingle_sets(spark, str(tmp_path)).collect()
    assert len(second[0].sh) == 4  # 6 tokens -> 4 trigrams
    assert n_entries() == n_before  # stale entry evicted, not leaked


def test_semantic_dedup_matches_numpy(spark):
    """dedup_semantic must equal a pure-numpy SemDeDup: assign each
    vector to its nearest normalized-trained centroid, then drop it iff
    some lower-id vector in the same cluster has cosine >= SEM_TAU."""
    import numpy as np

    from mr_python_spark.dedup import SEM_TAU, dedup_semantic
    from mr_python_spark.session import load_table
    from mr_python_spark.similarity import _trained_model, cell_distances

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    emb.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in emb], dtype=np.int64)
    M = np.array([r.embedding for r in emb], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    C = _trained_model(spark, SF)["C_norm"]
    cells = cell_distances(M, C).argmin(1)

    expected = {}
    for cell in np.unique(cells):
        sel = cells == cell
        sub_ids, sub = ids[sel], M[sel]
        sims = sub @ sub.T
        dropped = np.tril(sims >= SEM_TAU, -1).any(axis=1)
        for vid, c, d in zip(sub_ids, cells[sel], dropped):
            expected[int(vid)] = (int(c), not bool(d))

    got = {
        int(r.vec_id): (int(r.cell), bool(r.is_kept))
        for r in dedup_semantic(spark, SF).collect()
    }
    assert got == expected
    assert any(not kept for _, kept in got.values()) or len(got) < 50


def test_containment_dominates_jaccard_on_shared_pairs(spark):
    """|A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| identically, so every pair
    both queries emit must score at least its jaccard — and pair keys
    agree because both consume the same cached shingle frame and the
    same DF-capped candidate generator."""
    from mr_python_spark.dedup import dedup_containment, dedup_ngram_jaccard

    jac = {
        (r.doc_a, r.doc_b): r.jaccard for r in dedup_ngram_jaccard(spark, SF).collect()
    }
    con = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup_containment(spark, SF).collect()
    }
    shared = set(jac) & set(con)
    assert shared, "expected at least one pair above both thresholds"
    for pair in shared:
        assert con[pair] >= jac[pair] - 1e-12, pair
    # any jaccard-emitted pair missed by containment scored below 0.6
    # (never the other way: containment >= jaccard >= 0.2 threshold)
    from mr_python_spark.dedup import CONTAIN_TAU

    for pair in set(jac) - set(con):
        assert jac[pair] < CONTAIN_TAU, pair


def test_bpe_trainer_and_encoder_cross_check(spark):
    """The engine's BPE trainer must merge-for-merge equal a naive
    from-scratch reimplementation on the same sample, and the
    distributed per-doc token counts must equal encoding every doc
    with those merges locally."""
    from collections import Counter

    from mr_python_spark.functions.bpe import (
        BPE_SAMPLE_CAP,
        BPE_SAMPLE_STRIDE,
        bpe_token_stats,
        encode_word,
        train_bpe,
        trained_merges,
        _words,
    )
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    sample_ids = sorted(d for d in docs if d % BPE_SAMPLE_STRIDE == 0)[:BPE_SAMPLE_CAP]
    wf = Counter(w for d in sample_ids for w in _words(docs[d]))

    # naive trainer: same tie-break spec, written from scratch over
    # plain tuples (no shared code with the engine trainer)
    def naive_train(freq, n_merges=200):
        seqs = Counter()
        for w, f in freq.items():
            seqs[tuple(list(w[:-1]) + [w[-1] + "</w>"])] += f
        out = []
        for _ in range(n_merges):
            pc = Counter()
            for syms, f in seqs.items():
                for pair in zip(syms, syms[1:]):
                    pc[pair] += f
            if not pc or max(pc.values()) < 2:
                break
            top = max(pc.values())
            best = min(p for p, c in pc.items() if c == top)
            out.append(best)
            nxt = Counter()
            for syms, f in seqs.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        merged.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                nxt[tuple(merged)] += f
            seqs = nxt
        return out

    merges = trained_merges(spark, SF)
    assert merges == naive_train(wf)
    assert merges == train_bpe(dict(wf))

    ranks = {p: i for i, p in enumerate(merges)}
    # coverage vocab: sample alphabet + merge products, from scratch
    alphabet = set()
    for w in wf:
        alphabet.update(w[:-1])
        alphabet.add(w[-1] + "</w>")
    vocab = alphabet | {a + b for a, b in merges}
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unique_bpe_tokens, r.n_oov_free_words)
        for r in bpe_token_stats(spark, SF).collect()
    }
    assert set(got) == set(docs)
    for d, text in docs.items():
        ws = _words(text)
        encs = [encode_word(w, ranks) for w in ws]
        toks = [t for e in encs for t in e]
        cov = sum(all(t in vocab for t in e) for e in encs)
        assert got[d] == (len(ws), len(toks), len(set(toks)), cov), d


def test_unigram_trainer_and_encoder_cross_check(spark):
    """The engine's unigram-LM trainer must piece-for-piece equal a
    naive from-scratch reimplementation on the same sample (seeding,
    Viterbi-EM, pruning, final costs), and the distributed per-doc
    stats must equal segmenting every doc with the final costs
    locally — including UNK single chars the sample never saw."""
    from collections import Counter

    from mr_python_spark.functions.bpe import (
        BPE_SAMPLE_CAP,
        BPE_SAMPLE_STRIDE,
        _words,
    )
    from mr_python_spark.functions.unigram import (
        UNIGRAM_EM_ITERS,
        UNIGRAM_MAX_PIECE,
        UNIGRAM_SEED_MULTI,
        UNIGRAM_UNK_COST,
        UNIGRAM_VOCAB,
        _viterbi,
        trained_unigram,
        unigram_token_stats,
    )
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    sample_ids = sorted(d for d in docs if d % BPE_SAMPLE_STRIDE == 0)[:BPE_SAMPLE_CAP]
    wf = Counter(w for d in sample_ids for w in _words(docs[d]))

    # naive trainer: same spec, written from scratch with a recursive
    # memoized segmenter (no shared code with the engine's dp loop)
    def naive_seg(w, costs):
        from functools import lru_cache

        @lru_cache(maxsize=None)
        def best(j):
            if j == 0:
                return (0, 0)
            cands = []
            for i in range(max(0, j - UNIGRAM_MAX_PIECE), j):
                c = costs.get(w[i:j])
                if c is None:
                    if j - i != 1:
                        continue
                    c = UNIGRAM_UNK_COST
                cands.append((best(i)[0] + c, i))
            # min cost; ties -> smallest i (longest last piece)
            return min(cands)

        out, j = [], len(w)
        while j:
            i = best(j)[1]
            out.append(w[i:j])
            j = i
        return out[::-1]

    def naive_train(freq):
        seed = Counter()
        for w, f in freq.items():
            for i in range(len(w)):
                for j in range(i + 1, min(len(w), i + UNIGRAM_MAX_PIECE) + 1):
                    seed[w[i:j]] += f
        chars = sorted(s for s in seed if len(s) == 1)
        vocab = chars + sorted(
            (s for s in seed if len(s) > 1), key=lambda s: (-seed[s], s)
        )[:UNIGRAM_SEED_MULTI]
        cnt = {s: seed[s] for s in vocab}

        def costs_of(c):
            t, v = sum(c.values()), len(vocab)
            return {s: ((t + v) // (c[s] + 1)).bit_length() for s in vocab}

        def recount(costs):
            nxt = {s: 0 for s in vocab}
            for w, f in freq.items():
                for p in naive_seg(w, costs):
                    if p in nxt:
                        nxt[p] += f
            return nxt

        for _ in range(UNIGRAM_EM_ITERS):
            cnt = recount(costs_of(cnt))
        vocab = chars + sorted(
            (s for s in vocab if len(s) > 1), key=lambda s: (-cnt[s], s)
        )[: max(0, UNIGRAM_VOCAB - len(chars))]
        cnt = {s: cnt[s] for s in vocab}
        cnt = recount(costs_of(cnt))
        t, v = sum(cnt.values()), len(vocab)
        costs = {s: ((t + v) // (cnt[s] + 1)).bit_length() for s in vocab}
        return sorted(vocab, key=lambda s: (-cnt[s], s)), cnt, costs

    pieces, counts, costs = trained_unigram(spark, SF)
    n_pieces, n_counts, n_costs = naive_train(wf)
    assert pieces == n_pieces
    assert counts == n_counts
    assert costs == n_costs
    # structural invariants: chars exempt from pruning, cap respected
    chars = {s for s in pieces if len(s) == 1}
    assert len(pieces) <= max(UNIGRAM_VOCAB, len(chars))
    assert all(len(s) <= UNIGRAM_MAX_PIECE for s in pieces)

    got = {
        r.doc_id: (
            r.n_words,
            r.n_unigram_tokens,
            r.n_unique_pieces,
            r.n_oov_free_words,
        )
        for r in unigram_token_stats(spark, SF).collect()
    }
    assert set(got) == set(docs)
    for d, text in docs.items():
        ws = _words(text)
        segs = [_viterbi(w, costs) for w in ws]
        toks = [t for s in segs for t in s]
        cov = sum(all(p in costs for p in s) for s in segs)
        assert got[d] == (len(ws), len(toks), len(set(toks)), cov), d


def test_tokenizer_bakeoff_budget_semantics(spark):
    """The matched-budget bake-off models must equal first-principles
    constructions: the budget BPE is EXACTLY ``train_bpe(wf, K)`` (the
    greedy trainer's K-prefix property), the budget unigram keeps chars
    + top-K multi-char pieces in trained rank order with refreshed
    costs, and the OOV-free flag flips on a character the training
    sample never saw."""
    from collections import Counter

    from mr_python_spark.functions.bpe import (
        BPE_SAMPLE_CAP,
        BPE_SAMPLE_STRIDE,
        _words,
        encode_word,
        train_bpe,
    )
    from mr_python_spark.functions.unigram import (
        BAKEOFF_EXTRA_PIECES,
        _piece_cost,
        _viterbi,
        budgeted_bpe_model,
        budgeted_unigram_costs,
        tokenizer_bakeoff_report,
        trained_unigram,
    )
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    sample_ids = sorted(d for d in docs if d % BPE_SAMPLE_STRIDE == 0)[:BPE_SAMPLE_CAP]
    wf = Counter(w for d in sample_ids for w in _words(docs[d]))

    # K-prefix property: the budget model IS the budget-trained model
    b_ranks, b_vocab = budgeted_bpe_model(spark, SF)
    budget_merges = train_bpe(dict(wf), n_merges=BAKEOFF_EXTRA_PIECES)
    assert list(b_ranks) == budget_merges
    assert all(a + b in b_vocab for a, b in budget_merges)

    # unigram prune: chars exempt, top-K multi by trained rank order
    pieces, counts, _ = trained_unigram(spark, SF)
    keep = [p for p in pieces if len(p) == 1]
    keep += [p for p in pieces if len(p) > 1][:BAKEOFF_EXTRA_PIECES]
    u_costs = budgeted_unigram_costs(spark, SF)
    assert set(u_costs) == set(keep)
    t, v = sum(counts[p] for p in keep), len(keep)
    assert u_costs == {p: _piece_cost(counts[p], t, v) for p in keep}

    # OOV flip: a char outside the sample alphabet breaks coverage
    unseen = "ß"  # ß — synthetic corpus is plain ascii
    assert not all(t in b_vocab for t in encode_word("a" + unseen, b_ranks))
    assert not all(p in u_costs for p in _viterbi("a" + unseen, u_costs))

    # report invariants: per-language sums recompute from local encode
    rep = {r.lang: r for r in tokenizer_bakeoff_report(spark, SF).collect()}
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF, "documents").select("doc_id", "lang").collect()
    }
    exp: dict[str, list[int]] = {}
    for d, text in docs.items():
        ws = _words(text)
        bt = sum(len(encode_word(w, b_ranks)) for w in ws)
        ut = sum(len(_viterbi(w, u_costs)) for w in ws)
        e = exp.setdefault(langs[d], [0, 0, 0])
        e[0] += len(ws)
        e[1] += bt
        e[2] += ut
    for lang, (nw, bt, ut) in exp.items():
        r = rep[lang]
        assert (r.n_words, r.bpe_tokens, r.unigram_tokens) == (nw, bt, ut), lang
        assert r.bpe_fertility == bt / nw and r.unigram_fertility == ut / nw


def test_doremi_weights_from_first_principles(spark):
    """The DoReMi-lite weight table must equal a pure-Python
    recomputation from the per-doc LM frame: per-source exact sums,
    fixed-point bpp vs the corpus baseline, linear excess shares with
    the 0.2 uniform floor — and the weights must sum to the scale
    within integer-truncation loss (< n_sources)."""
    from collections import defaultdict

    from mr_python_spark.functions.lm import (
        DOREMI_ALPHA_FP,
        DOREMI_SCALE,
        bigram_lm_perplexity,
        doremi_domain_weights,
    )
    from mr_python_spark.session import load_table

    src_of = {
        r.doc_id: r.source
        for r in load_table(spark, SF, "documents").select("doc_id", "source").collect()
    }
    agg = defaultdict(lambda: [0, 0, 0])  # n_docs, nb, bits
    for r in bigram_lm_perplexity(spark, SF).collect():
        e = agg[src_of[r.doc_id]]
        e[0] += 1
        e[1] += r.n_bigrams
        e[2] += r.surprisal_bits
    S, A = DOREMI_SCALE, DOREMI_ALPHA_FP
    tot_nb = sum(e[1] for e in agg.values())
    tot_bits = sum(e[2] for e in agg.values())
    bpp0 = tot_bits * S // tot_nb
    n_src = len(agg)
    excess = {s: max(0, e[2] * S // e[1] - bpp0) for s, e in agg.items()}
    tot_ex = sum(excess.values())
    exp = {}
    for s, e in agg.items():
        share = S // n_src if tot_ex == 0 else excess[s] * S // tot_ex
        exp[s] = (
            e[0],
            e[1],
            e[2],
            e[2] * S // e[1],
            excess[s],
            share,
            (A * (S // n_src) + (S - A) * share) // S,
        )
    got = {
        r.source: (
            r.n_docs,
            r.n_bigrams,
            r.surprisal_bits,
            r.bpp_fp,
            r.excess_fp,
            r.share_fp,
            r.weight_fp,
        )
        for r in doremi_domain_weights(spark, SF).collect()
    }
    assert got == exp
    total_w = sum(v[6] for v in got.values())
    assert S - n_src <= total_w <= S
    # the floor contract: at-or-below-baseline sources get exactly α/K
    floor_w = (A * (S // n_src)) // S
    for s, v in got.items():
        if v[4] == 0:
            assert v[6] == floor_w, s


def test_bigram_lm_bit_surprisal_mirror(spark):
    """The distributed LM score must equal a from-scratch pure-Python
    bigram LM (same bounded sample, same add-V smoothing) computing
    floor(log2)+1 via int.bit_length — pinning the no-float-log
    quantization contract at every doc."""
    from collections import Counter

    from mr_python_spark.functions.lm import (
        LM_SAMPLE_CAP,
        LM_SAMPLE_STRIDE,
        bigram_lm_perplexity,
    )
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    sample_ids = sorted(d for d in docs if d % LM_SAMPLE_STRIDE == 0)[:LM_SAMPLE_CAP]
    uni = Counter(t for d in sample_ids for t in docs[d])
    bi = Counter(
        f"{a} {b}" for d in sample_ids for a, b in zip(docs[d], docs[d][1:])
    )
    vocab = len(uni)

    got = {
        r.doc_id: (r.n_bigrams, r.surprisal_bits, r.bits_per_bigram)
        for r in bigram_lm_perplexity(spark, SF).collect()
    }
    expect_ids = {d for d, toks in docs.items() if len(toks) >= 2}
    assert set(got) == expect_ids
    for d in expect_ids:
        toks = docs[d]
        bits = [
            ((uni[a] + vocab) // (bi[f"{a} {b}"] + 1)).bit_length()
            for a, b in zip(toks, toks[1:])
        ]
        n, s = len(bits), sum(bits)
        assert got[d] == (n, s, s / n), d


def test_nb_classifier_pure_python_mirror(spark):
    """The distributed NB score must equal a from-scratch pure-Python
    multinomial NB (same weak labels, same Laplace smoothing, same
    fixed-point bit-length log) at every doc — and the weak-label rule
    must produce both classes in the sample (a one-class sample would
    silently degenerate the model)."""
    from collections import Counter

    from mr_python_spark.functions.lm import (
        LM_SAMPLE_CAP,
        LM_SAMPLE_STRIDE,
        NB_SCALE,
        NB_STOP_PCT,
        nb_quality_classifier,
    )
    from mr_python_spark.functions.text import STOPWORDS
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    sample_ids = sorted(d for d in docs if d % LM_SAMPLE_STRIDE == 0)[:LM_SAMPLE_CAP]
    label = {
        d: 100 * sum(t in STOPWORDS for t in docs[d]) >= NB_STOP_PCT * len(docs[d])
        for d in sample_ids
    }
    assert 0 < sum(label.values()) < len(label)

    cg = Counter(t for d in sample_ids if label[d] for t in docs[d])
    cb = Counter(t for d in sample_ids if not label[d] for t in docs[d])
    vocab = len({t for d in sample_ids for t in docs[d]})
    ng, nb = sum(cg.values()), sum(cb.values())
    n_good, n_docs = sum(label.values()), len(label)
    pbits = ((n_good + 1) * NB_SCALE // (n_docs + 2)).bit_length() - (
        (n_docs - n_good + 1) * NB_SCALE // (n_docs + 2)
    ).bit_length()

    got = {
        r.doc_id: (r.n_tokens, r.score_bits, r.pred_good)
        for r in nb_quality_classifier(spark, SF).collect()
    }
    assert set(got) == {d for d, toks in docs.items() if toks}
    for d, toks in docs.items():
        if not toks:
            continue
        score = pbits + sum(
            ((cg[t] + 1) * NB_SCALE // (ng + vocab)).bit_length()
            - ((cb[t] + 1) * NB_SCALE // (nb + vocab)).bit_length()
            for t in toks
        )
        assert got[d] == (len(toks), score, int(score >= 0)), d


def test_cluster_survivors_from_first_principles(spark):
    """The quality-aware survivor table must equal a pure-Python
    recomputation: union-find over the exact jaccard>=0.5 edges, the
    fixed-point quality score per member, argmax by (q_fp DESC,
    doc_id ASC), and the evicted doc/token accounting."""
    from mr_python_spark.dedup import dedup_cluster_survivors, shingle_sets
    from mr_python_spark.functions.pipeline import BALANCE_SCALE
    from mr_python_spark.functions.text import STOPWORDS
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    shingles = {
        d: {
            " ".join(toks[i : i + 3])
            for toks in [[t for t in txt.lower().split() if t]]
            for i in range(len(toks) - 2)
        }
        for d, txt in docs.items()
    }
    ids = sorted(shingles)
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # edges: exact jaccard >= 0.5 over co-shingled pairs
    from collections import defaultdict

    post = defaultdict(list)
    for d in ids:
        for s in shingles[d]:
            post[s].append(d)
    cand = {
        (a, b)
        for ds in post.values()
        for i, a in enumerate(ds)
        for b in ds[i + 1 :]
    }
    in_cluster = set()
    for a, b in sorted(cand):
        inter = len(shingles[a] & shingles[b])
        if inter / (len(shingles[a]) + len(shingles[b]) - inter) >= 0.5:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
            in_cluster |= {a, b}
    comp = defaultdict(list)
    for d in sorted(in_cluster):
        comp[find(d)].append(d)

    def q_fp(d):
        toks = [t for t in docs[d].lower().split() if t]
        nt = len(toks)
        ns = sum(t in STOPWORDS for t in toks)
        return min(nt, 100) * (nt + ns) * BALANCE_SCALE // (200 * nt)

    exp = {}
    for root, members in comp.items():
        ranked = sorted(members, key=lambda d: (-q_fp(d), d))
        surv = ranked[0]
        exp[root] = (
            len(members),
            surv,
            q_fp(surv),
            len(members) - 1,
            sum(len([t for t in docs[d].lower().split() if t]) for d in ranked[1:]),
        )

    got = {
        r.cluster_id: (
            r.n_members,
            r.survivor_doc_id,
            r.survivor_q_fp,
            r.evicted_docs,
            r.evicted_tokens,
        )
        for r in dedup_cluster_survivors(spark, SF).collect()
    }
    assert got == exp
    # at least one cluster must exist on the fixture, else vacuous
    assert got


def test_bakeoff_degenerate_language_null_ratios(spark, tmp_path):
    """A language whose documents are all whitespace has n_words = 0
    (and so 0 tokens): every ratio column must be NULL — pinned by the
    engine's when(denom > 0) guard and mirrored by NULLIF in the
    udf-oracle — while exact integer columns stay 0 and healthy
    languages keep real ratios."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mr_python_spark.functions.unigram import tokenizer_bakeoff_report

    texts = ["alpha beta beta gamma", "gamma gamma alpha", "   \t  \n ", " \n\t"]
    langs = ["en", "en", "zz", "zz"]
    t = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "documents.parquet"))

    rep = {r.lang: r for r in tokenizer_bakeoff_report(spark, str(tmp_path)).collect()}
    zz = rep["zz"]
    assert (zz.n_words, zz.bpe_tokens, zz.unigram_tokens) == (0, 0, 0)
    for col in (
        "bpe_fertility",
        "unigram_fertility",
        "bpe_chars_per_token",
        "unigram_chars_per_token",
        "bpe_oov_free_rate",
        "unigram_oov_free_rate",
    ):
        assert zz[col] is None, col
    en = rep["en"]
    assert en.bpe_fertility is not None and en.bpe_fertility >= 1.0
    assert en.unigram_fertility is not None and en.unigram_fertility >= 1.0


def test_unimax_matches_first_principles_threshold(spark):
    """The engine's windowed allocation must equal a plain-Python
    recomputation of the waterfilling threshold (ascending languages;
    capped iff the capped take fits under the running fair share;
    uncapped languages split the leftover evenly), with both regimes
    present and the budget never exceeded."""
    from mr_python_spark.functions.pipeline import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        UNIMAX_EPOCH_CAP,
        unimax_language_budgets,
    )
    from mr_python_spark.functions.text import tokens_col
    from mr_python_spark.session import load_table

    import pyspark.sql.functions as F

    per_lang = {
        r.lang: r.nt
        for r in load_table(spark, SF, "documents")
        .groupBy("lang")
        .agg(F.sum(F.size(tokens_col())).alias("nt"))
        .collect()
    }
    order = sorted(per_lang.items(), key=lambda kv: (kv[1], kv[0]))
    ntot = sum(per_lang.values())
    budget = ntot * UNIMAX_BUDGET_NUM // UNIMAX_BUDGET_DEN
    m = len(order)
    pfx = 0
    t_rnk, t_pfx = 0, 0
    for i, (lang, n) in enumerate(order, start=1):
        if UNIMAX_EPOCH_CAP * n * (m - i + 1) + UNIMAX_EPOCH_CAP * pfx <= budget:
            t_rnk, t_pfx = i, pfx + n
        pfx += n
    expected = {}
    for i, (lang, n) in enumerate(order, start=1):
        if i <= t_rnk:
            expected[lang] = UNIMAX_EPOCH_CAP * n
        else:
            expected[lang] = (budget - UNIMAX_EPOCH_CAP * t_pfx) // (m - t_rnk)

    got = {
        r.lang: (r.alloc_tokens, r.epoch_capped)
        for r in unimax_language_budgets(spark, SF).collect()
    }
    for i, (lang, n) in enumerate(order, start=1):
        assert got[lang] == (expected[lang], i <= t_rnk), lang
    # the fixture must exercise BOTH regimes, else the test is vacuous
    assert 0 < t_rnk < m
    # budget conservation: allocations never exceed the budget
    assert sum(a for a, _ in got.values()) <= budget


def test_compression_ratio_matches_python(spark):
    """Pure-Python zlib over the raw parquet must reproduce the
    engine's mapInPandas ratios value-for-value."""
    import zlib

    import duckdb

    from mr_python_spark.functions.text import (
        _ZRATIO_FLAG_BP,
        compression_ratio_quality,
    )

    got = {
        r.doc_id: (r.raw_bytes, r.zip_bytes, r.ratio_bp, r.flag_repetitive)
        for r in compression_ratio_quality(spark, SF).collect()
    }
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    assert len(got) == len(rows)
    for doc_id, text in rows:
        raw = text.encode("utf-8")
        zb = len(zlib.compress(raw, 6))
        ratio = zb * 10000 // max(len(raw), 1)
        assert got[doc_id] == (len(raw), zb, ratio, ratio < _ZRATIO_FLAG_BP), doc_id


def test_bloom_incremental_contract(spark):
    """No false negatives row-for-row, and the false-positive count
    stays within the m=2^20 / k=5 geometry's budget."""
    from mr_python_spark.dedup import _bloom_flag_frame

    rows = _bloom_flag_frame(spark, SF).collect()
    assert rows, "batch split produced no rows"
    fps = 0
    for r in rows:
        if r.in_corpus:
            assert r.bloom_hit, f"false negative on doc {r.doc_id}"
        elif r.bloom_hit:
            fps += 1
    # theoretical FPP at n~corpus keys is <<1%; allow generous slack
    assert fps <= max(2, len(rows) // 100), (fps, len(rows))


def test_encode_tokens_to_ids_pure_python_mirror(spark):
    """The distributed token→id encoding must equal a from-scratch
    pure-Python re-derivation (same frequency vocabulary, same
    count-desc/token-asc total order, same OOV id, same in-doc
    position order) at every document — the full-sequence gate the
    scalar ``ids_csv`` projection still has to honor."""
    from collections import Counter

    from mr_python_spark.functions.pipeline import VOCAB_SIZE, encode_tokens_to_ids
    from mr_python_spark.session import load_table

    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    counts = Counter(t for toks in docs.values() for t in toks)
    top = sorted(counts, key=lambda t: (-counts[t], t))[:VOCAB_SIZE]
    tok_id = {t: i for i, t in enumerate(top)}

    got = {
        r.doc_id: (r.n_tokens, r.ids_csv)
        for r in encode_tokens_to_ids(spark, SF).collect()
    }
    assert set(got) == {d for d, toks in docs.items() if toks}
    for d, toks in docs.items():
        if not toks:
            continue
        want = ",".join(str(tok_id.get(t, VOCAB_SIZE)) for t in toks)
        assert got[d] == (len(toks), want), d
