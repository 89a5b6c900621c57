"""Similarity search over embeddings: brute-force top-k + pruned variants.

* ``ann_brute_topk`` — exact cosine top-k, blocked-numpy execution:
  the query set is packed into one row (distributed ``collect_list``)
  and broadcast-joined onto packed corpus blocks; every block task
  computes a (block × queries) GEMM via Arrow/pandas, emits per-block
  top-k, and a final window takes global top-k.  This is the
  map-side-combine shape: shuffle volume is O(blocks·q·k), never
  O(rows), and nothing touches the driver.
* ``ann_ivf_label`` — IVF-style partition pruning: ``label`` plays the
  coarse-quantizer cell; search only the query's own cell.  At 100 TB
  the cell id comes from a trained k-means (Spark ML) and the table is
  bucketed/partitioned by it → partition pruning turns top-k into a
  fraction-of-corpus scan.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_python_spark.functions.vectors import cosine, to_double
from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache, load_table, scan_partitions, spread

#: every QUERY_STRIDE-th vector is a query point (deterministic subset)
QUERY_STRIDE = 25
TOP_K = 5

#: hard cap on the probe/query set (round 15).  An ANN deployment's
#: query WORKLOAD is an external bounded input; the fixture derives it
#: by striding the corpus — a fixed FRACTION, which still scales with
#: SF — so every query set is additionally capped at a fixed SIZE: the
#: broadcast build side each ANN query ships to executors must be
#: constant at any corpus size (the r15 fact-broadcast audit rule —
#: same posture as the trained-model sample caps).  4096 exceeds the
#: stride yield at every locally checked tier (sf3 yields 2400 at
#: stride 25), so results are unchanged wherever a gate runs; the
#: recall pair additionally assume the brute set is untruncated, so
#: keep the cap above corpus/QUERY_STRIDE at the largest checked tier.
ANN_QUERY_CAP = 4096
#: injected into every oracle's query CTE so both engines cap alike
_Q_CAP_SQL = f"ORDER BY vec_id LIMIT {ANN_QUERY_CAP}"


def _cap_queries(df: DataFrame) -> DataFrame:
    """Deterministic fixed-size query set: stride subset, then top-cap
    by vec_id (plans TakeOrderedAndProject — bounded by a literal, so
    the downstream broadcast is constant-size at any SF)."""
    return df.orderBy("vec_id").limit(ANN_QUERY_CAP)


_BRUTE_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {ANN_QUERY_CAP}
), scored AS (
  SELECT
    q.vec_id AS query_id,
    n.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(q.e, n.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * n.nrm) AS score
  FROM q JOIN n ON q.vec_id <> n.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


@register("ann_brute_topk", _BRUTE_ORACLE)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via packed query broadcast + blocked GEMM.

    Fully distributed — NOTHING is collected to the driver (r2 had a
    ``queries.collect()`` whose size grew O(n/stride) with the corpus;
    VERDICT r2 flagged it).  The query subset is packed into a single
    row with ``collect_list`` (a distributed aggregate; it must fit
    one executor's memory — the same bound any broadcast side obeys),
    then rides a 1-row broadcast nested-loop join onto *packed corpus
    blocks* (one row per Arrow batch), so each scoring task unpacks
    (block × queries) and runs one f64 GEMM.  The corpus is never
    shuffled: packing is partition-local ``mapInPandas``, and only
    per-block top-k survivors (O(blocks · q · k) rows) reach the final
    global-rank window.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _cap_queries(
        emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    ).select("vec_id", "embedding")
    return _blocked_topk(emb.select("vec_id", "embedding"), queries)


def _blocked_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Shared blocked-GEMM exact top-k core (see ann_brute_topk).

    ``corpus``/``queries`` carry (vec_id, embedding); any candidate
    predicate is applied by the CALLER before packing, so it sits
    below the mapInPandas in the plan and reaches the parquet scan.
    """
    q_packed = queries.agg(
        F.collect_list("vec_id").alias("q_ids"),
        F.collect_list("embedding").alias("q_vecs"),
    )

    pack_schema = T.StructType(
        [
            T.StructField("c_ids", T.ArrayType(T.LongType())),
            T.StructField("c_vecs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one packed row per Arrow batch: partition-local, no shuffle
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "c_ids": [pdf["vec_id"].tolist()],
                    "c_vecs": [[np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]],
                }
            )

    packed = corpus.mapInPandas(pack, pack_schema)
    blocks = packed.join(F.broadcast(q_packed))  # 1-row cross: queries → every block

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k = TOP_K
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                cand_ids = np.asarray(row.c_ids, dtype=np.int64)
                cm = np.array([np.asarray(v) for v in row.c_vecs], dtype=np.float64)
                cm /= np.linalg.norm(cm, axis=1, keepdims=True)
                q_ids = np.asarray(row.q_ids, dtype=np.int64)
                qm = np.array([np.asarray(v) for v in row.q_vecs], dtype=np.float64)
                qm /= np.linalg.norm(qm, axis=1, keepdims=True)
                scores = qm @ cm.T  # (q, rows) GEMM — the vectorized hot path
                out = []
                for qi, qid in enumerate(q_ids):
                    s = scores[qi]
                    mask = cand_ids != qid
                    s_m, c_m = s[mask], cand_ids[mask]
                    if len(c_m) == 0:
                        continue
                    top = min(k, len(c_m))
                    # partial top-k per block: keep EVERY row scoring >= the
                    # k-th best, so the global (score DESC, neighbor_id ASC)
                    # rank can never lose a smallest-id tie winner that this
                    # block dropped (duplicate embeddings make k-th-score
                    # ties likely in a dedup corpus).
                    kth = np.partition(-s_m, top - 1)[top - 1]
                    part = np.nonzero(-s_m <= kth)[0]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": c_m[part],
                                "score": s_m[part],
                            }
                        )
                    )
                if out:
                    yield pd.concat(out, ignore_index=True)

    partial = blocks.mapInPandas(score_block, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


#: candidate predicate for the filtered search: a plain range filter so
#: it is parquet-PUSHABLE (a modulo would not be) — the audit pins it
FILTER_MAX_LABEL = 4

_FILTERED_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {ANN_QUERY_CAP}
), c AS (
  SELECT * FROM n WHERE label < {FILTER_MAX_LABEL}
), scored AS (
  SELECT
    q.vec_id AS query_id,
    c.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(q.e, c.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * c.nrm) AS score
  FROM q JOIN c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


@register("ann_filtered_topk", _FILTERED_ORACLE)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered exact top-k: the production retrieval shape.

    Metadata predicate first, cosine rank second ("nearest *in-stock*
    products", "nearest *same-language* docs").  The candidate filter
    (``label < FILTER_MAX_LABEL``) is applied BELOW the packing
    ``mapInPandas``, so Catalyst pushes it into the parquet scan
    (audit pins ``PushedFilters: [...LessThan(label``) and the blocked
    GEMM only ever sees surviving rows — at 100 TB with the corpus
    partitioned/bucketed on the filter column this prunes whole files
    before a single byte of embedding is read.  Queries are the usual
    stride subset, deliberately UNfiltered: the selective-filter case
    where an IVF index degrades (a cross-cell candidate set empties
    most probed cells) and the right plan is exactly this filtered
    brute scan.  Sharing ``_blocked_topk`` with ``ann_brute_topk``
    keeps one audited GEMM core for both.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _cap_queries(
        emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    ).select("vec_id", "embedding")
    candidates = emb.filter(F.col("label") < FILTER_MAX_LABEL).select(
        "vec_id", "embedding"
    )
    return _blocked_topk(candidates, queries)


_IVF_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % 50 = 0 {_Q_CAP_SQL}
), scored AS (
  SELECT
    q.vec_id AS query_id,
    n.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(q.e, n.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * n.nrm) AS score
  FROM q JOIN n ON q.label = n.label AND q.vec_id <> n.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= 3
"""


@register("ann_ivf_label", _IVF_ORACLE)
def ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned search: only the query's own label cell.

    Pure JVM: broadcast the (tiny) query set, equi-join on the cell id
    — Catalyst prunes everything else — sequential-fold cosine,
    window top-3.  Deterministic end to end.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", to_double(F.col("embedding")).alias("e"))
    q = _cap_queries(v.filter(F.col("vec_id") % 50 == 0)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    scored = (
        F.broadcast(q)
        .join(v, (F.col("qlabel") == F.col("label")) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("e")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


#: ann_ivf_kmeans coarse-quantizer parameters (all deterministic)
KM_CELLS = 16
KM_ITERS = 5
KM_SAMPLE_STRIDE = 7
KM_SAMPLE_CAP = 2048
KM_PROBE_CELLS = 4
KM_QUERY_STRIDE = 50
KM_TOP_K = 3
#: corpus-adaptive cell sizing: aim for ~this many vectors per cell
KM_TARGET_CELL = 128
KM_MAX_CELLS = 512


def ivf_cells(n: int) -> int:
    """Cell count for an n-vector corpus: ~KM_TARGET_CELL vectors/cell.

    A FIXED cell count is secretly quadratic — at 10× corpus each
    cell holds 10× vectors, queries scan 10× candidates, and query
    count also grows 10×, so total scoring work grows 100× (the 10×
    probe measured 5.5× wall before this).  Scaling cells with n
    pins per-cell occupancy, making candidate work per query
    constant and total work linear — the same corpus-adaptive
    posture as ``dedup_embedding_lsh``'s band width.  Clamped so the
    ≤KM_SAMPLE_CAP-row training sample keeps ≥4 points per cell; at
    production scale raise BOTH together (sample ≈ 4×cells) — the
    cap is what turns Σ|cell|² superlinear once n exceeds
    KM_MAX_CELLS×KM_TARGET_CELL.
    """
    return min(KM_MAX_CELLS, max(KM_CELLS, -(-n // KM_TARGET_CELL)))


def cell_distances(M: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Per-row cell-distance surrogate via the GEMM identity.

    ``argmin ||x-c||^2 == argmin (||c||^2 - 2 x.c)`` — the ``||x||^2``
    term is constant per row, so dropping it preserves both the argmin
    and the probe ordering.  One BLAS GEMM of (rows x d) @ (d x cells)
    replaces the broadcast (rows x cells x d) subtract-square tensor,
    which at 20k rows x 157 cells materialized 1.6 GB per batch and
    dominated the 10x probe.  The ORACLE and the numpy tests use the
    same expression, so assignment bits keep matching.
    """
    return (C * C).sum(1) - 2.0 * (M @ C.T)


def _kmeans_train(X: "np.ndarray", k: int = KM_CELLS) -> "np.ndarray":
    """Deterministic Lloyd iterations: first-k init, fixed rounds.

    Plain numpy on the (bounded) driver sample; ties in assignment
    break to the lowest cell via ``argmin``.  Empty cells keep their
    previous centroid.  Assignment uses the same GEMM surrogate as
    :func:`cell_distances` (the oracle trainer mirrors it verbatim).
    """
    k = min(k, len(X))
    C = X[:k].copy()
    for _ in range(KM_ITERS):
        a = ((C * C).sum(1) - 2.0 * (X @ C.T)).argmin(1)
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(0)
    return C


def _trained_model(spark: SparkSession, sf_dir: str) -> dict:
    """Coarse quantizers (raw + normalized) and PQ codebooks for a
    dataset, trained once per embeddings file identity — a production
    system trains ONCE and reuses; retraining per query call charged
    ~1s of driver work (count + sample collect + Lloyd) to every
    repeat invocation."""

    def build() -> dict:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = emb.count()
        sample = (
            emb.filter(F.col("vec_id") % KM_SAMPLE_STRIDE == 0)
            .orderBy("vec_id")
            .limit(KM_SAMPLE_CAP)
            .collect()
        )
        X = np.array([r.embedding for r in sample], dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        k = ivf_cells(n)
        return {
            "n": n,
            "C_raw": _kmeans_train(X, k=k),
            "C_norm": _kmeans_train(Xn, k=k),
            "books": _pq_train(Xn),
        }

    return corpus_cache("similarity.trained", spark, sf_dir, build, table="embeddings")


_CELL_SCHEMA = T.StructType(
    [T.StructField("vec_id", T.LongType()), T.StructField("cell", T.IntegerType())]
)


@register("ann_ivf_kmeans")  # rows-only: iterative float k-means isn't portable SQL
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer — the production ANN shape.

    ``ann_ivf_label`` borrows its cells from a label column; this
    variant trains them: deterministic k-means (first-k init, 5 Lloyd
    rounds) on a bounded sample — stride-7 subset, ``ORDER BY vec_id
    LIMIT KM_SAMPLE_CAP``, so the driver materializes a CONSTANT ≤ 2048×d
    matrix regardless of corpus size (unlike a fraction-of-n collect,
    this passes the 100× rule).  The k×d centroid matrix ships to
    executors by closure; cell assignment is one vectorized GEMM per
    Arrow batch.  Queries (stride-50) probe their ``KM_PROBE_CELLS``
    nearest cells — the standard IVF recall knob — then exact cosine
    + window top-k within candidates, all JVM-side.

    At 100 TB: train on a sample (constant), assign in one narrow
    pass, bucket/partition the corpus by cell, and queries scan only
    probed cells — a fraction-of-corpus read via partition pruning.
    Verified against a numpy reimplementation
    (tests/test_hash_pipelines.py); not SQL-expressible (iterative
    float means), so driver-tier rows-only.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = _trained_model(spark, sf_dir)["C_raw"]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            d = cell_distances(M, C)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": d.argmin(1).astype(np.int32),
                }
            )

    # the probe emits the query vector ALONGSIDE its probed cells
    # (float32→float64 widening is exact, so these doubles are
    # bit-identical to the JVM cast the corpus side uses): the capped
    # query frame is self-contained, so the broadcast build subtree
    # never touches the corpus-scaling embeddings scan — the r15
    # fact-broadcast audit rule, and one corpus scan + join fewer
    probe_q_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("qe", T.ArrayType(T.DoubleType())),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            d = cell_distances(M, C)
            near = np.argsort(d, axis=1, kind="stable")[:, :KM_PROBE_CELLS]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            rep = np.repeat(np.arange(len(ids)), near.shape[1])
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, near.shape[1]),
                    "cell": near.reshape(-1).astype(np.int32),
                    "qe": [M[i].tolist() for i in rep],
                }
            )

    v = emb.select("vec_id", to_double(F.col("embedding")).alias("e"))
    cells = spread(
        emb, parts=scan_partitions(spark, sf_dir, "embeddings")
    ).mapInPandas(assign, _CELL_SCHEMA).join(v, "vec_id")
    queries = _cap_queries(
        emb.filter(F.col("vec_id") % KM_QUERY_STRIDE == 0)
    ).mapInPandas(probe, probe_q_schema)
    scored = (
        F.broadcast(queries)
        .join(cells, (queries.cell == cells.cell) & (F.col("query_id") != cells.vec_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("e")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KM_TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


#: product-quantization parameters (deterministic, like the coarse stage)
PQ_M = 8  #: subvector count (64-dim vectors → 8-dim subspaces)
PQ_KS = 16  #: codebook entries per subspace (4-bit codes)
PQ_RERANK = 25  #: ADC shortlist size fed to the exact rerank


def _pq_train(Xn: "np.ndarray") -> "np.ndarray":
    """Per-subspace deterministic k-means codebooks (PQ_M × PQ_KS × dsub).

    Same Lloyd spec as the coarse quantizer (first-k init, fixed
    rounds, argmin ties to the lowest code, empty codes frozen), run
    independently in each of the PQ_M subspaces of the normalized
    sample.
    """
    dsub = Xn.shape[1] // PQ_M
    books = []
    for m in range(PQ_M):
        S = Xn[:, m * dsub : (m + 1) * dsub]
        k = min(PQ_KS, len(S))
        C = S[:k].copy()
        for _ in range(KM_ITERS):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)
            for j in range(k):
                members = S[a == j]
                if len(members):
                    C[j] = members.mean(0)
        books.append(C)
    return np.stack(books)


_ENC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("code", T.ArrayType(T.IntegerType())),
    ]
)

_PROBE_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("adc_table", T.ArrayType(T.DoubleType())),
    ]
)


@register("ann_ivf_pq")  # udf-oracle in tools/udf_oracles.py (numpy PQ reimplementation)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact rerank — the billion-vector production ANN shape.

    Three stages, all bounded:

    1. TRAIN (driver, constant): the same ≤2048-row sample as
       ``ann_ivf_kmeans``, L2-normalized; coarse k-means for the IVF
       cells plus per-subspace k-means codebooks (8 subspaces × 16
       codes — 4-bit PQ).
    2. ENCODE (one ``mapInPandas`` pass): every corpus vector →
       (cell, 8-byte code).  At 100 TB this is the point: the search
       structure is 8 bytes + a cell id per vector — a 256-dim f32
       corpus compresses ~128×, so the candidate scan reads codes,
       never vectors.
    3. SEARCH: queries (stride-50) probe their ``KM_PROBE_CELLS`` (4)
       nearest cells; the
       per-query ADC lookup table (subspace-dot of the query against
       every codebook entry — 8×16 doubles) is built query-side and
       travels WITH the query row, so candidate scoring is a pure
       JVM table-lookup sum (``aggregate(transform(code, ...))``)
       over broadcast queries — no Python in the per-candidate path.
       The ADC top-``PQ_RERANK`` shortlist then gets EXACT cosine
       (the standard rerank) and the final window keeps top-k.

    Fully deterministic (seeded nothing — first-k init everywhere),
    verified against an independent numpy reimplementation via the
    DuckDB udf-oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    model = _trained_model(spark, sf_dir)
    C, books = model["C_norm"], model["books"]
    dsub = C.shape[1] // PQ_M

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            cell = cell_distances(Mn, C).argmin(1)
            codes = np.empty((len(Mn), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                S = Mn[:, m * dsub : (m + 1) * dsub]
                codes[:, m] = (
                    ((S[:, None, :] - books[m][None, :, :]) ** 2).sum(-1).argmin(1)
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cell.astype(np.int32),
                    "code": list(codes),
                }
            )

    def probe_with_table(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            d = cell_distances(Mn, C)
            near = np.argsort(d, axis=1, kind="stable")[:, :KM_PROBE_CELLS]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out_ids, out_cells, out_tables = [], [], []
            for row in range(len(Mn)):
                # ADC table: subspace-dot of the query against every
                # codebook entry, flattened [m * PQ_KS + c]
                table = np.concatenate(
                    [
                        books[m] @ Mn[row, m * dsub : (m + 1) * dsub]
                        for m in range(PQ_M)
                    ]
                )
                for cell in near[row]:
                    out_ids.append(ids[row])
                    out_cells.append(int(cell))
                    out_tables.append(table)
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_ids, dtype=np.int64),
                    "cell": np.array(out_cells, dtype=np.int32),
                    "adc_table": out_tables,
                }
            )

    enc = spread(
        emb, parts=scan_partitions(spark, sf_dir, "embeddings")
    ).mapInPandas(encode, _ENC_SCHEMA)
    queries = _cap_queries(
        emb.filter(F.col("vec_id") % KM_QUERY_STRIDE == 0)
    ).mapInPandas(
        probe_with_table, _PROBE_TABLE_SCHEMA
    )
    # candidate scoring: pure JVM lookup-sum over the broadcast queries
    approx = (
        F.broadcast(queries)
        .join(enc, (queries.cell == enc.cell) & (queries.query_id != enc.vec_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                f"aggregate(transform(code, (c, m) -> "
                f"element_at(adc_table, m * {PQ_KS} + c + 1)), "
                f"cast(0 as double), (acc, x) -> acc + x)"
            ).alias("adc_score"),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    shortlist = approx.withColumn("srank", F.row_number().over(w_short)).filter(
        F.col("srank") <= PQ_RERANK
    )
    # exact rerank on the shortlist
    v = emb.select("vec_id", to_double(F.col("embedding")).alias("e"))
    reranked = (
        shortlist.join(
            v.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe")),
            F.col("query_id") == F.col("qid"),
        )
        .join(
            v.select(F.col("vec_id").alias("nid"), F.col("e").alias("ne")),
            F.col("neighbor_id") == F.col("nid"),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ne")).alias("score"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w_final).cast("long"))
        .filter(F.col("rank") <= KM_TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


# --- ANN recall evaluation --------------------------------------------

_RECALL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {KM_QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {ANN_QUERY_CAP}
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(list_zip(q.e, n.e),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                      / (q.nrm * n.nrm) DESC, n.vec_id) AS rank
    FROM q JOIN n ON q.vec_id <> n.vec_id
  ) WHERE rank <= {KM_TOP_K}
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(list_zip(q.e, n.e),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                      / (q.nrm * n.nrm) DESC, n.vec_id) AS rank
    FROM q JOIN n ON q.label = n.label AND q.vec_id <> n.vec_id
  ) WHERE rank <= {KM_TOP_K}
)
SELECT t.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / {KM_TOP_K} AS recall_at_3
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""


@register("ann_recall_report", _RECALL_ORACLE)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the label-partitioned IVF against exact brute-force
    ground truth, per query — the EVALUATION operator an ANN deployment
    needs before trusting its index (is the partition-restricted search
    actually finding the true neighbors?).

    Composes the two existing, independently-gated queries: truth =
    :func:`ann_brute_topk` restricted to rank ≤ 3 on the shared
    stride-50 query subset (stride 25 ⊃ stride 50, identical
    score-then-id tie order), approx = :func:`ann_ivf_label`.  Recall
    is exact integer hit-counting with ONE final division per query, so
    the report is bit-deterministic even though the underlying scores
    are floats — both engines rank with the same total order.  At
    scale: two top-k frames of O(queries·k) rows, one equi-join on
    (query, neighbor), one aggregate — evaluation cost is independent
    of corpus size.
    """
    truth = (
        ann_brute_topk(spark, sf_dir)
        .filter(
            (F.col("rank") <= KM_TOP_K)
            & (F.col("query_id") % KM_QUERY_STRIDE == 0)
        )
        .select("query_id", "neighbor_id")
    )
    approx = ann_ivf_label(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor")
    )
    joined = truth.join(
        approx,
        (truth.query_id == approx.query_id)
        & (F.col("neighbor_id") == F.col("a_neighbor")),
        "left",
    ).select(truth.query_id, "a_neighbor")
    return joined.groupBy("query_id").agg(
        F.count("a_neighbor").alias("n_hits"),
        (F.count("a_neighbor").cast("double") / F.lit(KM_TOP_K)).alias(
            "recall_at_3"
        ),
    )


@register("ann_pq_recall_report")  # udf-oracle in tools/udf_oracles.py
def ann_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of IVF-PQ (ADC + exact rerank) against exact brute-force
    ground truth, per query — the evaluation twin of
    :func:`ann_recall_report` for the PRODUCTION index shape.

    ADC scores candidates from 4-bit codes, so quantization error can
    reorder the shortlist BEFORE the exact rerank sees it — exactly the
    silent accuracy loss this report measures (probe loss: the true
    neighbor's cell wasn't probed; shortlist loss: ADC ranked it below
    the ``PQ_RERANK`` cut).  Truth is :func:`ann_brute_topk` restricted
    to the shared stride-50 query subset; approx is
    :func:`ann_ivf_pq`'s final ranking.  Hit counting is exact
    integers, one final division per query — bit-deterministic.  At
    scale: two O(queries·k) frames, one equi-join, one aggregate —
    evaluation cost independent of corpus size.
    """
    truth = (
        ann_brute_topk(spark, sf_dir)
        .filter(
            (F.col("rank") <= KM_TOP_K)
            & (F.col("query_id") % KM_QUERY_STRIDE == 0)
        )
        .select("query_id", "neighbor_id")
    )
    approx = ann_ivf_pq(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor")
    )
    joined = truth.join(
        approx,
        (truth.query_id == approx.query_id)
        & (F.col("neighbor_id") == F.col("a_neighbor")),
        "left",
    ).select(truth.query_id, "a_neighbor")
    return joined.groupBy("query_id").agg(
        F.count("a_neighbor").alias("n_hits"),
        (F.count("a_neighbor").cast("double") / F.lit(KM_TOP_K)).alias(
            "recall_at_3"
        ),
    )


_PQ_ENVELOPE_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {{km_stride}} = 0 ORDER BY vec_id LIMIT {ANN_QUERY_CAP}
), scored AS (
  SELECT
    q.vec_id AS query_id,
    n.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(q.e, n.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * n.nrm) AS score
  FROM q JOIN n ON q.vec_id <> n.vec_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
  )
  WHERE rank <= {{top_k}}
)
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(neighbor_id) AS BIGINT) AS truth_id_sum,
       TRUE AS hits_in_range
FROM truth GROUP BY query_id
""".format(km_stride=KM_QUERY_STRIDE, top_k=KM_TOP_K)


@register("ann_pq_recall_envelope", _PQ_ENVELOPE_ORACLE)
def ann_pq_recall_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`ann_pq_recall_report` (whose
    trained IVF-PQ side DuckDB can only replay via Python UDFs): runs
    the parent end-to-end and pairs its per-query hit count with the
    exact brute-force truth columns a model-free oracle CAN replay —
    the stride-{KM_QUERY_STRIDE} query set, ``n_true`` (exact top-k
    membership count), and ``truth_id_sum`` (id-sum of the exact
    neighbors — content-bearing, so the blocked-GEMM truth pipeline
    hash-gates value-for-value; rank ties are already total-ordered by
    neighbor_id, pinned green on ``ann_brute_topk``'s own gate) — plus
    the ``hits_in_range`` invariant flag carrying the PQ output
    (0 ≤ n_hits ≤ n_true; a PQ index that claims phantom hits or a
    join that duplicates rows flips it).  The full-strength
    recall-value gate stays on the parent's udf-oracle in the sweep.
    Same envelope device as ``dedup_incremental_minhash_envelope``.
    """
    rep = ann_pq_recall_report(spark, sf_dir)
    truth = (
        ann_brute_topk(spark, sf_dir)
        .filter(
            (F.col("rank") <= KM_TOP_K)
            & (F.col("query_id") % KM_QUERY_STRIDE == 0)
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_true"),
            F.sum("neighbor_id").alias("truth_id_sum"),
        )
    )
    return truth.join(rep, "query_id").select(
        "query_id",
        "n_true",
        "truth_id_sum",
        (
            (F.col("n_hits") >= 0) & (F.col("n_hits") <= F.col("n_true"))
        ).alias("hits_in_range"),
    )


_KM_ENVELOPE_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {KM_QUERY_STRIDE} = 0 {_Q_CAP_SQL}
), scored AS (
  SELECT
    q.vec_id AS query_id,
    n.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(q.e, n.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * n.nrm) AS score
  FROM q JOIN n ON q.vec_id <> n.vec_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
  )
  WHERE rank <= {KM_TOP_K}
)
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(neighbor_id) AS BIGINT) AS truth_id_sum,
       TRUE AS km_shape_ok
FROM truth GROUP BY query_id
"""


@register("ann_ivf_kmeans_envelope", _KM_ENVELOPE_ORACLE)
def ann_ivf_kmeans_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`ann_ivf_kmeans` (whose trained
    coarse quantizer DuckDB can only replay via Python UDFs): runs the
    trained-IVF search end-to-end and pairs the model-free columns an
    oracle CAN replay — the stride-{KM_QUERY_STRIDE} query universe,
    ``n_true`` and ``truth_id_sum`` from the exact brute-force truth
    (content-bearing: the blocked-GEMM pipeline hash-gates
    value-for-value) — with one ``km_shape_ok`` flag carrying the IVF
    output's structural invariants: every truth query must appear in
    the IVF result (the inner join drops it otherwise and the row
    count fails), 1 ≤ n_found ≤ {KM_TOP_K}, ranks exactly 1..n_found
    (2·Σrank = n·(n+1)), neighbors distinct, and the truth-hit count
    bounded by min(n_true, n_found).  Which neighbors the trained
    index finds stays gated by the parent's udf-oracle in the sweep
    (docs/COVERAGE.md window policy); a search that drops a query,
    duplicates a neighbor, or mis-ranks flips this envelope.
    """
    # each parent is referenced exactly ONCE (a second reference would
    # duplicate its whole pipeline subtree — 2x the GEMM/assign work
    # and 2x the constant-size broadcast hints); every per-query stat
    # falls out of one pair-keyed full join + one aggregate
    rep = ann_ivf_kmeans(spark, sf_dir).withColumn("fr", F.lit(1))
    truth_pairs = (
        ann_brute_topk(spark, sf_dir)
        .filter(
            (F.col("rank") <= KM_TOP_K)
            & (F.col("query_id") % KM_QUERY_STRIDE == 0)
        )
        .select("query_id", "neighbor_id", F.lit(1).alias("t"))
    )
    j = truth_pairs.join(
        rep.select("query_id", "neighbor_id", "rank", "fr"),
        ["query_id", "neighbor_id"],
        "full",
    )
    agg = j.groupBy("query_id").agg(
        F.coalesce(F.sum("t"), F.lit(0)).alias("n_true"),
        F.sum(F.when(F.col("t") == 1, F.col("neighbor_id"))).alias(
            "truth_id_sum"
        ),
        F.coalesce(F.sum("fr"), F.lit(0)).alias("n_found"),
        F.coalesce(
            F.sum(F.when(F.col("fr") == 1, F.col("rank"))), F.lit(0)
        ).alias("rank_sum"),
        F.countDistinct(
            F.when(F.col("fr") == 1, F.col("neighbor_id"))
        ).alias("n_nb"),
        F.sum(
            F.when((F.col("t") == 1) & (F.col("fr") == 1), 1).otherwise(0)
        ).alias("n_hits"),
    )
    # no n_true > 0 filter: an IVF query outside the truth universe
    # would surface as an extra (n_true = 0) row and fail the gate
    return agg.select(
        "query_id",
        F.col("n_true").cast("long").alias("n_true"),
        F.col("truth_id_sum").cast("long").alias("truth_id_sum"),
        (
            (F.col("n_found") >= 1)
            & (F.col("n_found") <= KM_TOP_K)
            & (F.col("rank_sum") * 2
               == F.col("n_found") * (F.col("n_found") + 1))
            & (F.col("n_nb") == F.col("n_found"))
            & F.col("n_hits").between(
                0, F.least(F.col("n_true"), F.col("n_found"))
            )
        ).alias("km_shape_ok"),
    )


_KNN_EVAL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {ANN_QUERY_CAP}
), scored AS (
  SELECT
    q.vec_id AS query_id,
    n.vec_id AS neighbor_id,
    n.label AS n_label,
    list_sum(list_transform(list_zip(q.e, n.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * n.nrm) AS score
  FROM q JOIN n ON q.vec_id <> n.vec_id
), topk AS (
  SELECT query_id, n_label FROM (
    SELECT query_id, n_label,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
), votes AS (
  SELECT query_id, n_label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY query_id, n_label
), pred AS (
  SELECT query_id, n_label AS predicted FROM (
    SELECT query_id, n_label,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_votes DESC, n_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT q.label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN p.predicted = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN p.predicted = q.label THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS accuracy
FROM pred p JOIN q ON p.query_id = q.vec_id
GROUP BY q.label
"""


@register("knn_label_eval", _KNN_EVAL_ORACLE)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-prediction accuracy over the embedding space — the
    classifier-evaluation tier for the vector index family.

    Leave-one-out k-NN on the deterministic probe subset (every
    ``QUERY_STRIDE``-th vector): exact cosine top-``TOP_K`` neighbors
    from the shared blocked-GEMM core (:func:`_blocked_topk` — corpus
    never shuffled, queries ride a 1-row broadcast), neighbors
    majority-vote a predicted label (total tie order: votes desc,
    label asc), and the report is per-label accuracy.  This measures
    whether the embedding space actually CLUSTERS by label — the
    assumption SemDeDup and the IVF label index both lean on; a low
    accuracy here says those passes are partitioning noise, not
    structure.

    Everything after the GEMM is exact-integer voting (floats only
    order neighbors, same contract as ``ann_brute_topk``); the final
    accuracy is the one IEEE division.  100 TB: probe cost is
    O(|probe| · corpus) GEMM FLOPs spread block-parallel; label joins
    are equi-joins on vec_id, AQE-planned, nothing forced.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _cap_queries(emb.filter(F.col("vec_id") % QUERY_STRIDE == 0))
    topk = _blocked_topk(
        emb.select("vec_id", "embedding"),
        queries.select("vec_id", "embedding"),
    )
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "n_label"
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("n_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("predicted"))
    )
    truth = queries.select(F.col("vec_id").alias("query_id"), "label")
    return (
        pred.join(truth, "query_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
            ).alias("n_correct"),
            (
                F.sum(
                    F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("accuracy"),
        )
    )


#: hard negatives kept per anchor (from the TOP_K exact shortlist)
HARD_NEG_K = 3

_HARD_NEG_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), q AS (
  SELECT * FROM n WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {ANN_QUERY_CAP}
), scored AS (
  SELECT
    q.vec_id AS anchor_id,
    q.label AS anchor_label,
    n.vec_id AS neighbor_id,
    n.label AS n_label,
    list_sum(list_transform(list_zip(q.e, n.e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (q.nrm * n.nrm) AS score
  FROM q JOIN n ON q.vec_id <> n.vec_id
), ranked AS (
  SELECT anchor_id, anchor_label, neighbor_id, n_label,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT anchor_id, neighbor_id AS negative_id, n_label AS negative_label, neg_rank
FROM (
  SELECT anchor_id, neighbor_id, n_label,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY rank) AS neg_rank
  FROM ranked
  WHERE rank <= {TOP_K} AND n_label <> anchor_label
)
WHERE neg_rank <= {HARD_NEG_K}
"""


@register("hard_negative_mining", _HARD_NEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    anchor, the nearest neighbors that carry a DIFFERENT label.

    The training-pair construction step of every retrieval/embedding
    fine-tune (DPR, SimCSE-sup, sentence-transformers): negatives that
    are close in the current embedding space are the informative ones.
    Anchors are the deterministic probe subset; candidates come from
    the shared blocked-GEMM exact top-``TOP_K`` shortlist
    (:func:`_blocked_topk`), then the label filter keeps the top
    ``HARD_NEG_K`` wrong-label neighbors per anchor, re-ranked densely
    so downstream samplers see a contiguous rank.

    Floats only order the shortlist (the ann_brute contract — both
    engines rank on identical doubles with a neighbor_id tie-break);
    everything emitted is integer.  100 TB: same cost envelope as the
    brute probe (|anchors| · corpus GEMM, block-parallel, corpus never
    shuffled) — production would swap the exact shortlist for the IVF
    probe, same downstream shape.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _cap_queries(emb.filter(F.col("vec_id") % QUERY_STRIDE == 0))
    topk = _blocked_topk(
        emb.select("vec_id", "embedding"),
        queries.select("vec_id", "embedding"),
    )
    labels = emb.select("vec_id", "label")
    cand = (
        topk.withColumnRenamed("query_id", "anchor_id")
        .join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "n_label"
            ),
            "neighbor_id",
        )
        .join(
            labels.withColumnRenamed("vec_id", "anchor_id").withColumnRenamed(
                "label", "anchor_label"
            ),
            "anchor_id",
        )
        .filter(F.col("n_label") != F.col("anchor_label"))
    )
    w = Window.partitionBy("anchor_id").orderBy("rank")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= HARD_NEG_K)
        .select(
            "anchor_id",
            F.col("neighbor_id").alias("negative_id"),
            F.col("n_label").alias("negative_label"),
            "neg_rank",
        )
    )


#: neighbors per side used for the margin normalizer (the k of
#: Artetxe & Schwenk's k-NN margin; CCMatrix used k=4)
BITEXT_K = 4
#: fixed-point scale for quantized cosines: ``floor((1+cos)·2^20)`` is
#: an exact integer in both engines, so neighbor ranking, the margin
#: sums, and the emitted scores are all integer-deterministic (floats
#: only produce the ONE quantized value; the boundary-margin test in
#: tests/test_determinism.py pins that no fixture cosine sits close
#: enough to a quantization boundary for a cross-engine ulp to flip it)
BITEXT_SCALE = 1 << 20
#: minimum difference-margin (scaled by ``2·BITEXT_K·BITEXT_SCALE``) a
#: mutual-best pair must clear: a pair only counts as mined bitext when
#: its cosine exceeds the mean of both endpoints' k-NN cosines — the
#: margin>0 rule of the difference variant (ratio>1 in the ratio
#: variant); raising it trades recall for precision exactly as the
#: published miners tune it
BITEXT_MARGIN_MIN = 1
#: the two corpus slices mined against each other in the fixture: the
#: two largest language sides of the documents table (any partition of
#: the corpus works — crawl snapshots, modalities, …)
BITEXT_SRC_LANG = "zh"
BITEXT_TGT_LANG = "en"
#: target rows per grid block (same sizing rule as the cosine grid)
BITEXT_BLOCK_ROWS = 4096

_BITEXT_ORACLE = f"""
WITH j AS (
  SELECT e.vec_id, d.lang,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.lang IN ('{BITEXT_SRC_LANG}', '{BITEXT_TGT_LANG}')
), n AS (
  SELECT vec_id, lang, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM j
), x AS (SELECT * FROM n WHERE lang = '{BITEXT_SRC_LANG}'),
y AS (SELECT * FROM n WHERE lang = '{BITEXT_TGT_LANG}'),
scored AS (
  SELECT x.vec_id AS src_id, y.vec_id AS tgt_id,
         CAST(floor((1.0 + list_sum(list_transform(list_zip(x.e, y.e),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (x.nrm * y.nrm)) * {BITEXT_SCALE}) AS BIGINT) AS cos_q
  FROM x CROSS JOIN y
), fwd AS (
  SELECT src_id, tgt_id, cos_q FROM (
    SELECT src_id, tgt_id, cos_q,
           ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos_q DESC, tgt_id) AS r
    FROM scored) WHERE r <= {BITEXT_K}
), bwd AS (
  SELECT src_id, tgt_id, cos_q FROM (
    SELECT src_id, tgt_id, cos_q,
           ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cos_q DESC, src_id) AS r
    FROM scored) WHERE r <= {BITEXT_K}
), sx AS (SELECT src_id, CAST(SUM(cos_q) AS BIGINT) AS s FROM fwd GROUP BY src_id),
sy AS (SELECT tgt_id, CAST(SUM(cos_q) AS BIGINT) AS s FROM bwd GROUP BY tgt_id),
fmarg AS (
  SELECT f.src_id, f.tgt_id, f.cos_q,
         2 * {BITEXT_K} * f.cos_q - sx.s - sy.s AS margin_fp
  FROM fwd f JOIN sx USING (src_id) JOIN sy USING (tgt_id)
), fbest AS (
  SELECT src_id, tgt_id, cos_q, margin_fp FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                 ORDER BY margin_fp DESC, tgt_id) AS rn
    FROM fmarg) WHERE rn = 1
), bmarg AS (
  SELECT b.src_id, b.tgt_id,
         2 * {BITEXT_K} * b.cos_q - sx.s - sy.s AS margin_fp
  FROM bwd b JOIN sx USING (src_id) JOIN sy USING (tgt_id)
), bbest AS (
  SELECT src_id, tgt_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
                                 ORDER BY margin_fp DESC, src_id) AS rn
    FROM bmarg) WHERE rn = 1
)
SELECT f.src_id, f.tgt_id,
       f.cos_q AS cos_fp, CAST(f.margin_fp AS BIGINT) AS margin_fp
FROM fbest f JOIN bbest b ON f.src_id = b.src_id AND f.tgt_id = b.tgt_id
WHERE f.margin_fp >= {BITEXT_MARGIN_MIN}
"""


@register("bitext_margin_mining", _BITEXT_ORACLE)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mutual-kNN bitext mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136; the CCMatrix / NLLB corpus-mining recipe,
    Schwenk et al. 2021) between two corpus slices.

    The parallel-corpus construction step of every large multilingual
    train set: embed both sides, and keep pair (x, y) only when (a) y
    is x's best candidate AND x is y's best candidate (mutual best)
    and (b) the pair clears a MARGIN over each side's k-NN
    neighborhood — raw cosine is known to be miscalibrated in hubness
    regions, so the score is the difference variant
    ``cos(x,y) − (Σ_k cos(x,·) + Σ_k cos(y,·)) / 2k``.

    Determinism: every cosine is quantized ONCE at the GEMM boundary
    (``floor((1+cos)·2^20)``); neighbor ranking, the k-NN sums, the
    margin, and the mutual-best argmax are integer arithmetic with
    doc-id tie-breaks from there on, so the mined table hash-gates
    value-for-value against the oracle.

    Scale: BOTH sides grow with the corpus, so neither may ride a
    broadcast (contrast ``ann_brute_topk``'s bounded probe pack).  The
    plan is the cross-sides block grid — X rows shard into Px blocks,
    Y rows into Py (both adaptive, ~4096 rows/block), each (i, j) cell
    is one Arrow task whose single f64 GEMM emits the per-cell partial
    top-k of BOTH directions (kth-tie-safe, quantized) — communication
    |X|·Py + |Y|·Px vector rows, per-task memory two block matrices,
    no driver collect, no corpus-sized broadcast.  Everything after
    the grid is id-keyed equi-joins and per-id windows over O(n·k)
    narrow integer rows, AQE-planned.

    Post-grid the two directions ride ONE partitioning: rows key by
    ``(dir, side_id)`` so a single window exchange ranks both top-k
    sets (the grid's expensive GEMM output is exchanged once and
    reused, where per-direction windows re-derived it per consumer),
    the k-NN sums reuse that partitioning aggregate-side, and the
    mutual-best check is a count-2 aggregation over the per-direction
    argmax rows instead of a two-branch self-join — both directions'
    margins are the same integer expression, so a pair is mined iff
    its (src, tgt) appears as rank-1 under BOTH directions.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    langs = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("vec_id"), "lang")
        .filter(F.col("lang").isin(BITEXT_SRC_LANG, BITEXT_TGT_LANG))
    )
    # No spread(): the grid groupBy below re-exchanges every row anyway,
    # so a pre-repartition is a pure extra shuffle of the vectors.
    sided = emb.join(langs, "vec_id")
    # adaptive grid: ONE grouped count over the NARROW documents lang
    # column sizes both sides (the cosine-grid sizing rule).  It upper-
    # bounds the joined side sizes (a doc without an embedding only
    # shrinks a block), so the sizing job never touches the vectors —
    # and it is cached per (session, file identity) like the trained
    # models, so repeat calls skip the sizing job entirely.
    side_n = corpus_cache(
        "similarity.bitext_sizing",
        spark,
        sf_dir,
        lambda: dict(langs.groupBy("lang").count().collect()),
    )
    n_x = int(side_n.get(BITEXT_SRC_LANG, 0))
    n_y = int(side_n.get(BITEXT_TGT_LANG, 0))
    import math as _math

    px = max(2, _math.ceil(n_x / BITEXT_BLOCK_ROWS))
    py = max(2, _math.ceil(n_y / BITEXT_BLOCK_ROWS))

    # X rows shard by id into their own block and replicate across the
    # Py columns; Y rows the transpose.  ONE pass builds both sides: a
    # conditional cell array + a single explode, so the scan⋈langs join
    # executes once instead of once per side (the old two-branch union
    # ran the join twice).
    is_src = F.col("lang") == BITEXT_SRC_LANG
    cell_arr = F.when(
        is_src,
        F.expr(
            f"transform(sequence(0, {py - 1}), "
            f"j -> struct(CAST(pmod(vec_id, {px}) AS INT) AS ci, CAST(j AS INT) AS cj))"
        ),
    ).otherwise(
        F.expr(
            f"transform(sequence(0, {px - 1}), "
            f"i -> struct(CAST(i AS INT) AS ci, CAST(pmod(vec_id, {py}) AS INT) AS cj))"
        )
    )
    cells = sided.select(
        "vec_id",
        "embedding",
        is_src.cast("int").alias("is_src"),
        F.explode(cell_arr).alias("cell"),
    ).select("vec_id", "embedding", "is_src", "cell.ci", "cell.cj")

    schema = T.StructType(
        [
            T.StructField("dir", T.IntegerType()),
            T.StructField("src_id", T.LongType()),
            T.StructField("tgt_id", T.LongType()),
            T.StructField("cos_q", T.LongType()),
        ]
    )

    k = BITEXT_K
    scale = BITEXT_SCALE

    def cell_partials(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf[pdf["is_src"] == 1]
        ys = pdf[pdf["is_src"] == 0]
        if xs.empty or ys.empty:
            return pd.DataFrame(
                {"dir": [], "src_id": [], "tgt_id": [], "cos_q": []}
            ).astype({"dir": "int32", "src_id": "int64", "tgt_id": "int64", "cos_q": "int64"})
        x_ids = xs["vec_id"].to_numpy(dtype=np.int64)
        y_ids = ys["vec_id"].to_numpy(dtype=np.int64)
        xm = np.array(list(xs["embedding"]), dtype=np.float64)
        ym = np.array(list(ys["embedding"]), dtype=np.float64)
        xm /= np.linalg.norm(xm, axis=1, keepdims=True)
        ym /= np.linalg.norm(ym, axis=1, keepdims=True)
        # ONE quantization at the GEMM boundary; both directions'
        # partial top-k work on these integers so the global ranks
        # cannot disagree with the cell-local cut
        cos_q = np.floor((1.0 + xm @ ym.T) * scale).astype(np.int64)
        frames = []
        # dir 0: per x, keep every y scoring >= the kth best (ties kept
        # so the global (cos_q DESC, id ASC) rank never loses a winner)
        if cos_q.shape[1] > k:
            kth = np.partition(-cos_q, k - 1, axis=1)[:, k - 1 : k]
            keep = -cos_q <= kth
        else:
            keep = np.ones_like(cos_q, dtype=bool)
        ai, bi = np.nonzero(keep)
        frames.append(
            pd.DataFrame(
                {"dir": 0, "src_id": x_ids[ai], "tgt_id": y_ids[bi], "cos_q": cos_q[ai, bi]}
            )
        )
        # dir 1: per y, keep every x scoring >= the kth best
        if cos_q.shape[0] > k:
            kth = np.partition(-cos_q, k - 1, axis=0)[k - 1 : k, :]
            keep = -cos_q <= kth
        else:
            keep = np.ones_like(cos_q, dtype=bool)
        ai, bi = np.nonzero(keep)
        frames.append(
            pd.DataFrame(
                {"dir": 1, "src_id": x_ids[ai], "tgt_id": y_ids[bi], "cos_q": cos_q[ai, bi]}
            )
        )
        return pd.concat(frames, ignore_index=True)

    partial = cells.groupBy("ci", "cj").applyInPandas(cell_partials, schema)

    # Post-grid, both directions rank under ONE (dir, key) partitioning:
    # dir 0 keys by src_id / tie-breaks by tgt_id, dir 1 the transpose.
    # One exchange of the grid output serves both top-k windows, the
    # per-key k-NN sums reuse that partitioning aggregate-side, the
    # margin is the same integer expression either direction, and the
    # mutual-best check is a count-2 aggregation over the per-direction
    # rank-1 rows (a pair is mined iff it is rank-1 under BOTH
    # directions) instead of a two-branch self-join.  Expressed as one
    # SQL statement over the grid frame: identical Catalyst plan to the
    # DataFrame chain, but one parse instead of dozens of driver-side
    # expression round-trips — this query is rebuilt per run in
    # benchmarks and notebooks, so plan-construction time is real.
    return spark.sql(
        f"""
        WITH keyed AS (
          SELECT dir, src_id, tgt_id, cos_q,
                 IF(dir = 0, src_id, tgt_id) AS key,
                 IF(dir = 0, tgt_id, src_id) AS other
          FROM {{partial}}
        ), top AS (
          SELECT dir, key, src_id, tgt_id, cos_q, other FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY dir, key ORDER BY cos_q DESC, other ASC) AS r
            FROM keyed) WHERE r <= {k}
        ), sums AS (
          SELECT dir, key, SUM(cos_q) AS s FROM top GROUP BY dir, key
        ), marg AS (
          SELECT t.dir, t.key, t.src_id, t.tgt_id, t.cos_q, t.other,
                 {2 * k} * t.cos_q - sx.s - sy.s AS margin_fp
          FROM top t
          JOIN (SELECT key AS src_id, s FROM sums WHERE dir = 0) sx USING (src_id)
          JOIN (SELECT key AS tgt_id, s FROM sums WHERE dir = 1) sy USING (tgt_id)
        ), best AS (
          SELECT src_id, tgt_id, cos_q, margin_fp FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY dir, key ORDER BY margin_fp DESC, other ASC) AS rn
            FROM marg) WHERE rn = 1
        )
        SELECT src_id, tgt_id,
               MAX(cos_q) AS cos_fp, MAX(margin_fp) AS margin_fp
        FROM best GROUP BY src_id, tgt_id
        HAVING COUNT(*) = 2 AND MAX(margin_fp) >= {BITEXT_MARGIN_MIN}
        """,
        partial=partial,
    )


# --- SSL-prototype prototypicality ranking (D4-style pruning) -----------

#: fixed-point scale for quantized cosines (the bitext device)
PROTO_SCALE = 1 << 20


@register("prototypicality_rank")  # udf-oracle in tools/udf_oracles.py
def prototypicality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype prototypicality ranking — the cluster-based data
    pruning metric of Sorscher et al. 2022 ("Beyond neural scaling
    laws") as used by D4 (Tirumala et al. 2023) after SemDeDup: each
    vector's cosine to its trained cluster centroid measures how
    PROTOTYPICAL (easy/redundant) the example is; within every
    cluster, the most-prototypical quarter is marked ``pruned`` — the
    abundant-data policy (keep hard examples).  Completes the
    embedding-curation family: SemDeDup removes near-duplicate
    semantics, this removes redundant-but-not-duplicate core mass.

    Determinism: the quantizer is the shared trained model
    (:func:`_trained_model`, normalized tier — same sample, same
    deterministic Lloyd as the oracle's independent numpy
    reimplementation).  Per-row cosine is an IDENTICAL float64
    sequence on both engines (normalize, 1-D ``np.dot`` against the
    assigned centroid, one divide by the centroid norm), quantized
    once via ``floor((1+cos)·2^20)``; ranking and the prune flag are
    integer ``row_number``/count arithmetic with vec_id tie-breaks
    from there on.

    Scale: cell assignment + cosine ride one Arrow pass with the
    ≤KM_MAX_CELLS×d centroid matrix shipped by closure (constant at
    any corpus size); the only shuffle is the cell-keyed window over
    three-integer rows.  At 100 TB the within-cell rank is exactly
    the IVF partition layout, so the window runs partition-local
    after the same bucket-by-cell step the ANN family documents.

    Capability extension beyond the reference engine (SURVEY.md §6
    selection tier).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = _trained_model(spark, sf_dir)["C_norm"]

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cos_fp", T.LongType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            if pdf.empty:
                continue
            # WHOLLY per-row numpy, matching the oracle's sequence
            # op-for-op: 1-D np.linalg.norm (NOT the axis batch norm —
            # measured 1-ulp different on ~16% of rows), GEMV cell
            # assignment (NOT the batch GEMM), 1-D ddot, one divide.
            # Bit-identical inputs to floor() on both engines is the
            # whole quantization contract; at production scale the
            # batch-GEMM variant needs a quantization-margin audit
            # instead (the SemDeDup boundary-pinning approach).
            vec_ids, cells, fps = [], [], []
            for vid, e in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(e, dtype=np.float64)
                vn = v / np.linalg.norm(v)
                c = int(cell_distances(vn, C).argmin())
                cos = float(np.dot(vn, C[c]) / np.linalg.norm(C[c]))
                vec_ids.append(int(vid))
                cells.append(c)
                fps.append(int(math.floor((1.0 + cos) * PROTO_SCALE)))
            yield pd.DataFrame(
                {
                    "vec_id": np.array(vec_ids, dtype=np.int64),
                    "cell": np.array(cells, dtype=np.int32),
                    "cos_fp": fps,
                }
            )

    scored = emb.mapInPandas(score, out_schema)
    w = Window.partitionBy("cell")
    wo = w.orderBy(F.desc("cos_fp"), F.asc("vec_id"))
    return scored.select(
        "vec_id",
        "cell",
        "cos_fp",
        F.row_number().over(wo).cast("long").alias("proto_rank"),
        F.count(F.lit(1)).over(w).alias("n_cell"),
        (F.row_number().over(wo) * 4 <= F.count(F.lit(1)).over(w)).alias("pruned"),
    )


_PROTO_ENVELOPE_ORACLE = """
SELECT vec_id,
       TRUE AS rank_in_cell_range,
       TRUE AS pruned_consistent,
       TRUE AS cos_in_range,
       TRUE AS cell_nonempty
FROM embeddings
"""


@register("prototypicality_envelope", _PROTO_ENVELOPE_ORACLE)
def prototypicality_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`prototypicality_rank` (whose
    trained k-means quantizer DuckDB can only replay via numpy UDFs):
    runs the parent end-to-end and emits one row PER VECTOR — the
    exact ``vec_id`` set (so a dropped or duplicated vector changes
    the row multiset) plus four invariant flags carrying the model
    outputs: the within-cell rank lies in ``1..n_cell``, the prune
    flag re-derives from ``rank·4 <= n_cell``, the quantized cosine
    lies in ``[0, 2·PROTO_SCALE]`` (cos ∈ [-1, 1]), and the row's cell
    is non-empty.  Rank ORDER (and with it the exact pruned quarter)
    stays on the udf-oracle + the numpy differential pytest.
    Window policy: docs/COVERAGE.md.
    """
    r = prototypicality_rank(spark, sf_dir)
    return r.select(
        "vec_id",
        (
            (F.col("proto_rank") >= 1) & (F.col("proto_rank") <= F.col("n_cell"))
        ).alias("rank_in_cell_range"),
        (
            F.col("pruned") == (F.col("proto_rank") * 4 <= F.col("n_cell"))
        ).alias("pruned_consistent"),
        (
            (F.col("cos_fp") >= 0) & (F.col("cos_fp") <= 2 * PROTO_SCALE)
        ).alias("cos_in_range"),
        (F.col("n_cell") >= 1).alias("cell_nonempty"),
    )
