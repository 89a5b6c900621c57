"""Iterative graph algorithms over derived document graphs.

The reference cannot express iteration at all (one map, one reduce,
done — tinymr.py:156-230); multi-round algorithms are where a real
engine's loop-with-cache pattern matters.  `dedup_clusters` already
runs data-bounded label propagation; this module adds the other
canonical iterative kernel, PageRank, over the near-dup similarity
graph (edges = capped n-gram Jaccard pairs ≥ 0.2, bidirected).

Determinism contract: ranks are computed in integer fixed-point
(micro-units of ``SCALE = 10^12``) with floor division everywhere —
float summation order would differ between engines, but integer sums
are associative, so Spark and the DuckDB oracle agree bit-for-bit on
every intermediate round, not just approximately at the end.

Scale notes: each iteration is one join + one aggregate on the EDGE
list (the corpus is never re-read), the same alternating
join-aggregate shape GraphX uses; iteration count is fixed (3).  Each
round's ranks feed the next round exactly once, so the rounds compose
into one lazy plan that the registry pins; nothing is cached per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache

#: fixed-point scale for rank mass (micro-micro units)
PR_SCALE = 10**12
#: damping factor as an integer percentage (0.85)
PR_DAMP_PCT = 85
PR_ITERATIONS = 3

# pairs CTE: identical construction to dedup_ngram_jaccard's oracle
# (df-capped candidates, exact jaccard >= 0.2).  Every CTE is
# MATERIALIZED: DuckDB otherwise inlines the whole chain into each
# consumer, recomputing the quadratic candidate join once per PageRank
# round — which exhausted its spill budget on the 10x sf1 fixture and
# was 5x slower even at sf0.01.  One keyword, same single-statement
# oracle contract.
_PAIRS_CTES = """
toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
), pos AS MATERIALIZED (
  SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks
), sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM pos WHERE i <= len(t) - 2
), rare AS MATERIALIZED (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 10
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN rare r ON r.shingle = a.shingle
), sets AS MATERIALIZED (
  SELECT doc_id, list(shingle) AS ss FROM sh GROUP BY doc_id
), pairs AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sets sa ON sa.doc_id = doc_a
  JOIN sets sb ON sb.doc_id = doc_b
  WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
      / (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))) >= 0.2
), bidir AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), verts AS MATERIALIZED (
  SELECT DISTINCT src AS v FROM bidir
), deg AS MATERIALIZED (
  SELECT src AS v, COUNT(*) AS d FROM bidir GROUP BY src
), consts AS MATERIALIZED (
  SELECT COUNT(*) AS n FROM verts
)
"""


def _oracle() -> str:
    # NOTE: the rank column is named ``pr`` inside the CTE chain —
    # ``rank`` is a reserved (window-function) word in DuckDB
    s, d = PR_SCALE, PR_DAMP_PCT
    prev = "r0"
    iters = []
    for k in range(1, PR_ITERATIONS + 1):
        iters.append(f"""
r{k} AS MATERIALIZED (
  SELECT v.v AS doc_id,
         CAST((({d} * s.contrib) // 100) + c.base AS BIGINT) AS pr
  FROM verts v
  CROSS JOIN (SELECT (15 * ({s} // n)) // 100 AS base FROM consts) c
  JOIN (
    SELECT b.dst AS doc_id, CAST(SUM(CAST(r.pr // dg.d AS BIGINT)) AS BIGINT) AS contrib
    FROM bidir b
    JOIN {prev} r ON r.doc_id = b.src
    JOIN deg dg ON dg.v = b.src
    GROUP BY b.dst
  ) s ON s.doc_id = v.v
)""")
        prev = f"r{k}"
    return (
        "WITH "
        + _PAIRS_CTES.strip()
        + f""",
r0 AS MATERIALIZED (
  SELECT v AS doc_id, CAST({s} // n AS BIGINT) AS pr FROM verts CROSS JOIN consts
),"""
        + ",".join(iters)
        + f"""
SELECT doc_id, pr AS "rank" FROM r{PR_ITERATIONS}
"""
    )


def neardup_bidir(spark: SparkSession, sf_dir: str):
    """Bidirected jaccard-≥0.2 edge frame, keyed-cached per corpus.

    Shared by :func:`pagerank_dedup_graph` (3 join-aggregate rounds)
    and :func:`reach_flagged_neighborhood` (a recursive CTE that
    re-scans the edge list once per recursion depth), so neither
    re-runs the verify pipeline.  Bounded by the LSH candidate budget
    like the pair frame itself, which it reads as the stored
    ``dedup_ngram_jaccard`` result."""
    from mr_python_spark.dedup import dedup_ngram_jaccard

    def build():
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        return pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )

    return corpus_cache("graph.bidir", spark, sf_dir, build)


def pagerank_round(edges, verts, rank, base: int):
    """ONE PageRank round — the iteration kernel the fixed point
    repeats: neighbor-contribution aggregate (equi-join on the edge
    list, partial+final sum) re-joined onto the vertex set."""
    contrib = (
        edges.join(rank, edges.src == rank.doc_id)
        .select("dst", F.expr("rank div d").alias("c"))
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.sum("c").alias("contrib"))
    )
    return verts.join(contrib, "doc_id").select(
        "doc_id",
        (F.expr(f"({PR_DAMP_PCT} * contrib) div 100") + F.lit(base)).alias("rank"),
    )


def _pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``PR_ITERATIONS`` rounds over the stored edge frame as one
    lazy plan: each round's ranks feed the next round exactly once, so
    no round is recomputed without a cache, and the registry pins the
    result.  ``tools/explain_audit.py`` audits this plan as
    ``pagerank_builder``."""
    bidir = neardup_bidir(spark, sf_dir)
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edges = bidir.join(deg, "src")  # (src, dst, d)
    verts = bidir.select(F.col("src").alias("doc_id")).distinct()
    n = verts.count()  # driver scalar: one long, the loop's constant
    init = PR_SCALE // n
    base = (15 * init) // 100
    rank = verts.select("doc_id", F.lit(init).cast("long").alias("rank"))
    for _ in range(PR_ITERATIONS):
        rank = pagerank_round(edges, verts, rank, base)
    return rank.select("doc_id", F.col("rank").cast("long").alias("rank"))


@register("pagerank_dedup_graph", _oracle())
def pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 rounds, d=0.85) on the near-dup graph.

    Edges are :func:`~mr_python_spark.dedup.dedup_ngram_jaccard` pairs
    (jaccard ≥ 0.2) bidirected, so every vertex has out-degree ≥ 1 —
    no dangling-mass correction needed.  All arithmetic is integer
    floor division on ``PR_SCALE`` units (see module docstring), so
    the output is bit-identical to the SQL oracle.  Per round: one
    shuffle to aggregate neighbor contributions, one broadcast-size
    join back onto the vertex set.  The fixed point is deterministic,
    so it is stored per corpus like the CC labels.
    """
    return corpus_cache(
        "graph.pagerank", spark, sf_dir, lambda: _pagerank(spark, sf_dir)
    )


_REACH_ORACLE = """
WITH """ + _PAIRS_CTES.strip() + """,
seed AS (
  SELECT MIN(src) AS s FROM bidir
),
walk AS (
  WITH RECURSIVE w(node, depth) AS (
    SELECT s, 0 FROM seed
    UNION ALL
    SELECT b.dst, w.depth + 1
    FROM w JOIN bidir b ON b.src = w.node
    WHERE w.depth < 3
  )
  SELECT node, MIN(depth) AS hops FROM w GROUP BY node
)
SELECT node AS doc_id, CAST(hops AS BIGINT) AS hops FROM walk
"""


@register("reach_flagged_neighborhood", _REACH_ORACLE)
def reach_flagged_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): ≤3-hop contamination walk.

    The triage query after flagging a document: everything transitively
    similar within k hops of the seed (the min doc id on the near-dup
    edge set).  Runs as a genuine Spark 4 recursive CTE — ``UNION ALL``
    rows with a depth guard, which terminates on CYCLIC graphs because
    depth is bounded, where the unguarded closure would not (Spark does
    not yet support ``UNION`` distinct recursion); path-multiplicity
    duplicates collapse in the final MIN(depth) aggregate, identically
    on both engines.  The edge list is the same capped jaccard ≥ 0.2
    graph as :func:`pagerank_dedup_graph`, registered as a temp view.
    """
    neardup_bidir(spark, sf_dir).createOrReplaceTempView("neardup_edges")
    return spark.sql(
        """
        WITH RECURSIVE w(node, depth) AS (
          SELECT MIN(src), 0 FROM neardup_edges
          UNION ALL
          SELECT b.dst, w.depth + 1
          FROM w JOIN neardup_edges b ON b.src = w.node
          WHERE w.depth < 3
        )
        SELECT node AS doc_id, CAST(MIN(depth) AS BIGINT) AS hops
        FROM w GROUP BY node
        """
    )
