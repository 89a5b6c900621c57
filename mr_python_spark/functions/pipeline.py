"""Training-data pipeline passes: repetition, rarity, filtering, canonicals.

The cleaning stages a large-scale pretraining-data pipeline runs over a
document corpus, composed from the engine's text primitives.  Everything
here is JVM-side DataFrame code (no Python in the hot path), exact
integer arithmetic until a final single division (the determinism recipe
from the registry docstring), and per-document-bounded windows — each
pass streams the corpus once, aggregates per doc, and never materializes
anything proportional to the corpus on one node.

Capability extensions beyond the reference engine (whose text surface is
word count, /root/reference/docs.rst examples); operator shapes follow
the published data-cleaning heuristics of large-LM corpora (repetition
ratios, stopword/length filters, frequency-based rarity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mr_python_spark.functions.text import STOPWORDS, tokens_col
from mr_python_spark.registry import register
from mr_python_spark.session import (
    corpus_cache,
    load_table,
    scan_partitions,
    spread,
)


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
pos AS (
  -- unnest and generate_subscripts in ONE select zip positionally
  -- (splitting them across nested selects cross-products n x n)
  SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks
),
tok_counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM pos GROUP BY doc_id, tok
),
tok_top AS (
  SELECT doc_id, MAX(c) AS topc, SUM(c) AS n FROM tok_counts GROUP BY doc_id
),
big_counts AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, COUNT(*) AS c
  FROM pos WHERE i < len(t)
  GROUP BY doc_id, t[i] || ' ' || t[i+1]
),
big_top AS (
  SELECT doc_id, MAX(c) AS topb, SUM(c) AS nb FROM big_counts GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(t.topc AS DOUBLE) / t.n AS top_token_frac,
       CAST(b.topb AS DOUBLE) / b.nb AS top_bigram_frac
FROM tok_top t JOIN big_top b ON t.doc_id = b.doc_id
"""


@register("quality_repetition", _REPETITION_ORACLE)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratios: most-frequent token / bigram share per doc.

    The repetition heuristics used to drop degenerate documents from
    LM corpora (boilerplate, keyword stuffing, generation loops): a
    document whose single most frequent token or bigram accounts for
    an outsized share of its length is template-like.  Two passes over
    the exploded tokens — per-(doc, gram) counts, then a per-doc max —
    both map-side combined; bigrams come from a per-doc ``lead``
    window (doc-bounded state, no self-join).  Fractions are a single
    int/int division, so results are bit-deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "tok")
    )

    tok_top = (
        toked.groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("topc"), F.sum("count").alias("n"))
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    big_top = (
        toked.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("topb"), F.sum("count").alias("nb"))
    )

    return tok_top.join(big_top, "doc_id").select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.col("topc").cast("double") / F.col("n")).alias("top_token_frac"),
        (F.col("topb").cast("double") / F.col("nb")).alias("top_bigram_frac"),
    )


_RARITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
),
total AS (
  SELECT SUM(cnt) AS n FROM vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM((SELECT n FROM total) * 1000 // cnt) AS DOUBLE) / COUNT(*)
         AS rarity_score
FROM toks JOIN vocab USING (tok)
GROUP BY doc_id
"""


@register("doc_rarity_score", _RARITY_ORACLE)
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean inverse-frequency of a document's tokens — a perplexity
    proxy in exact integer arithmetic.

    A unigram LM scores a doc by mean -log p(token); the float log
    breaks bit-determinism across engines, so the score here is the
    mean of integer token rarities ``(corpus_tokens * 1000) div
    count(token)`` — the same ordering (rare tokens dominate), summed
    as BIGINT (deterministic in any partitioning / join order) with
    one final division.  Headroom: corpus_tokens × 1000 overflows
    int64 only past ~9·10^15 tokens (~36 PB of 4-byte tokens).

    Shuffle inventory: explode → groupBy(token) builds the vocabulary;
    the rarity join re-shuffles both sides on token (co-partitioned);
    final groupBy(doc_id).  The 1-row corpus total rides a broadcast.
    The vocabulary is NOT broadcast-hinted — it scales with the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))

    rarity = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.expr("n * 1000L div cnt").alias("rarity")
    )
    return (
        toks.join(rarity, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("rarity").cast("double") / F.count("*")).alias("rarity_score"),
        )
    )


#: quality-filter thresholds (docs_quality_filter + its oracle)
QF_MIN_TOKENS = 30
QF_MAX_TOKENS = 90
QF_MAX_TOP_TOKEN_FRAC = 0.18
QF_MIN_STOPWORD_RATIO = 0.01

_QFILTER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
per AS (
  SELECT doc_id, len(t) AS n, unnest(t) AS tok FROM toks
),
cnt AS (
  SELECT doc_id, ANY_VALUE(n) AS n, tok, COUNT(*) AS c FROM per GROUP BY doc_id, tok
),
agg AS (
  SELECT doc_id,
         ANY_VALUE(n) AS n_tokens,
         MAX(c) AS topc,
         SUM(CASE WHEN tok IN {STOPWORDS!r} THEN c ELSE 0 END) AS n_stop
  FROM cnt GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(topc AS DOUBLE) / n_tokens AS top_token_frac,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio
FROM agg
WHERE n_tokens BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS}
  AND CAST(topc AS DOUBLE) / n_tokens <= {QF_MAX_TOP_TOKEN_FRAC}
  AND CAST(n_stop AS DOUBLE) / n_tokens >= {QF_MIN_STOPWORD_RATIO}
"""


@register("docs_quality_filter", _QFILTER_ORACLE)
def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pass: length band ∧ repetition cap ∧
    stopword floor → the surviving documents with their metrics.

    One exploded-token aggregation computes every signal (length,
    top-token share, stopword share); the filter is a plain predicate
    over the per-doc aggregate, so the whole pass is two map-side-
    combined aggregations and zero joins.  Fractions are single
    divisions of exact counts — the filter decisions are
    bit-deterministic, which is what makes a 100 TB cleaning run
    reproducible.
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    per_tok = (
        docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("count").alias("n_tokens"),
        F.max("count").alias("topc"),
        F.sum(
            F.when(F.array_contains(stop_arr, F.col("tok")), F.col("count")).otherwise(
                F.lit(0)
            )
        ).alias("n_stop"),
    )
    top_frac = F.col("topc").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return (
        agg.select(
            "doc_id",
            "n_tokens",
            top_frac.alias("top_token_frac"),
            stop_ratio.alias("stopword_ratio"),
        )
        .filter(
            (F.col("n_tokens") >= QF_MIN_TOKENS)
            & (F.col("n_tokens") <= QF_MAX_TOKENS)
            & (F.col("top_token_frac") <= QF_MAX_TOP_TOKEN_FRAC)
            & (F.col("stopword_ratio") >= QF_MIN_STOPWORD_RATIO)
        )
    )


def _canonical_oracle() -> str:
    from mr_python_spark.dedup import _CLUSTERS_ORACLE

    return f"""
WITH members AS (
  {_CLUSTERS_ORACLE}
),
ranked AS (
  SELECT m.cluster_id, m.doc_id, d.n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY m.cluster_id
           ORDER BY d.n_chars DESC, m.doc_id ASC
         ) AS rk
  FROM members m JOIN documents d USING (doc_id)
)
SELECT r.cluster_id, c.doc_id AS canonical_id, r.doc_id AS dup_doc_id
FROM ranked r
JOIN ranked c ON c.cluster_id = r.cluster_id AND c.rk = 1
WHERE r.rk > 1
"""


@register("dedup_canonical", _canonical_oracle())
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: which near-duplicate survives.

    The step after duplicate detection in a cleaning pipeline: per
    near-dup cluster (:func:`~mr_python_spark.dedup.dedup_clusters`,
    connected components over ngram-Jaccard edges), keep the longest
    document (``n_chars`` DESC, ``doc_id`` ASC — a total order, no
    packed-key overflow) and map every other member to it as a
    ``(canonical_id, dup_doc_id)`` drop list.  Clusters are small by
    construction (near-dup groups), so the per-cluster window is
    bounded state; the rank-1 self-join is an equi-join on cluster_id.
    """
    from mr_python_spark.dedup import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = clusters.join(docs, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    canon = ranked.filter(F.col("rk") == 1).select(
        "cluster_id", F.col("doc_id").alias("canonical_id")
    )
    return (
        ranked.filter(F.col("rk") > 1)
        .select("cluster_id", F.col("doc_id").alias("dup_doc_id"))
        .join(canon, "cluster_id")
        .select("cluster_id", "canonical_id", "dup_doc_id")
    )


_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM (
    SELECT doc_id, t, unnest(t) FROM toks
  )
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM pos WHERE i <= len(t) - 2
)
SELECT tr.doc_id,
       COUNT(*) AS n_shared_shingles,
       COUNT(DISTINCT ev.doc_id) AS n_eval_docs_hit
FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
WHERE tr.doc_id % 100 <> 0 AND ev.doc_id % 100 = 0
GROUP BY tr.doc_id
"""


@register("decontaminate_against_eval", _DECONTAM_ORACLE)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing 3-gram shingles
    with a held-out eval set.

    The pre-training hygiene pass: any document overlapping an
    evaluation benchmark n-gram is flagged (with how many distinct
    shingles and how many eval documents it hits) so it can be dropped
    before training.  The eval set here is the deterministic
    ``doc_id % 100 == 0`` slice standing in for a benchmark suite.

    Scale shape: both sides reduce to (doc_id, shingle-hash) inverted
    indexes — 8-byte longs, text never moves — and the flagging is one
    equi-join on the hash.  The eval index is benchmark-sized
    (millions of shingles, not corpus-sized) but still NOT
    broadcast-hinted: stats/AQE pick the strategy, and at a 3 GB eval
    index a shuffle join is the right call.  Cost is
    Σ df_train(sh) · df_eval(sh) — bounded by the eval index, never
    corpus-quadratic.
    """
    from mr_python_spark.dedup import shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        shingle_sets(docs)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("sh"))
    )
    train = sh.filter(F.col("doc_id") % 100 != 0)
    ev = sh.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "sh"
    )
    return (
        train.join(ev, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
    )


#: token budget per packed training batch
PACK_BUDGET = 2048

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS n_tokens
  FROM documents
),
run AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS running
  FROM toks
)
SELECT lang,
       CAST((running - n_tokens) // {PACK_BUDGET} AS BIGINT) AS batch_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens
FROM run
GROUP BY lang, (running - n_tokens) // {PACK_BUDGET}
"""


@register("pack_training_batches", _PACK_ORACLE)
def pack_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget batches.

    The batch-prep step between a cleaned corpus and an LLM trainer:
    documents are packed contiguously (stable doc_id order) into
    ~``PACK_BUDGET``-token batches via offset-based chunking —
    ``batch_id = (running_tokens - n_tokens) div budget`` — the
    deterministic streaming-friendly packing (a doc may straddle a
    boundary; trainers split or pad there).  The running sum is a
    per-``lang`` window: packing shards parallelize across languages
    and state per shard is one counter, so the pass scales as wide as
    the shard key's cardinality (at 100 TB you shard by
    (lang, file-group) to keep every core busy).  All-integer →
    bit-deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(tokens_col()).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = toks.withColumn("running", F.sum("n_tokens").over(w)).select(
        "lang",
        "n_tokens",
        F.expr(f"(running - n_tokens) div {PACK_BUDGET}").alias("batch_id"),
    )
    return assigned.groupBy("lang", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("batch_tokens"),
    )


#: tokens per retrieval/embedding chunk
CHUNK_TOKENS = 64

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks
)
SELECT doc_id,
       CAST((i - 1) // {CHUNK_TOKENS} AS BIGINT) AS chunk_id,
       COUNT(*) AS n_tokens,
       string_agg(tok, ' ' ORDER BY i) AS chunk_text
FROM pos
GROUP BY doc_id, (i - 1) // {CHUNK_TOKENS}
"""


@register("chunk_documents", _CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking for embedding / retrieval indexes —
    with ZERO shuffle.

    Chunking is a per-document operation, so the scale-correct plan
    never moves data: tokenize once, slice the token array into
    ``CHUNK_TOKENS``-sized windows with higher-order array functions
    (``sequence`` → ``slice``), and ``posexplode`` the chunk list —
    a pure map pipeline, no Exchange anywhere (the plan audit pins
    ``must_not=[Exchange]``).  The naive alternative (explode tokens →
    groupBy (doc, pos div k) → re-assemble) shuffles the entire corpus
    text through the cluster; this shape shuffles nothing, which is
    the difference between a free pass and a petabyte shuffle at
    100 TB.  The per-doc lambda state is one doc's tokens — bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens_col().alias("t")).filter(F.size("t") > 0)
    chunked = toked.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.expr(f"int((size(t) + {CHUNK_TOKENS - 1}) div {CHUNK_TOKENS}) - 1")),
                lambda i: F.slice(F.col("t"), i * CHUNK_TOKENS + 1, CHUNK_TOKENS),
            )
        ).alias("chunk_id", "chunk"),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size("chunk").cast("bigint").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


_MIXTURE_ORACLE = """
WITH c AS (
  SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
),
t AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS k FROM c
),
r AS (
  SELECT source, cnt,
         LEAST(1000, (SELECT total FROM t) * 1000 // ((SELECT k FROM t) * cnt))
           AS rate_permille
  FROM c
)
SELECT d.source,
       CAST(ANY_VALUE(r.cnt) AS BIGINT) AS n_docs,
       CAST(ANY_VALUE(r.rate_permille) AS BIGINT) AS rate_permille,
       CAST(COUNT(*) FILTER (WHERE (d.doc_id * 2654435761) % 1000 < r.rate_permille)
            AS BIGINT) AS n_kept
FROM documents d JOIN r USING (source)
GROUP BY d.source
"""


@register("mixture_resample_sources", _MIXTURE_ORACLE)
def mixture_resample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: deterministic per-source downsampling
    toward an equal-share target mixture.

    Pretraining corpora are blended to a target source mixture; this
    pass computes, per source, the keep-rate that moves the corpus
    toward equal shares (``rate = min(1, total / (k · count))`` in
    exact permille arithmetic — overrepresented sources are
    downsampled, underrepresented ones capped at keep-everything since
    sampling can't upsample), then applies it with the same Knuth
    multiplicative hash as :func:`stratified_sample_documents` so the
    sample is identical across engines, partitionings, and reruns.

    Two passes: a per-source count (map-side combined; output is
    source-cardinality-sized, i.e. tiny), then a re-scan applying the
    rate.  The 1-row corpus total rides an explicit broadcast; the
    per-source rate table is joined WITHOUT a hint — source
    cardinality is data-dependent, so stats/AQE pick the strategy.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("k"))
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "cnt",
        F.least(F.lit(1000).cast("bigint"), F.expr("total * 1000 div (k * cnt)")).alias(
            "rate_permille"
        ),
    )
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 1000
    return (
        docs.join(rates, "source")
        .groupBy("source")
        .agg(
            F.min("cnt").alias("n_docs"),
            F.min("rate_permille").alias("rate_permille"),
            F.sum(
                F.when(bucket < F.col("rate_permille"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_kept"),
        )
    )


#: PII scrub patterns — identical semantics in Java regex (Spark) and
#: RE2 (DuckDB): no backrefs, no lookaround.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"555-[0-9]{4}"

_PII_ORACLE = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || ' reach user' || doc_id || '@example.com or 555-' ||
           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS itext
  FROM documents
),
scrubbed AS (
  SELECT doc_id, itext,
         regexp_replace(regexp_replace(itext, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                        '{PII_PHONE_RE}', '[PHONE]', 'g') AS clean
  FROM injected
)
SELECT doc_id,
       CAST(len(regexp_extract_all(itext, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(itext, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone,
       CAST(length(clean) AS BIGINT) AS clean_len,
       CAST(len(regexp_extract_all(clean, '{PII_EMAIL_RE}'))
            + len(regexp_extract_all(clean, '{PII_PHONE_RE}')) AS BIGINT) AS n_residual
FROM scrubbed
"""


@register("pii_scrub_canaries", _PII_ORACLE)
def pii_scrub_canaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with canary validation: inject deterministic
    synthetic PII, scrub it, and verify nothing survives.

    The standard way to validate a redaction pass over a corpus that
    should contain no PII is to plant canaries: a deterministic subset
    (``doc_id % 7 == 0``) gets a synthetic email + phone appended, the
    scrubber runs over everything, and the output reports per-doc
    detection counts plus ``n_residual`` — matches remaining AFTER
    scrubbing, which must be zero or the scrubber leaks.  The patterns
    avoid every Java-vs-RE2 divergence (no backrefs/lookaround), so
    Spark and the DuckDB oracle agree byte-for-byte.

    Pure map pipeline: regex count + replace in one projection, zero
    shuffle, whole-stage codegen end to end — at 100 TB this runs at
    scan speed.
    """
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("itext"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("itext"), PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE,
        "[PHONE]",
    )
    scrubbed = injected.select("doc_id", "itext", clean.alias("clean"))
    return scrubbed.select(
        "doc_id",
        F.regexp_count("itext", F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_email"),
        F.regexp_count("itext", F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phone"),
        F.length("clean").cast("bigint").alias("clean_len"),
        (
            F.regexp_count("clean", F.lit(PII_EMAIL_RE))
            + F.regexp_count("clean", F.lit(PII_PHONE_RE))
        )
        .cast("bigint")
        .alias("n_residual"),
    )


#: training-order shards; at scale set to ~4× total cores so every
#: executor sorts a bounded slice (the shard count is the parallelism)
SHUFFLE_SHARDS = 8

_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         (doc_id * 2654435761) % 1000003 AS skey
  FROM documents
)
SELECT doc_id,
       CAST(skey % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY skey % {SHUFFLE_SHARDS} ORDER BY skey, doc_id
       ) AS BIGINT) AS pos
FROM keyed
"""


@register("shuffle_shard_order", _SHUFFLE_ORACLE)
def shuffle_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: shard + position.

    Trainers need the corpus in a pseudo-random but REPRODUCIBLE order.
    A seeded ``orderBy(rand())`` depends on partitioning; instead each
    doc gets a multiplicative-hash key (mod a prime so consecutive ids
    scatter), a shard (``key mod SHUFFLE_SHARDS``), and a dense
    in-shard position from a per-shard window — the same order on any
    engine, any partitioning, any rerun.  Ties (hash collisions) break
    on ``doc_id``, so the order is total.

    One shuffle on shard, then an in-partition sort of a 1/shards
    slice.  Shard count is the scaling knob: at 100 TB use ~4× cores
    so each sort is bounded; writing shard files in ``pos`` order then
    yields streaming-ready training data with no global sort anywhere.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "skey", (F.col("doc_id") * F.lit(2654435761)) % 1000003
    ).withColumn("shard", (F.col("skey") % SHUFFLE_SHARDS).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


#: vocabulary cap for token-id encoding (the corpus vocabulary is ~31
#: tokens at test SFs, so 16 exercises BOTH in-vocab and OOV paths)
VOCAB_SIZE = 16

_ENCODE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks
), counts AS (
  SELECT tok, COUNT(*) AS c FROM pos GROUP BY tok
), vocab AS (
  SELECT tok, CAST(rk - 1 AS INTEGER) AS id FROM (
    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM counts
  ) WHERE rk <= {VOCAB_SIZE}
)
SELECT p.doc_id,
       COUNT(*) AS n_tokens,
       string_agg(COALESCE(v.id, {VOCAB_SIZE})::VARCHAR, ',' ORDER BY p.i) AS ids_csv
FROM pos p
LEFT JOIN vocab v ON v.tok = p.tok
GROUP BY p.doc_id
"""


@register("encode_tokens_to_ids", _ENCODE_ORACLE)
def encode_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token→id encoding: frequency vocabulary + ordered id sequences.

    The step between cleaned text and a trainer: build a vocabulary of
    the top ``VOCAB_SIZE`` tokens (count DESC, token ASC — a total
    order), assign dense ids 0..V-1, map every token to its id (OOV →
    the reserved id V), and re-assemble each document's id sequence in
    token order.

    Scale notes: the vocabulary build is TakeOrdered (top-V by count,
    never a global sort) followed by a window over ≤V rows; the encode
    join is vocab⋈exploded-tokens left to stats (a 50k-row vocabulary
    broadcasts; AQE decides).  Sequence re-assembly sorts (position,
    id) structs inside each doc's aggregate — JVM-side, one shuffle on
    doc_id.

    The sequence is emitted as a comma-joined string (``ids_csv``) —
    byte-identical information to the raw ``array<int>`` but scalar, so
    every comparison harness (including pandas canonicalization, which
    cannot hash numpy arrays) can sort/hash it.  A trainer-facing
    variant would keep the array; the full sequence values are gated
    by the DuckDB oracle (ordered ``string_agg``) and re-derived
    from scratch in ``tests/test_hash_pipelines.py::
    test_encode_tokens_to_ids_pure_python_mirror``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs, parts=scan_partitions(spark, sf_dir, "documents")).select(
        "doc_id", F.posexplode(tokens_col()).alias("i", "tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = counts.orderBy(F.desc("c"), F.asc("tok")).limit(VOCAB_SIZE)
    vocab = top.select(
        "tok",
        (
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok"))) - 1
        ).cast("int").alias("id"),
    )
    encoded = toks.join(vocab, "tok", "left").select(
        "doc_id", "i", F.coalesce("id", F.lit(VOCAB_SIZE)).cast("int").alias("id")
    )
    return (
        encoded.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(i, id))),"
                " s -> cast(s.id as string)), ',')"
            ).alias("ids_csv"),
        )
    )


_SPLIT_ORACLE = """
SELECT
  CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
       WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
       ELSE 'test' END AS split,
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


@register("split_train_val_test", _SPLIT_ORACLE)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment report.

    Same multiplicative-hash determinism contract as
    ``stratified_sample_documents``: assignment is a pure function of
    doc_id — identical on every engine, partitioning, and rerun, and
    stable as the corpus grows (a document never changes split when
    new data arrives, unlike percentile-based cuts).  The report
    aggregates per (split, source) so leakage-relevant skew is
    visible.  Pure scan + one map-side-combined aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
    )


_CURATE_ORACLE = f"""
WITH survivors AS (
{_QFILTER_ORACLE}
), dd AS (
  SELECT s.doc_id, s.n_tokens, d.lang, md5(lower(trim(d.text))) AS h
  FROM survivors s JOIN documents d USING (doc_id)
), winners AS (
  SELECT h, MIN(doc_id) AS doc_id FROM dd GROUP BY h
), kept AS (
  SELECT dd.* FROM dd JOIN winners w ON dd.doc_id = w.doc_id AND dd.h = w.h
)
SELECT
  CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
       WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
       ELSE 'test' END AS split,
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept
GROUP BY 1, 2
"""


@register("pipeline_curate_report", _CURATE_ORACLE)
def pipeline_curate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: quality filter → dedup → split → report.

    A real curation run is these passes CHAINED, and the operators
    here compose as plain DataFrames: the quality survivors
    (:func:`docs_quality_filter`) are exact-deduped (min-doc_id winner
    per content hash, computed among survivors only), assigned their
    deterministic train/val/test split, and rolled up per (split,
    lang) with document and token totals — the manifest a training
    run starts from.  Every stage is individually gated elsewhere;
    this query gates their composition.

    Scale notes: the pipeline inherits each stage's posture — no
    stage adds a join wider than (survivors ⋈ documents) on doc_id,
    and the dedup winner index collapses before its join, so the
    chain's shuffle inventory is the sum of its parts, nothing
    multiplicative.
    """
    docs = load_table(spark, sf_dir, "documents")
    survivors = docs_quality_filter(spark, sf_dir).select("doc_id", "n_tokens")
    dd = survivors.join(docs, "doc_id").select(
        "doc_id",
        "n_tokens",
        "lang",
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
    )
    winners = dd.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    kept = dd.join(winners, ["h", "doc_id"])
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        kept.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# --- Gopher-style rule filter -----------------------------------------

#: rule thresholds (Rae et al. 2021, "Scaling Language Models: ...
#: Gopher", arXiv:2112.11446 §A1.1 — word-count band, mean-word-length
#: band, alphabetic-word floor, stopword-presence floor; bands adapted
#: to this corpus' 30–90-token documents)
GOPHER_MIN_WORDS = 20
GOPHER_MEAN_LEN_LO = 3.0
GOPHER_MEAN_LEN_HI = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_DISTINCT_STOP = 2

_GOPHER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
per AS (
  SELECT doc_id, unnest(t) AS tok FROM toks
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_words,
         CAST(SUM(length(tok)) AS DOUBLE) / COUNT(*) AS mean_word_len,
         CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS alpha_word_frac,
         CAST(COUNT(DISTINCT CASE WHEN tok IN {STOPWORDS!r} THEN tok END)
              AS INTEGER) AS n_distinct_stop
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, n_distinct_stop,
       (n_words >= {GOPHER_MIN_WORDS}
        AND mean_word_len BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI}
        AND alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}
        AND n_distinct_stop >= {GOPHER_MIN_DISTINCT_STOP}) AS passes
FROM agg
"""


@register("gopher_quality_rules", _GOPHER_ORACLE)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality signals (arXiv:2112.11446 §A1.1) per
    document, plus the composite pass/fail verdict.

    Complements :func:`docs_quality_filter` (token-FREQUENCY signals:
    repetition, stopword mass) with Gopher's SHAPE signals: word-count
    band, mean word length 3–10, ≥80% of words containing an
    alphabetic character, and ≥2 distinct stopwords present.  All four
    metrics come out of ONE exploded-token aggregate — map-side
    combined, zero joins — and every rule is a comparison of exact
    counts (the two ratios are single IEEE divisions of exact longs),
    so verdicts are bit-reproducible at any scale.  Emitting metrics +
    verdict rather than the filtered subset is deliberate: a 100 TB
    curation run wants the rejection REASONS distribution before
    committing to a filter.
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    per = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    agg = per.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        (F.sum(F.length("tok")).cast("double") / F.count("*")).alias("mean_word_len"),
        (
            F.sum(F.when(F.col("tok").rlike("[a-z]"), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("alpha_word_frac"),
        F.countDistinct(
            F.when(F.array_contains(stop_arr, F.col("tok")), F.col("tok"))
        )
        .cast("int")
        .alias("n_distinct_stop"),
    )
    return agg.select(
        "*",
        (
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & F.col("mean_word_len").between(GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI)
            & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC)
            & (F.col("n_distinct_stop") >= GOPHER_MIN_DISTINCT_STOP)
        ).alias("passes"),
    )


#: Fixed-point scale for the drift report's quantized log2: probability
#: ratios become ``count * 2**30 // total`` — exact BIGINT-safe
#: integers up to multi-billion-token source slices (past that, the
#: same expression moves to DECIMAL(38,0), the engine's stock recipe).
DRIFT_SCALE = 1 << 30

_DRIFT_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
per_src AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cs FROM toks GROUP BY source, tok
),
src_total AS (
  SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM per_src GROUP BY source
),
contrib AS (
  SELECT p.source, s.ns,
         p.cs * (length(bin(p.cs * {DRIFT_SCALE} // s.ns))
               - length(bin(v.c  * {DRIFT_SCALE} // (SELECT n FROM total)))) AS dbits
  FROM per_src p
  JOIN vocab v USING (tok)
  JOIN src_total s USING (source)
)
SELECT source,
       CAST(MAX(ns) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS src_vocab,
       CAST(SUM(dbits) AS BIGINT) AS drift_bits,
       CAST(SUM(dbits) AS DOUBLE) / MAX(ns) AS kl_bits_per_token
FROM contrib
GROUP BY source
"""


@register("source_drift_report", _DRIFT_ORACLE)
def source_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence to the corpus unigram mix, in bits.

    The mixture-monitoring pass of a curation pipeline: when one
    source's token distribution drifts from the blended corpus
    (scraper regression, injected spam, a language flip), its KL
    jumps.  ``KL(p_src || p_corpus) = E_src[log2(p_src/p_corpus)]``
    with every log2 quantized the engine's way — the bit length of the
    exact fixed-point integer ``count * 2**30 // total`` — so each
    source's ``drift_bits`` is an exact signed integer sum both
    engines reproduce bit-for-bit (the quantized estimate may dip
    slightly below KL's true nonnegative value; it is a monitoring
    report, not a probability).

    One corpus scan feeds two map-side-combined aggregates
    ((source, tok) and tok); the vocab join stays UNhinted — vocabulary
    scales with the corpus, exactly the frame the round-2 broadcast
    policy says AQE must be left to plan — and only the
    source-cardinality totals frame (20 rows here, |sources| always)
    broadcasts.  Output is |sources| rows; nothing corpus-sized moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens_col()).alias("tok"))

    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    per_src = toks.groupBy("source", "tok").agg(F.count("*").alias("cs"))
    src_total = per_src.groupBy("source").agg(F.sum("cs").alias("ns"))
    # one scalar: the corpus token total (exact bigint, inlined so the
    # oracle's (SELECT n FROM total) sees the identical literal) —
    # a corpus constant, keyed-cached per (session, file identity)
    # instead of an explode+aggregate driver job per query build
    n = corpus_cache(
        "pipeline.drift_total", spark, sf_dir,
        lambda: vocab.agg(F.sum("c")).first()[0],
    )

    contrib = (
        per_src.join(vocab, "tok")
        .join(F.broadcast(src_total), "source")
        .select(
            "source",
            "ns",
            (
                F.col("cs")
                * (
                    F.length(F.bin(F.expr(f"cs * {DRIFT_SCALE}L div ns")))
                    - F.length(F.bin(F.expr(f"c * {DRIFT_SCALE}L div {n}L")))
                )
            ).alias("dbits"),
        )
    )
    return contrib.groupBy("source").agg(
        F.max("ns").alias("n_tokens"),
        F.count("*").alias("src_vocab"),
        F.sum("dbits").alias("drift_bits"),
        (F.sum("dbits").cast("double") / F.max("ns")).alias("kl_bits_per_token"),
    )


_DUPNGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks)
  WHERE i + 2 <= len(t)
),
counts AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c, CAST(length(g) AS BIGINT) AS glen
  FROM grams GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) AS BIGINT) AS dup_char_mass,
       CAST(SUM(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) AS DOUBLE)
         / SUM(c * glen) AS dup_ngram_char_frac
FROM counts
GROUP BY doc_id
"""


@register("dup_ngram_char_fraction", _DUPNGRAM_ORACLE)
def dup_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-trigram character mass per document (Gopher rule).

    The published repetition heuristic that ``quality_repetition``'s
    top-gram shares don't capture: a document can avoid any single
    dominant n-gram yet still be MOSTLY repeated material (looped
    generations, stitched boilerplate).  This measures the fraction of
    trigram CHARACTER mass carried by trigrams occurring >= 2 times in
    the document; corpora drop docs past a threshold (Gopher used
    ~0.10-0.18 across gram sizes).

    Trigrams are built inside the token array (``transform`` with
    index, like the bigram LM) — no window, so the only shuffles are
    the two map-side-combined per-doc aggregates, each keyed by doc_id
    and bounded by document length.  Exact integer masses; the final
    fraction is the one IEEE division.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("toks")
    )
    trigrams = F.expr(
        "filter(transform(toks, (x, i) -> IF(i < size(toks) - 2,"
        " concat(x, ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3)),"
        " NULL)), g -> g IS NOT NULL)"
    )
    counts = (
        docs.select("doc_id", F.explode(trigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .select(
            "doc_id",
            "c",
            (F.col("c") * F.length("g")).alias("mass"),
            F.when(F.col("c") >= 2, F.col("c") * F.length("g"))
            .otherwise(F.lit(0))
            .alias("dup_mass"),
        )
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.sum("dup_mass").alias("dup_char_mass"),
        (F.sum("dup_mass").cast("double") / F.sum("mass")).alias(
            "dup_ngram_char_frac"
        ),
    )


#: DSIR hashed-feature space: unigrams hash into this many buckets.
#: Constant by construction — the model table the scorer joins is at
#: most DSIR_BUCKETS rows at ANY corpus size, which is what makes its
#: broadcast hint policy-safe (unlike a vocabulary join, which scales
#: with the corpus and stays AQE-planned).
DSIR_BUCKETS = 64

#: Fixed target slice for the importance weights: documents whose
#: ``lang`` matches are the "target domain" whose hashed unigram mix
#: raw documents are scored against.
DSIR_TARGET_LANG = "en"

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(tok), 1, 6))::BIGINT % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
    FROM documents
  )
),
model AS (
  SELECT b,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(COUNT(*) AS BIGINT) AS cr
  FROM toks GROUP BY b
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM model
),
scored AS (
  SELECT t.doc_id, t.lang,
         length(bin((m.ct + 1) * {DRIFT_SCALE} // ((SELECT tt FROM tot) + {DSIR_BUCKETS})))
       - length(bin((m.cr + 1) * {DRIFT_SCALE} // ((SELECT tr FROM tot) + {DSIR_BUCKETS}))) AS dbits
  FROM toks t JOIN model m USING (b)
)
SELECT doc_id, lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(dbits) AS BIGINT) AS dsir_bits,
       CAST(SUM(dbits) AS DOUBLE) / COUNT(*) AS bits_per_token,
       SUM(dbits) >= 0 AS selected
FROM scored
GROUP BY doc_id, lang
"""


def _dsir_hashed_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, b) — md5-bucketed tokens, cached per corpus: the
    DSIR scorer reads the frame three times per run (model build,
    totals scalar, scoring join), so it is tokenized+hashed ONCE."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.select("doc_id", "lang", F.explode(tokens_col()).alias("tok"))
            .select(
                "doc_id",
                "lang",
                (
                    F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("long")
                    % DSIR_BUCKETS
                ).alias("b"),
            )
        )

    return corpus_cache("pipeline.dsir_toks", spark, sf_dir, build)


@register("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169) over hashed unigram features.

    The published importance-resampling recipe for targeting a
    pretraining mixture at a domain: fit two bag-of-hashed-ngrams
    unigram models — target (here the ``DSIR_TARGET_LANG`` slice) and
    raw (the whole corpus) — and weight every document by
    ``log p_target(x) - log p_raw(x)`` summed over its features.
    Documents are then resampled by weight; this report emits the
    weight, plus the threshold verdict at 0 (more target-like than
    not), keeping the rejection-reasons shape of the other filters.

    Feature hashing is the scheme's scale device and the determinism
    device at once: md5 (the cross-engine hash) maps every token into
    ``DSIR_BUCKETS`` buckets, so the model is a CONSTANT-size table at
    any corpus size — safe to broadcast-hint, unlike a vocabulary
    join — and both engines integer-hash identically via the hex
    prefix.  Each log2 is quantized as the engine's stock fixed-point
    bit length (the ``source_drift_report`` device), so the per-token
    contribution is an exact signed integer and the per-doc sum is
    bit-reproducible at any scale.  One corpus scan, one constant
    broadcast join, one map-side-combined per-doc aggregate; the two
    denominator scalars inline as literals (``.first()``) exactly like
    the drift report's corpus total.  100 TB: nothing corpus-sized
    moves except the exploded-token shuffle every text aggregate pays.
    """
    def model() -> DataFrame:
        return _dsir_hashed_toks(spark, sf_dir).groupBy("b").agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("ct"),
            F.count("*").alias("cr"),
        )

    # the two denominator scalars are corpus constants (target-token
    # and corpus-token totals): keyed-cached per (session, corpus file
    # identity) like every planning scalar, instead of a ~0.2 s
    # .first() driver job on every query build
    def _totals():
        trow = model().agg(
            F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
        ).first()
        return int(trow["tt"]), int(trow["tr"])

    tt, tr = corpus_cache("pipeline.dsir_totals", spark, sf_dir, _totals)

    toks = _dsir_hashed_toks(spark, sf_dir)
    scored = toks.join(F.broadcast(model()), "b").select(
        "doc_id",
        "lang",
        (
            F.length(
                F.bin(F.expr(f"(ct + 1) * {DRIFT_SCALE}L div {tt + DSIR_BUCKETS}L"))
            )
            - F.length(
                F.bin(F.expr(f"(cr + 1) * {DRIFT_SCALE}L div {tr + DSIR_BUCKETS}L"))
            )
        ).alias("dbits"),
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum("dbits").alias("dsir_bits"),
        (F.sum("dbits").cast("double") / F.count("*")).alias("bits_per_token"),
        (F.sum("dbits") >= 0).alias("selected"),
    )


#: Temperature-mixture fixed-point scale and the sampling budget the
#: quota column is denominated in.
MIX_SCALE = 1 << 30
MIX_BUDGET = 100_000

_TEMPERATURE_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
mass AS (
  SELECT source, n_docs, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sqrt_mass
  FROM per_src
),
tot AS (
  SELECT CAST(SUM(sqrt_mass) AS BIGINT) AS smass,
         CAST(SUM(n_tokens) AS BIGINT) AS ntot
  FROM mass
)
SELECT source, n_docs, n_tokens, sqrt_mass,
       sqrt_mass * {MIX_SCALE} // (SELECT smass FROM tot) AS weight_fp,
       n_tokens * {MIX_SCALE} // (SELECT ntot FROM tot) AS natural_fp,
       CAST(sqrt_mass * {MIX_SCALE} // (SELECT smass FROM tot) AS DOUBLE)
         / (n_tokens * {MIX_SCALE} // (SELECT ntot FROM tot)) AS upsample_ratio,
       sqrt_mass * {MIX_BUDGET} // (SELECT smass FROM tot) AS sample_quota
FROM mass
"""


@register("mixture_temperature_weights", _TEMPERATURE_ORACLE)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (α = 1/2), the
    multilingual-corpus mixture recipe (mBERT / XLM-R exponential
    smoothing: sample source i with probability ∝ nᵢ^α).

    ``mixture_resample_sources`` consumes fixed per-source rates; this
    operator is where those rates come from — α-tempered token-mass
    shares that upsample small sources and damp dominant ones.  α=1/2
    is computed EXACTLY: ``floor(sqrt(n))`` on an exact token count is
    the integer square root in both engines (n ≪ 2⁵³, sqrt correctly
    rounded, so floor cannot cross an integer boundary), and every
    share is fixed-point integer division — the weight table
    hash-gates value-for-value.  ``upsample_ratio`` (tempered vs
    natural share) is the one IEEE division per row.

    One corpus scan into a |sources|-row aggregate (token counts come
    from ``size(tokens)`` — a projection, no explode), then scalar
    totals over the tiny frame.  At 100 TB the per-source aggregate is
    the only shuffle and its output is |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens_col())).alias("n_tokens"),
    )
    mass = per_src.select(
        "*",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long").alias(
            "sqrt_mass"
        ),
    )
    # corpus constants (α-mass and token totals): keyed-cached per
    # (session, corpus file identity) instead of a .first() driver job
    # re-running the per-source aggregate on every query build
    def _mix_totals():
        trow = mass.agg(
            F.sum("sqrt_mass").alias("smass"), F.sum("n_tokens").alias("ntot")
        ).first()
        return int(trow["smass"]), int(trow["ntot"])

    smass, ntot = corpus_cache("pipeline.mix_totals", spark, sf_dir, _mix_totals)
    return mass.select(
        "source",
        "n_docs",
        "n_tokens",
        "sqrt_mass",
        F.expr(f"sqrt_mass * {MIX_SCALE}L div {smass}L").alias("weight_fp"),
        F.expr(f"n_tokens * {MIX_SCALE}L div {ntot}L").alias("natural_fp"),
        F.expr(
            f"CAST(sqrt_mass * {MIX_SCALE}L div {smass}L AS DOUBLE)"
            f" / (n_tokens * {MIX_SCALE}L div {ntot}L)"
        ).alias("upsample_ratio"),
        F.expr(f"sqrt_mass * {MIX_BUDGET}L div {smass}L").alias("sample_quota"),
    )


#: Fixed-point scale for the shard-load and OOV shares (exact integer
#: division — same device as the mixture weights).
BALANCE_SCALE = 1 << 20


#: UniMax epoch cap: at most this many passes over any language (the
#: paper's headline "UniMax-1" no-repetition setting), and the training
#: budget as a fraction of corpus tokens (4/5 — small languages then
#: fit fully under the cap while the largest is budget-truncated, so
#: BOTH allocation regimes are exercised at every SF).
UNIMAX_EPOCH_CAP = 1
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 4, 5

_UNIMAX_SQL = """
WITH w AS (
  SELECT lang, n_docs, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS size_rank,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, lang
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS ntot,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM {src}
), f AS (
  SELECT *, (ntot * {bn}) {div} {bd} AS budget,
         CASE WHEN {cap} * n_tokens * (m - size_rank + 1)
                   + {cap} * (pfx - n_tokens)
                   <= (ntot * {bn}) {div} {bd}
              THEN size_rank END AS c_rnk,
         CASE WHEN {cap} * n_tokens * (m - size_rank + 1)
                   + {cap} * (pfx - n_tokens)
                   <= (ntot * {bn}) {div} {bd}
              THEN pfx END AS c_pfx
  FROM w
), t AS (
  SELECT *, COALESCE(MAX(c_rnk) OVER (), 0) AS t_rnk,
            COALESCE(MAX(c_pfx) OVER (), 0) AS t_pfx
  FROM f
), a AS (
  SELECT *, CASE WHEN size_rank <= t_rnk THEN {cap} * n_tokens
                 ELSE (budget - {cap} * t_pfx) {div} (m - t_rnk)
            END AS alloc_tokens
  FROM t
)
SELECT lang, n_docs, n_tokens, size_rank,
       size_rank <= t_rnk AS epoch_capped,
       alloc_tokens,
       CASE WHEN n_tokens > 0
            THEN alloc_tokens * {scale} {div} n_tokens END AS epochs_fp,
       alloc_tokens * {scale} {div} budget AS weight_fp
FROM a
"""

_UNIMAX_ORACLE = _UNIMAX_SQL.format(
    src="""(
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang)""",
    div="//",
    cap=UNIMAX_EPOCH_CAP,
    bn=UNIMAX_BUDGET_NUM,
    bd=UNIMAX_BUDGET_DEN,
    scale=BALANCE_SCALE,
)


@register("unimax_language_budgets", _UNIMAX_ORACLE)
def unimax_language_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, ICLR — the mT5/
    umT5 corpus mixture): allocate a token budget across languages so
    no language repeats more than ``UNIMAX_EPOCH_CAP`` epochs, the
    leftover budget waterfilling equally over the languages the cap
    does not bind.  Completes the selection/mixture family: temperature
    weights rebalance by mass^α, DSIR by target similarity, DoReMi by
    excess loss — UniMax by an explicit repetition bound, the recipe
    that replaced temperature sampling for mT5-class multilingual
    pretraining.

    The sequential waterfilling has a closed form: process languages
    ASCENDING by size; language i is capped iff
    ``C·nᵢ·(m−i+1) + C·prefixᵢ₋₁ ≤ B`` (its capped allocation fits
    under the running fair share).  That flag is monotone in i — the
    difference between consecutive left sides is ``C·(m−i)·(nᵢ₊₁−nᵢ)
    ≥ 0`` — so a max-flagged-rank threshold t recovers the full
    schedule: rank ≤ t takes ``C·nᵢ`` exactly, everyone else splits
    ``B − C·prefix_t`` evenly by integer division.  Every column is
    exact-integer (the budget is ``4/5`` of corpus tokens by integer
    arithmetic; epochs/weight are fixed-point divisions, zero-token
    languages NULL-guarded on both engines), so the table hash-gates
    value-for-value.

    One corpus scan into a |langs|-row aggregate; everything after
    rides unpartitioned windows over that BOUNDED frame (the audited
    bounded-frame device — agg:lang under every window).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col())).alias("n_tokens"),
    )
    return spark.sql(
        _UNIMAX_SQL.format(
            src="{per_lang}",
            div="div",
            cap=UNIMAX_EPOCH_CAP,
            bn=UNIMAX_BUDGET_NUM,
            bd=UNIMAX_BUDGET_DEN,
            scale=BALANCE_SCALE,
        ),
        per_lang=per_lang,
    )



_SHARD_BALANCE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(((CAST(doc_id AS HUGEINT) * 2654435761) % 1000003) % {SHUFFLE_SHARDS}
              AS BIGINT) AS shard,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))
              AS BIGINT) AS n_tok
  FROM documents
),
per AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM keyed GROUP BY shard
)
SELECT shard, n_docs, n_tokens,
       CAST(n_tokens * {SHUFFLE_SHARDS} * {BALANCE_SCALE} // SUM(n_tokens) OVER ()
            AS BIGINT) AS load_fp
FROM per
"""


@register("shard_balance_report", _SHARD_BALANCE_ORACLE)
def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass balance of the deterministic training shards.

    The evaluation tier for ``shuffle_shard_order``: a trainer reading
    one shard per worker is gated by the HEAVIEST shard, so the thing
    to monitor is token mass per shard, not document count.
    ``load_fp`` is each shard's mass relative to perfect balance
    (``BALANCE_SCALE`` ≡ 1.0) as an exact fixed-point integer — the
    multiplicative-hash sharding should hold every shard within a few
    percent of 1.0 at any corpus size, and a drifting ``load_fp`` is
    the signal to re-key.

    One corpus scan (token counts are a ``size(tokens)`` projection —
    no explode), one |shards|-row aggregate, and a global window over
    that constant-size frame for the total.  100 TB: the per-shard
    aggregate is the only shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the multiplicative hash is computed in DECIMAL(38,0) (oracle:
    # HUGEINT): doc_id * 2654435761 passes 2^63 at doc_id ≈ 3.47e9 —
    # plausible at the 100 TB posture — where non-ANSI BIGINT would
    # wrap silently on Spark while DuckDB promotes; the widened type
    # keeps both engines on the same exact integer at any doc_id
    keyed = docs.select(
        F.expr(
            "CAST(CAST(doc_id AS DECIMAL(38,0)) * 2654435761 % 1000003"
            f" % {SHUFFLE_SHARDS} AS BIGINT)"
        ).alias("shard"),
        F.size(tokens_col()).cast("long").alias("n_tok"),
    )
    per = keyed.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr(
            f"n_tokens * {SHUFFLE_SHARDS}L * {BALANCE_SCALE}L div sum(n_tokens) over ()"
        ).alias("load_fp"),
    )


_OOV_DRIFT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
tg AS (
  SELECT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks)
),
cv AS (SELECT DISTINCT g FROM tg WHERE doc_id % 7 <> 0),
batch AS (SELECT source, g FROM tg WHERE doc_id % 7 = 0)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_batch_grams,
       CAST(SUM(CASE WHEN v.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_grams,
       CAST(COUNT(DISTINCT CASE WHEN v.g IS NULL THEN b.g END) AS BIGINT) AS n_new_types,
       CAST(SUM(CASE WHEN v.g IS NULL THEN 1 ELSE 0 END) * {BALANCE_SCALE} // COUNT(*)
            AS BIGINT) AS oov_fp
FROM batch b LEFT JOIN cv v USING (g)
GROUP BY b.source
"""


@register("incremental_oov_report", _OOV_DRIFT_ORACLE)
def incremental_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty monitor for incremental ingest: per-source trigram
    out-of-vocabulary mass of a new batch against the accepted corpus.

    The drift gauge a continuous-ingest pipeline runs beside the
    incremental dedup passes.  The deterministic batch split is
    ``doc_id % 7`` — coprime with the fixture's 20-source id cycle,
    unlike the dedup family's ``% 10`` split, which aliases onto two
    sources and would leave 18 report rows empty.  What the gauge
    reads: a batch whose n-gram contexts are mostly ALREADY in the
    corpus adds little (re-crawls, mirrors); one with a spiking
    OOV share signals topic/domain drift — or junk — before any
    model ever trains on it.  Trigram contexts (not unigrams) because
    a saturated unigram vocabulary stops moving long before the
    context distribution does — same reason the LM smooths bigrams.

    All counts are exact integers and ``oov_fp`` an exact fixed-point
    share.  Plan: corpus trigrams collapse to a DISTINCT type set
    (grows with the n-gram vocabulary, not corpus rows) before the
    join — the aggregate-below-join rewrite — and the batch side
    carries only the 10% slice; in-array trigram build, no window.
    100 TB: one distinct-aggregate shuffle + one vocabulary-keyed
    join, both word-count-class.
    """
    docs = load_table(spark, sf_dir, "documents")
    tg = docs.select(
        "doc_id", "source", tokens_col().alias("toks")
    ).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "filter(transform(toks, (x, i) -> IF(i < size(toks) - 2,"
                " concat(x, ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3)),"
                " NULL)), g -> g IS NOT NULL)"
            )
        ).alias("g"),
    )
    is_batch = F.col("doc_id") % 7 == 0
    cv = tg.filter(~is_batch).select("g").distinct().withColumn("seen", F.lit(1))
    batch = tg.filter(is_batch).select("source", "g")
    joined = batch.join(cv, "g", "left")
    novel = F.when(F.col("seen").isNull(), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count("*").alias("n_batch_grams"),
        F.sum(novel).alias("n_oov_grams"),
        F.countDistinct(F.when(F.col("seen").isNull(), F.col("g"))).alias(
            "n_new_types"
        ),
        F.expr(
            f"sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) * {BALANCE_SCALE}L div count(*)"
        ).alias("oov_fp"),
    )


def _quality_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCACHED builder for :func:`quality_fp_frame` (audited as the
    ``quality_fp_builder`` pseudo-entry in tools/explain_audit.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", tokens_col().alias("toks"))
    # isin compiles to an InSet hash probe per token; array_contains
    # against the literal array is a linear scan
    q = toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("nt"),
        F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS)))
        .cast("long")
        .alias("ns"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
    )
    # dup flag from ONE window count over the hash — same values as the
    # old groupBy(h)+join (counted over ALL docs, before the nt filter)
    # for one corpus scan and one h-shuffle instead of two and a join
    return (
        q.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("nt") > 0)
        .select(
            "doc_id",
            F.col("nt").alias("n_tokens"),
            F.expr(
                f"least(nt, 100L) * (nt + ns) * {BALANCE_SCALE}L div (200L * nt)"
            ).alias("q_fp"),
            (F.col("c") > 1).cast("int").alias("is_dup"),
        )
    )


def quality_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, q_fp, is_dup) — THE pipeline's exact
    fixed-point quality score (``least(nt,100)·(nt+ns)·2^20 div
    (200·nt)``, zero-token docs dropped) plus the exact-duplicate flag
    (text-hash multiplicity counted over ALL docs, pre-filter).

    Shared keyed cache (the LM-frame pattern): the ablation curve,
    dedup survivor selection, and any future quality consumer ride ONE
    tokenize + stopword + dup-hash scan per (session, corpus identity)
    instead of re-scoring the corpus per query.
    """
    return corpus_cache(
        "pipeline.quality_fp", spark, sf_dir, lambda: _quality_fp(spark, sf_dir)
    )


def _ablation_oracle() -> str:
    """Oracle SQL assembled at import (embeds the LM oracle text)."""
    from mr_python_spark.functions.lm import _LM_ORACLE

    return f"""
WITH lm AS ({_LM_ORACLE}),
q AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS BIGINT) AS n_stop,
         md5(lower(trim(text))) AS h
  FROM (
    SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
  WHERE len(toks) > 0
),
dupg AS (
  SELECT md5(lower(trim(text))) AS h, COUNT(*) AS c FROM documents GROUP BY 1
),
keyed AS (
  SELECT q.doc_id, q.n_tokens,
         least(q.n_tokens, 100) * (q.n_tokens + q.n_stop) * {BALANCE_SCALE}
           // (200 * q.n_tokens) AS q_fp,
         CASE WHEN d.c > 1 THEN 1 ELSE 0 END AS is_dup
  FROM q JOIN dupg d ON q.h = d.h
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY q_fp DESC, doc_id) AS rnk,
         COUNT(*) OVER () AS n_total
  FROM keyed
),
dec AS (
  SELECT CAST((rnk - 1) * 10 // n_total + 1 AS BIGINT) AS decile,
         doc_id, n_tokens, is_dup
  FROM ranked
)
SELECT d.decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(d.is_dup) AS BIGINT) AS n_dup_docs,
       CAST(SUM(d.is_dup) * {BALANCE_SCALE} // COUNT(*) AS BIGINT) AS dup_fp,
       CAST(SUM(coalesce(lm.surprisal_bits, 0)) * {BALANCE_SCALE}
            // NULLIF(SUM(coalesce(lm.n_bigrams, 0)), 0) AS BIGINT) AS bpp_fp
FROM dec d LEFT JOIN lm ON d.doc_id = lm.doc_id
GROUP BY d.decile
"""


def quality_ablation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation curve: per quality decile, the duplicate
    mass and LM perplexity the filter would keep — the bookkeeping
    behind published threshold choices (FineWeb / Gopher / CCNet run
    exactly this table before fixing any cutoff).

    Reading the curve: decile 1 is the highest-quality tenth; if
    ``dup_fp`` and ``bpp_fp`` don't improve monotonically toward it,
    the quality heuristic is not separating what the pipeline hopes it
    separates — measured evidence, not a vibe, for where to cut.

    Determinism: the decile key is the exact fixed-point quality score
    ``least(nt,100)·(nt+ns)·2^20 div (200·nt)`` (the quality_score
    formula cleared of its two divisions), ranked with a doc_id
    tie-break, and ``decile = (rank−1)·10 div n + 1`` — every emitted
    column is an exact integer (the two ``_fp`` shares are single
    integer divisions).

    Scale: NO single-partition NTILE.  The global rank is computed the
    distributed way — the per-key ``row_number`` tie order first (ONE
    q_fp shuffle; the per-key counts then reuse that partitioning with
    no new exchange), a running-offset window over the distinct-key
    frame (BOUNDED: the key space is ≤ 2^20+1 values by construction,
    so that window is constant-size at any corpus and its frame is
    BROADCAST back) — then deciles are arithmetic on the rank.  The
    duplicate flag is one window count over the text hash (one corpus
    scan, one h-shuffle — round 11 replaced the second scan + groupBy
    + join that used to compute it).  The LM frame comes from the
    shared keyed cache (one corpus scan amortized across the LM
    family) and joins on doc_id.
    """
    from mr_python_spark.functions.lm import bigram_lm_perplexity

    keyed = quality_fp_frame(spark, sf_dir)
    # distributed exact rank over (q_fp DESC, doc_id): the per-key tie
    # order FIRST (one q_fp shuffle), then per-key counts piggyback on
    # that partitioning (no new exchange), running offsets over the
    # BOUNDED distinct-key frame (≤ 2^20+1 values by construction), and
    # the offsets frame BROADCAST back — rank = off + row_number
    tie_w = Window.partitionBy("q_fp").orderBy("doc_id")
    numbered = keyed.withColumn("rn", F.row_number().over(tie_w))
    counts = numbered.groupBy("q_fp").agg(F.max("rn").alias("n_k"))
    off_w = (
        Window.orderBy(F.desc("q_fp"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # n_total rides the same bounded-frame WindowExec as the running
    # offset (an unbounded-frame sum over the identical ordering) —
    # no separate keyed.count() driver action / extra corpus job
    tot_w = Window.orderBy(F.desc("q_fp")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "q_fp",
        F.coalesce(F.sum("n_k").over(off_w), F.lit(0)).alias("off"),
        F.sum("n_k").over(tot_w).alias("n_tot"),
    )
    ranked = (
        numbered.join(F.broadcast(offsets), "q_fp")
        .select(
            F.expr("(off + rn - 1L) * 10L div n_tot + 1L").alias("decile"),
            "doc_id",
            "n_tokens",
            "is_dup",
        )
    )
    lm = bigram_lm_perplexity(spark, sf_dir).select(
        "doc_id", "n_bigrams", "surprisal_bits"
    )
    joined = ranked.join(lm, "doc_id", "left")
    return joined.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("is_dup").cast("long").alias("n_dup_docs"),
        F.expr(f"sum(is_dup) * {BALANCE_SCALE}L div count(*)").alias("dup_fp"),
        F.expr(
            f"sum(coalesce(surprisal_bits, 0L)) * {BALANCE_SCALE}L"
            " div nullif(sum(coalesce(n_bigrams, 0L)), 0L)"
        ).alias("bpp_fp"),
    )


register("quality_ablation_curve", _ablation_oracle())(quality_ablation_curve)


# dedup_cluster_survivors' oracle composes the recursive-CTE cluster
# closure with THIS module's quality-score formula (BALANCE_SCALE),
# so it is installed here — after the constant exists — instead of at
# dedup import time (which would interleave module registrations)
from mr_python_spark.dedup import _survivors_oracle as _dedup_survivors_oracle  # noqa: E402
from mr_python_spark.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["dedup_cluster_survivors"] = _dedup_survivors_oracle()


# --- word2vec-style negative-sampling table -----------------------------

#: table geometry: unigram^0.75 flattening (Mikolov et al. 2013), the
#: vocabulary capped to the top rows by frequency, min count 5
_NEG_TABLE_CAP = 1024
_NEG_MIN_COUNT = 5

_NEG_TABLE_ORACLE = f"""
WITH u AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
    FROM documents
  )
  WHERE word <> '' GROUP BY word HAVING COUNT(*) >= {_NEG_MIN_COUNT}
), w AS (
  SELECT word, c,
         CAST(FLOOR(CAST(c AS DOUBLE)
              / SQRT(SQRT(CAST(c AS DOUBLE))) * 1000) AS BIGINT) AS weight_fp
  FROM u ORDER BY c DESC, word LIMIT {_NEG_TABLE_CAP}
), tot AS (
  SELECT CAST(SUM(weight_fp) AS BIGINT) AS t FROM w
)
SELECT word, c, weight_fp,
       weight_fp * 1000000 // (SELECT t FROM tot) AS prob_ppm,
       CAST(SUM(weight_fp) OVER (
         ORDER BY c DESC, word ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cum_end
FROM w
"""


@register("negative_sampling_table", _NEG_TABLE_ORACLE)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table: unigram counts flattened by
    the ^0.75 power law (Mikolov et al. 2013) into an inverse-CDF
    sampling table — ``cum_end`` ranges let a trainer draw negatives
    with one integer uniform and one binary search.

    The ^0.75 is computed WITHOUT ``pow``: ``c^{3/4} = c /
    sqrt(sqrt(c))``, and IEEE sqrt and division are CORRECTLY ROUNDED
    operations — the same input bits give the same output bits on
    every engine (the mixture_temperature exact-isqrt precedent,
    extended).  ``pow``/``exp``/``log`` carry no such guarantee, which
    is exactly why the formula is spelled this way.  Scaled, floored,
    then everything downstream is exact integers.

    Scale: one word-count aggregate (partial+final), a top-K
    TakeOrderedAndProject to the capped vocabulary, and the
    cumulative window rides the LIMIT-bounded frame — never corpus
    rows.  The total is a bounded (≤ cap rows) driver scalar.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        docs.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _NEG_MIN_COUNT)
    )
    w = (
        u.select(
            "word",
            "c",
            F.floor(
                F.col("c").cast("double")
                / F.sqrt(F.sqrt(F.col("c").cast("double")))
                * 1000
            )
            .cast("long")
            .alias("weight_fp"),
        )
        .orderBy(F.desc("c"), "word")
        .limit(_NEG_TABLE_CAP)
    )
    # both the total and the cumulative ride windows over the SAME
    # LIMIT-bounded frame — no second driver job re-running the corpus
    # aggregate, and an empty capped vocabulary yields an empty table
    # instead of a None-total crash
    win = Window.orderBy(F.desc("c"), "word").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    win_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return w.select(
        "word",
        "c",
        "weight_fp",
        F.expr("weight_fp * 1000000L").alias("num"),
        F.sum("weight_fp").over(win_tot).alias("total"),
        F.sum("weight_fp").over(win).cast("long").alias("cum_end"),
    ).select(
        "word",
        "c",
        "weight_fp",
        F.expr("num div total").alias("prob_ppm"),
        "cum_end",
    )
