"""Text analysis: tokenization, word count, stats, quality scoring.

Word count is the reference's iconic query (docs.rst:27-34,137-159);
here it is ``split → explode → groupBy().count()`` — partial+final
hash aggregation gives the in-mapper-combining optimization
(docs.rst:199-276) for free.  The rest is the LLM-pipeline text
toolkit: per-document stats, regex token counting, stopword-based
quality scores — all JVM-side (split/filter/size/higher-order
functions), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache, load_table, scan_partitions, spread

#: tiny English stopword list used by quality scoring (deterministic)
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "be")


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization with empty-token removal (JVM-side)."""
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")


_WC_ORACLE = """
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
)
WHERE word <> ''
GROUP BY word
"""


@register("word_count", _WC_ORACLE)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: corpus-wide word frequencies."""
    # no spread(): measured slower here — shuffling raw text costs more
    # than the single-core explode saves; the partial-agg after explode
    # parallelizes the heavy part anyway
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_TOPK_ORACLE = """
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
)
WHERE word <> ''
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 10
"""


@register("word_topk", _TOPK_ORACLE)
def word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 words — the ``Counter.most_common(k)`` analog
    (docs.rst:57-58) as TakeOrderedAndProject."""
    return (
        word_count(spark, sf_dir)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(10)
    )


_WC_PER_DOC_ORACLE = """
SELECT doc_id, lang,
       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS INTEGER) AS n_tokens
FROM documents
"""


@register("word_count_per_doc", _WC_PER_DOC_ORACLE)
def word_count_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (no explode: size() on the array)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", F.size(tokens_col()).alias("n_tokens"))


_STATS_ORACLE = """
SELECT
  doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))) AS INTEGER) AS n_unique_tokens,
  CAST(length(replace(text, ' ', '')) AS DOUBLE)
    / len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS avg_token_len
FROM documents
"""


@register("text_stats", _STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: chars, tokens, unique tokens, avg token length.

    Tokenizes ONCE into a materialized column and derives every stat
    from it — higher-order expressions are interpreted (no codegen, no
    common-subexpression elimination), so repeating ``tokens_col()``
    per output column re-tokenizes per column (~3× the string work).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", tokens_col().alias("toks"))
    return toked.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique_tokens"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size("toks")
        ).alias("avg_token_len"),
    )


_TOKREGEX_ORACLE = """
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS n_alpha_tokens,
  CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS n_num_tokens
FROM documents
GROUP BY lang
"""


@register("token_count_regex", _TOKREGEX_ORACLE)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish pre-tokenizer) token counting per language."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)).alias("alpha"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias("num"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("alpha").alias("n_alpha_tokens"),
            F.sum("num").alias("n_num_tokens"),
        )
    )


_QUALITY_ORACLE = f"""
SELECT
  doc_id,
  n_tokens,
  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
  CAST(least(n_tokens, 100) AS DOUBLE) / 100.0
    * (0.5 + 0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)) AS quality_score
FROM (
  SELECT
    doc_id,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    CAST(len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS INTEGER) AS n_stop
  FROM (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
)
WHERE n_tokens > 0
"""


@register("quality_score", _QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation × stopword ratio.

    The kind of cheap, fully-vectorized filter a 100 TB pretraining
    pipeline runs before anything expensive.
    """
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once (CollapseProject keeps multi-use non-cheap aliases
    # in their own projection, so `toks` is evaluated a single time)
    toked = docs.select("doc_id", tokens_col().alias("toks"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = n_stop.cast("double") / n_tokens
    score = (F.least(n_tokens, F.lit(100)).cast("double") / 100.0) * (
        0.5 + 0.5 * stop_ratio
    )
    return (
        toked.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            stop_ratio.alias("stopword_ratio"),
            score.alias("quality_score"),
        )
        .filter(F.col("n_tokens") > 0)
    )


_LANGDIST_ORACLE = """
SELECT
  lang,
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
"""


@register("lang_source_distribution", _LANGDIST_ORACLE)
def lang_source_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by (lang, source) — pipeline bookkeeping."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


#: per-language stopword profiles for the heuristic classifier
LANG_PROFILES = {
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une", "pas"),
    "es": ("el", "los", "y", "es", "una", "que", "no"),
}

_LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT
    lang,
    CAST(len(list_filter(toks, t -> t IN {LANG_PROFILES['en']!r})) AS INTEGER) AS s_en,
    CAST(len(list_filter(toks, t -> t IN {LANG_PROFILES['de']!r})) AS INTEGER) AS s_de,
    CAST(len(list_filter(toks, t -> t IN {LANG_PROFILES['fr']!r})) AS INTEGER) AS s_fr,
    CAST(len(list_filter(toks, t -> t IN {LANG_PROFILES['es']!r})) AS INTEGER) AS s_es
  FROM (
    SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
), pred AS (
  SELECT
    lang,
    CASE
      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      WHEN s_fr >= s_es THEN 'fr'
      ELSE 'es'
    END AS pred_lang
  FROM scored
)
SELECT lang, pred_lang, COUNT(*) AS n_docs
FROM pred
GROUP BY lang, pred_lang
"""


@register("lang_id_stopword", _LANG_ID_ORACLE)
def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-profile scoring, fully JVM-side.

    Each document is scored against four per-language stopword sets
    (higher-order ``filter`` over the token array — no shuffle, no
    Python); prediction is a fixed-priority argmax so ties are
    deterministic.  Output is the (actual, predicted) confusion
    table.  At 100 TB this is one narrow pass — the shape every
    cheap classify-then-filter pretraining step takes.  (The
    synthetic corpus's text is language-agnostic, so accuracy is
    meaningless here; the operator and its determinism are the
    product.)
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    def profile_hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {lang: profile_hits(words) for lang, words in LANG_PROFILES.items()}
    scored = docs.select(
        "lang",
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        scores["es"].alias("s_es"),
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            F.lit("en"),
        )
        .when(
            (F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")),
            F.lit("de"),
        )
        .when(F.col("s_fr") >= F.col("s_es"), F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return (
        scored.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register("doc_fingerprint")  # driver-tier rows-only; udf-oracle in tools/udf_oracles.py
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 64-bit document fingerprint (rolling token hash).

    xxhash64 over the normalized token stream — a cheap stand-in for
    winnowing/rolling fingerprints used in near-dup candidate keying.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.xxhash64(F.concat_ws(" ", tokens_col())).alias("fingerprint"),
    )


_POSEXPLODE_ORACLE = """
SELECT
  doc_id,
  CAST(generate_subscripts(t, 1) - 1 AS INTEGER) AS pos,
  unnest(t) AS token
FROM (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents WHERE doc_id < 20
)
"""


@register("token_positions", _POSEXPLODE_ORACLE)
def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: tokens with ordinal positions (the lateral-view shape).

    Position-aware explosion is what n-gram windows, alignment, and
    span labeling build on; ``posexplode`` keeps the ordinal without a
    window function or a join back.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "token")
    )


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT
    tf.doc_id,
    tf.term,
    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, rank FROM (
  SELECT doc_id, term,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
WHERE rank <= 3
"""


@register("tfidf_top_terms", _TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by tf·(N/df).

    The inverse-document-frequency weight is the raw ratio N/df (a
    monotone transform of the classic log idf — same ranking per
    (tf, df), but one exact IEEE multiply+divide instead of an
    engine-specific ``ln``, so ranks are bit-comparable across
    engines).  Shape at scale: tokenize once, tf = one hash-aggregate
    on (doc, term), df = one on term; the df side is far smaller than
    the tf side, so the term-keyed join broadcasts-or-shuffles by
    stats; top-3 is one window over the doc partition.  Ties at equal
    score break on the term string for a total order.
    """
    from pyspark.sql import Window

    docs = spread(
        load_table(spark, sf_dir, "documents"),
        parts=scan_partitions(spark, sf_dir, "documents"),
    )
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.col("n_docs").cast("double")
                / F.col("df").cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank")
    )


_NORMALIZE_ORACLE = """
SELECT
  doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
FROM documents
"""


@register("text_normalize", _NORMALIZE_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup: lowercase, strip punctuation, collapse runs.

    The first transform of every training pipeline (and the input to
    exact dedup's content hash).  Pure JVM regexp — one projection,
    no shuffle; the character-class patterns used are identical in
    Java and RE2-style engines so the oracle matches byte-for-byte.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select("doc_id", norm.alias("norm_text"))


_BIGRAM_FLUENCY_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
),
df AS (
  SELECT bigram, COUNT(DISTINCT doc_id) AS ndocs FROM bg GROUP BY bigram
)
SELECT
  bg.doc_id,
  COUNT(*) AS n_bigrams,
  CAST(SUM(df.ndocs) AS BIGINT) AS sum_df,
  CAST(SUM(df.ndocs) AS DOUBLE) / COUNT(*) AS fluency
FROM bg JOIN df USING (bigram)
GROUP BY bg.doc_id
"""


@register("bigram_fluency", _BIGRAM_FLUENCY_ORACLE)
def bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grounded fluency proxy: mean document-frequency of a
    document's word bigrams.

    Boilerplate and natural prose score high (their phrases recur
    across the corpus); tokenizer junk, lorem-noise, and glued words
    score near 1 (each bigram appears only in its own document) — a
    cheap fluency/quality signal a data pipeline can threshold
    without a language model.  Kept log-free on purpose: the score is
    one IEEE division of two exact ints (Σ df, bigram count), so it
    is bit-deterministic cross-engine, unlike a log-prob.

    Scale notes: bigram df is a word-count-shaped aggregate
    (partial+final on hashed phrases); the re-join onto the exploded
    bigram stream shuffles (bigram, df) pairs — both shapes already
    proven at scale by word_count / dedup's inverted index.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs, parts=scan_partitions(spark, sf_dir, "documents")).select(
        "doc_id", tokens_col().alias("t")
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(t, slice(t, 2, size(t)), (x, y) -> "
                "CASE WHEN y IS NOT NULL THEN concat(x, ' ', y) END)"
            )
        ).alias("bigram"),
    ).filter(F.col("bigram").isNotNull())
    df = bg.groupBy("bigram").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (
        bg.join(df, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("ndocs").alias("sum_df"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_df",
            (F.col("sum_df").cast("double") / F.col("n_bigrams")).alias("fluency"),
        )
    )


# --- character-diversity quality signal -------------------------------

_DIVERSITY_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
cnt AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars_counted,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(SUM(c * c) AS BIGINT) AS sum_c2,
       CAST(SUM(c) * SUM(c) AS DOUBLE) / CAST(SUM(c * c) AS DOUBLE)
         AS effective_alphabet
FROM cnt GROUP BY doc_id
"""


@register("char_diversity_quality", _DIVERSITY_ORACLE)
def char_diversity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-diversity quality signal: the inverse
    Simpson index ``n² / Σc²`` — the "effective alphabet size".
    Machine-generated repetition and padded boilerplate collapse
    toward 1 (one dominant symbol); natural text sits in a stable
    band.  It is the same junk detector as Shannon character entropy
    with one decisive engineering difference: it needs NO
    transcendental function.  Entropy's Σ c·log2(c) is not
    cross-engine bit-stable (Spark's JVM log and DuckDB's libm log2
    disagree in the last ulp on ~a third of integer inputs — measured,
    not assumed), while this is exact BIGINT arithmetic (Σc, Σc²)
    down to ONE final IEEE division — bit-deterministic on any
    engine, any partitioning, any scale.

    Everything is two map-side-combined aggregates; the text never
    shuffles — only (doc_id, char, count) rows bounded by alphabet
    size per document.

    Character = Unicode CODE POINT on both engines: the oracle's
    ``string_split(text, '')`` is code-point based, and a plain Spark
    ``split(text, '')`` would split between UTF-16 code units — a
    non-BMP character (emoji, rare CJK) would become two surrogate
    halves and silently diverge the gate.  ``regexp_extract_all`` with
    ``(?s).`` matches one code point per hit (Java regex treats a
    surrogate pair as a single char), pinned by a unit test on a
    supplementary-plane string.
    """
    docs = load_table(spark, sf_dir, "documents")
    # spread the raw (doc_id, text) rows BEFORE exploding — exploding
    # first would shuffle one row per corpus CHARACTER
    chars = spread(
        docs.select("doc_id", "text"),
        parts=scan_partitions(spark, sf_dir, "documents"),
    ).select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("(?s)."), 0)).alias("ch"),
    )
    cnt = (
        chars.filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    return per.select(
        "doc_id",
        "n_chars_counted",
        "n_distinct_chars",
        "sum_c2",
        (
            (F.col("n_chars_counted") * F.col("n_chars_counted")).cast("double")
            / F.col("sum_c2").cast("double")
        ).alias("effective_alphabet"),
    )


#: Winnowing parameters (Schleimer, Wilkerson, Aiken 2003): k-gram
#: size and window width.  Guarantee: any shared token run of length
#: >= WINNOW_K + WINNOW_W - 1 contributes at least one shared
#: fingerprint, and no run shorter than WINNOW_K ever matches.
WINNOW_K = 3
WINNOW_W = 4

def winnow_minima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per full winnowing window: (doc_id, n_grams, wm).

    The shared winnowing core: posexplode tokens, build each k-gram
    with ``lead`` (per-doc bounded window state), md5 it as a TOP-LEVEL
    projection, take the sliding ``rowsBetween(0, w-1)`` minimum, and
    keep only positions with a full window.  Consumed by
    :func:`winnow_fingerprint_report` (per-doc density report) and
    :func:`mr_python_spark.dedup.dedup_winnow` (shared-fingerprint
    candidate pairs).

    Plan choice, MEASURED: a shuffle-free all-in-array formulation
    (``transform``/``slice``/``array_min`` lambdas) computes the same
    result with zero exchanges, but Spark evaluates higher-order
    lambdas interpreted — 44s vs 2.5s at the 10× fixture (17×) against
    this exploded formulation, whose gram build, hash, and window min
    all run inside whole-stage codegen.  The price is one shuffle of
    the exploded gram hashes, keyed by doc_id and bounded per doc —
    the same shape every exploded-token text aggregate here already
    pays, and the measured win holds at every probed scale.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("toks")
    )
    toked = docs.filter(F.size("toks") >= WINNOW_K).select(
        "doc_id",
        (F.size("toks") - WINNOW_K + 1).cast("long").alias("n_grams"),
        F.posexplode("toks").alias("i", "tok"),
    )
    w_lead = Window.partitionBy("doc_id").orderBy("i")
    grams = (
        toked.withColumn(
            "g",
            F.concat_ws(
                " ",
                *[F.lead("tok", d).over(w_lead) if d else F.col("tok")
                  for d in range(WINNOW_K)],
            ),
        )
        .filter(F.col("i") <= F.col("n_grams") - 1)
        .select("doc_id", "n_grams", "i", F.md5("g").alias("h"))
    )
    w_min = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    return (
        grams.withColumn("wm", F.min("h").over(w_min))
        .filter(F.col("i") <= F.col("n_grams") - WINNOW_W)
        .select("doc_id", "n_grams", "wm")
    )


_WINNOW_ORACLE = f"""
WITH grams AS (
  SELECT doc_id,
         list_transform(
           range(1, len(t) - {WINNOW_K} + 2),
           j -> md5(t[j] || ' ' || t[j+1] || ' ' || t[j+2])
         ) AS hs
  FROM (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
    FROM documents
  )
  WHERE len(t) >= {WINNOW_K}
),
wins AS (
  SELECT doc_id, len(hs) AS n_grams,
         list_transform(
           range(1, len(hs) - {WINNOW_W} + 2),
           j -> list_min(list_slice(hs, j, j + {WINNOW_W} - 1))
         ) AS w
  FROM grams
  WHERE len(hs) >= {WINNOW_W}
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(w) AS BIGINT) AS n_windows,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_fingerprints,
       list_min(w) AS min_fp,
       CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS fp_rate
FROM wins
"""


@register("winnow_fingerprint_report", _WINNOW_ORACLE)
def winnow_fingerprint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed k-gram fingerprints (the MOSS algorithm) per document.

    The published scalable fingerprinting scheme behind plagiarism /
    overlap detection: hash every ``WINNOW_K``-gram, slide a
    ``WINNOW_W`` window over the hash sequence, keep each window's
    minimum.  Any shared run of ``k + w - 1`` tokens is guaranteed a
    shared fingerprint — the density/recall dial ``doc_fingerprint``'s
    single whole-doc hash doesn't have.  md5 is the cross-engine hash
    (bit-identical hex in Spark and DuckDB, so the report hash-gates
    value-for-value, fingerprints included — unlike the xxhash64
    rows-only tier).

    Everything flows through the shared codegen'd winnowing core
    (:func:`winnow_minima` — see its docstring for the measured 17×
    choice over the shuffle-free in-array formulation) into one
    map-side-combined per-doc aggregate; total cost O(tokens · w)
    string compares, winnowing's own bound.
    """
    wm = winnow_minima(spark, sf_dir)
    return wm.groupBy("doc_id").agg(
        F.max("n_grams").alias("n_grams"),
        F.count("*").alias("n_windows"),
        F.countDistinct("wm").alias("n_fingerprints"),
        F.min("wm").alias("min_fp"),
        (F.countDistinct("wm").cast("double") / F.count("*")).alias("fp_rate"),
    )


#: BM25 retrieval parameters: the fixed query term set (one common,
#: one mid, one rare term of the corpus vocabulary), k1 = 1.2 and
#: b = 0.75 expressed exactly as the integer-cleared rational form
#: below, result size, and the fixed-point scales.
BM25_QUERY = ("spark", "window", "dup")
BM25_TOPK = 10
BM25_SCALE = 1 << 20
BM25_IDF_SCALE = 1 << 20

_BM25_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY)

_BM25_ORACLE = f"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))
              AS BIGINT) AS dl
  FROM documents
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM dl
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
    FROM documents
  )
  WHERE tok IN ({_BM25_TERMS})
  GROUP BY doc_id, tok
),
idf AS (
  SELECT tok,
         CAST(length(bin(
           (2 * (SELECT n FROM tot) - 2 * COUNT(*) + 1) * {BM25_IDF_SCALE}
             // (2 * COUNT(*) + 1)
         )) AS BIGINT) AS idf_bits
  FROM tf GROUP BY tok
),
scored AS (
  SELECT tf.doc_id,
         i.idf_bits
           * ((22 * tf.tf * (SELECT t FROM tot) * {BM25_SCALE})
              // (10 * tf.tf * (SELECT t FROM tot)
                  + 3 * (SELECT t FROM tot)
                  + 9 * d.dl * (SELECT n FROM tot))) AS s
  FROM tf JOIN idf i USING (tok) JOIN dl d USING (doc_id)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
       CAST(SUM(s) AS BIGINT) AS score_fp,
       CAST(SUM(s) AS DOUBLE) / {BM25_SCALE} AS score
FROM scored
GROUP BY doc_id
ORDER BY score_fp DESC, doc_id
LIMIT {BM25_TOPK}
"""


@register("search_bm25_topk", _BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query term set
    (Robertson/Spärck Jones probabilistic ranking, the standard
    lexical-retrieval scorer).

    The retrieval capability the tf-idf report stops short of: score
    every document against a query and return the best k.  Score =
    Σ_term idf(term) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with
    k1 = 1.2, b = 0.75.  Clearing denominators makes the saturation
    term the exact integer rational ``22·tf·T / (10·tf·T + 3·T +
    9·dl·N)`` (T = corpus tokens, N = docs, avgdl = T/N), evaluated in
    fixed point; idf uses the engine's quantized-log2 bit-length
    device on the exact Robertson ratio ``(2N−2df+1)/(2df+1)``.  Every
    per-(doc,term) score is therefore an exact integer, sums are
    exact, and the top-k order (score desc, doc_id) is total — the
    ranking hash-gates value-for-value.  BIGINT headroom: the widest
    product ``22·tf·T·2²⁰`` fits to about T ≈ 10¹¹ tokens; past that
    the same expression moves to DECIMAL(38,0), the engine's stock
    recipe.

    Plan: ONE Spark action — the corpus statistics N/T/df(term) are a
    single map-side-combined 1-row aggregate (``size``/``array_
    contains`` projections, all codegen'd), with idf folded in, then
    broadcast-crossJoined into the filtered posting aggregate (no
    ``.first()`` driver job re-running the corpus scan — the r13
    per-call-scalar fix).  The token explode is filtered to the query
    terms BEFORE any shuffle; per-posting idf is a constant 3-arm CASE
    on the broadcast columns, so the separate idf frame and its join
    are gone entirely.  The only ordering work is one
    TakeOrderedAndProject.  100 TB: two column-pruned scans + one
    matching-postings shuffle — the inverted-index probe shape.

    Measured at sf0.1 (best-of-3, noop sink): this shape 0.77s vs the
    r13 driver-scalar shape 0.94s.  Two rejected alternatives, kept as
    negative results: per-doc ``size(filter(toks, = term))`` tf columns
    with a stats crossJoin over ALL docs (1.12s — the BNLJ pays per
    corpus row, and the interpreted lambdas beat explode only on the
    narrow stats side); routing per-doc rows through a ``repartition``
    exchange hoping both consumers reuse it (0.97s — column pruning +
    filter pushdown specialize the two exchange copies, so
    ReusedExchange never engages).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("toks")
    )
    nq = len(BM25_QUERY)
    per_lite = docs.select(
        F.size("toks").cast("long").alias("dl"),
        *[
            F.array_contains("toks", t).cast("long").alias(f"c{i}")
            for i, t in enumerate(BM25_QUERY)
        ],
    )
    stats = per_lite.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("t"),
        *[F.sum(f"c{i}").alias(f"df{i}") for i in range(nq)],
    ).select(
        "n",
        "t",
        *[
            F.length(
                F.bin(
                    F.expr(
                        f"(2 * n - 2 * df{i} + 1) * {BM25_IDF_SCALE}L"
                        f" div (2 * df{i} + 1)"
                    )
                )
            )
            .cast("long")
            .alias(f"idf{i}")
            for i in range(nq)
        ],
    )
    terms = F.array(*[F.lit(t) for t in BM25_QUERY])
    tf = (
        docs.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("tok"),
        )
        .filter(F.array_contains(terms, F.col("tok")))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    # per-term idf dispatch as COLUMN expressions, not interpolated SQL:
    # a query term containing a quote/metachar can never break the
    # parse or silently mis-match (r14 ADVICE)
    idf_col = F.lit(None).cast("long")
    for i, t in enumerate(BM25_QUERY):
        idf_col = F.when(F.col("tok") == F.lit(t), F.col(f"idf{i}")).otherwise(
            idf_col
        )
    scored = tf.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        (
            idf_col
            * F.expr(
                f"(22 * tf * t * {BM25_SCALE}L)"
                f" div (10 * tf * t + 3 * t + 9 * dl * n)"
            )
        ).alias("s"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.sum("s").alias("score_fp"),
            (F.sum("s").cast("double") / F.lit(BM25_SCALE)).alias("score"),
        )
        .orderBy(F.desc("score_fp"), "doc_id")
        .limit(BM25_TOPK)
    )


#: fraction (percent) of each language's token mass the curation
#: budget keeps, best-quality-first
KEEP_TOKEN_PCT = 60

_QTHRESH_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(least(len(toks), 100) AS DOUBLE) / 100.0
           * (0.5 + 0.5 * (CAST(len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS DOUBLE)
                           / len(toks))) AS quality_score
  FROM (
    SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
  WHERE len(toks) > 0
),
ranked AS (
  SELECT lang, n_tokens, quality_score,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn,
         SUM(n_tokens) OVER (PARTITION BY lang) AS total
  FROM scored
)
SELECT lang,
       CAST(MIN(rn) AS BIGINT) AS n_docs_kept,
       CAST(min_by(cum, rn) AS BIGINT) AS kept_tokens,
       CAST(MAX(total) AS BIGINT) AS total_tokens,
       min_by(quality_score, rn) AS threshold_score
FROM ranked
WHERE cum * 100 >= {KEEP_TOKEN_PCT} * total
GROUP BY lang
"""


@register("quality_token_budget", _QTHRESH_ORACLE)
def quality_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality threshold for a fixed token budget: the
    score cut that keeps the best ``KEEP_TOKEN_PCT``% of token mass.

    How curation thresholds are actually chosen at scale — not a
    fixed magic score but "keep the best N tokens": rank documents by
    quality within each language, take the running token sum, and
    report the first document where the kept mass crosses the budget
    (its score IS the per-language threshold, and small languages get
    their own cut instead of being crushed by the corpus-wide one).

    Determinism: the ranking order (quality_score desc, doc_id) is a
    total order on doubles both engines compute identically (the
    gated ``quality_score`` expression); the running sum accumulates
    exact integers, so the crossing row — found as min row_number
    over the satisfying set, its columns extracted with ``min_by`` —
    is unambiguous.  100 TB: one per-lang-partitioned window (the
    sort is the cost, same shape as any per-key ranking) and a
    |langs|-row aggregate; nothing corpus-sized leaves the shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "lang", tokens_col().alias("toks")).filter(
        F.size("toks") > 0
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size("toks").cast("long")
    n_stop = F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t)))
    score = (F.least(F.size("toks"), F.lit(100)).cast("double") / 100.0) * (
        0.5 + 0.5 * (n_stop.cast("double") / F.size("toks"))
    )
    scored = toked.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), score.alias("quality_score")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("quality_score"), "doc_id")
    ranked = scored.select(
        "lang",
        "n_tokens",
        "quality_score",
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("rn"),
        F.sum("n_tokens")
        .over(Window.partitionBy("lang"))
        .alias("total"),
    )
    return (
        ranked.filter(F.col("cum") * 100 >= KEEP_TOKEN_PCT * F.col("total"))
        .groupBy("lang")
        .agg(
            F.min("rn").cast("long").alias("n_docs_kept"),
            F.min_by("cum", "rn").cast("long").alias("kept_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
            F.min_by("quality_score", "rn").alias("threshold_score"),
        )
    )


#: Exact-phrase retrieval: fixed two-word phrases (positional
#: adjacency, the inverted-index-with-positions query class) and the
#: per-phrase result size.
PHRASE_QUERIES = ("big table", "hash join", "sort merge")
PHRASE_TOPK = 10

_PHRASE_IN = ", ".join(f"'{p}'" for p in PHRASE_QUERIES)

_PHRASE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks
),
hits AS (
  SELECT doc_id, len(t) AS n_tokens, tok || ' ' || t[i+1] AS phrase
  FROM pos
  WHERE i < len(t) AND tok || ' ' || t[i+1] IN ({_PHRASE_IN})
),
counts AS (
  SELECT phrase, doc_id,
         CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS phrase_count
  FROM hits GROUP BY phrase, doc_id
)
SELECT phrase, doc_id, n_tokens, phrase_count
FROM counts
QUALIFY ROW_NUMBER() OVER (PARTITION BY phrase ORDER BY phrase_count DESC, doc_id)
        <= {PHRASE_TOPK}
"""


@register("search_phrase_topk", _PHRASE_ORACLE)
def search_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase top-k retrieval: per-phrase document ranking by
    adjacent-occurrence count.

    The positional half of the lexical-retrieval surface: BM25
    (``search_bm25_topk``) ranks by bag-of-words statistics and
    cannot distinguish "hash join" from "join ... hash"; a phrase
    query demands ADJACENT positions.  Classic engines answer it from
    positional postings; here adjacency never leaves the row — each
    document's matches are counted INSIDE its token array with an
    indexed ``transform`` (the bigram-LM device), so the corpus text
    is scanned once, never exploded, and never shuffled.

    Only (phrase, doc) hit rows — bounded by matches, not corpus
    size — reach the per-phrase ranking window; counts and ranks are
    exact integers with a total order (count desc, doc_id), so the
    top-k hash-gates value-for-value.  100 TB: one scan, a
    hit-proportional shuffle on |phrases| partitions, and a top-k
    window per phrase; a hot phrase skews its partition exactly like
    a hot key in the window tier (same AQE posture).  Matching is
    case-folded whitespace tokenization, the corpus-wide convention.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("toks")
    )
    counts = [
        F.expr(
            "size(filter(transform(toks, (x, i) ->"
            f" IF(x = '{w1}' AND try_element_at(toks, i + 2) = '{w2}', 1, NULL)),"
            " p -> p IS NOT NULL))"
        )
        .cast("long")
        .alias(f"c{k}")
        for k, (w1, w2) in enumerate(p.split(" ") for p in PHRASE_QUERIES)
    ]
    stack_args = ", ".join(f"'{p}', c{k}" for k, p in enumerate(PHRASE_QUERIES))
    hits = (
        docs.select("doc_id", F.size("toks").cast("long").alias("n_tokens"), *counts)
        .select(
            "doc_id",
            "n_tokens",
            F.expr(
                f"stack({len(PHRASE_QUERIES)}, {stack_args}) AS (phrase, phrase_count)"
            ),
        )
        .filter(F.col("phrase_count") > 0)
    )
    w = Window.partitionBy("phrase").orderBy(F.desc("phrase_count"), "doc_id")
    return (
        hits.select("phrase", "doc_id", "n_tokens", "phrase_count",
                    F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= PHRASE_TOPK)
        .select("phrase", "doc_id", "n_tokens", "phrase_count")
    )


#: Fixed-point scale for the type/token and hapax ratios (exact
#: integer division — the TTR is the one place a float ratio would be
#: tempting and is not needed).
VOCAB_SCALE = 1 << 20

_VOCAB_GROWTH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
uc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(t) AS tok FROM toks)
  GROUP BY source, tok
),
us AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM uc GROUP BY source
),
bs AS (
  SELECT source, CAST(COUNT(DISTINCT b) AS BIGINT) AS n_bigram_types
  FROM (
    SELECT source, t[i] || ' ' || t[i+1] AS b
    FROM (SELECT source, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
  ) GROUP BY source
),
dc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
SELECT source, n_docs, n_tokens, n_types, n_hapax, n_bigram_types,
       n_types * {VOCAB_SCALE} // n_tokens AS ttr_fp,
       n_hapax * {VOCAB_SCALE} // n_types AS hapax_fp
FROM us JOIN bs USING (source) JOIN dc USING (source)
"""


@register("vocab_growth_report", _VOCAB_GROWTH_ORACLE)
def vocab_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-growth statistics: types, hapax legomena,
    bigram types, and fixed-point type/token ratios.

    The corpus-analytics table behind Heaps'-law monitoring: a
    source whose type/token ratio or hapax share is anomalously LOW
    is template/boilerplate-heavy (few new words per token); one
    anomalously HIGH is noise-heavy (OCR junk, random strings —
    every token novel).  Dataset reports (C4, Dolma, RefinedWeb)
    tabulate exactly these to decide per-source cleaning pressure;
    tracked across crawls the same numbers ARE the Heaps curve.

    Everything is exact-integer: counts, distinct counts, and
    fixed-point ratios (``n_types·2²⁰ div n_tokens``), so the report
    hash-gates with no float tolerance.  Plan: one corpus scan
    explodes tokens into a (source, token) partial+final count — the
    word-count shape — then a |vocab|-row re-aggregate per source;
    bigram types explode in-array bigrams (zip_with — no window, no
    second scan of the text) into a distinct-count.  Final join of
    three |sources|-row frames.  100 TB: two word-count-class
    shuffles; nothing else moves.

    Measured floor (round 16, r15 order #5): quiet best-of-7 at sf0.1
    is 0.86s vs DuckDB 0.145s (5.9x, both engines stable — the r15
    pin-to-pin swing was contention); the sf1 component profile puts
    ~60% of the wall in the exact bigram-distinct shuffle, the
    query's inherent work.  Three rewrites were measured and REJECTED
    at sf1 (all slower than this shape's 4.6s bigram chain /
    5.1s total): a fused single-pass tagged explode — doc marker +
    tokens + bigrams through one (source, kind, term) count — at 7.8s
    (struct-building inside interpreted lambdas outweighs the saved
    tokenize+join), per-doc ``array_distinct`` pre-dedup at 7.0s, and
    an explicit two-level distinct aggregate at 6.9s.  The gap is
    single-node engine economics on exact string distincts (DuckDB's
    in-process hash tables vs Spark's shuffle serialization), not a
    plan defect — at cluster scale the distinct shuffle is exactly
    what partitions.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", tokens_col().alias("t"))
    uc = (
        toks.select("source", F.explode("t").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    us = uc.groupBy("source").agg(
        F.count("*").alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    bs = (
        toks.select(
            "source",
            F.explode(
                F.expr(
                    "zip_with(t, slice(t, 2, size(t)), (x, y) -> "
                    "CASE WHEN y IS NOT NULL THEN concat(x, ' ', y) END)"
                )
            ).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("source")
        .agg(F.countDistinct("b").alias("n_bigram_types"))
    )
    dc = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        us.join(bs, "source")
        .join(dc, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            "n_hapax",
            "n_bigram_types",
            F.expr(f"n_types * {VOCAB_SCALE}L div n_tokens").alias("ttr_fp"),
            F.expr(f"n_hapax * {VOCAB_SCALE}L div n_types").alias("hapax_fp"),
        )
    )


# --- PMI collocation mining (the canonical MapReduce "pairs" pattern) -

#: co-occurrence window (tokens to the right) and minimum pair support
_PMI_WINDOW = 3
_PMI_MIN_COUNT = 5

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks
), flat AS (
  SELECT doc_id, i, t[i] AS w FROM pos
), pr AS (
  SELECT CASE WHEN a.w <= b.w THEN a.w ELSE b.w END AS w1,
         CASE WHEN a.w <= b.w THEN b.w ELSE a.w END AS w2
  FROM flat a JOIN flat b
    ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND {_PMI_WINDOW}
), pc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM pr GROUP BY w1, w2 HAVING COUNT(*) >= {_PMI_MIN_COUNT}
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM flat GROUP BY w
)
SELECT w1, w2, pair_cnt, u1.c AS c1, u2.c AS c2,
       CAST((pair_cnt * 100000000) // (u1.c * u2.c) AS BIGINT) AS score_e8
FROM pc JOIN uni u1 ON u1.w = pc.w1 JOIN uni u2 ON u2.w = pc.w2
ORDER BY score_e8 DESC, pair_cnt DESC, w1, w2
LIMIT 100
"""


@register("cooccurrence_pmi", _PMI_ORACLE)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: top co-occurring word pairs within a
    ±3-token window, ranked by pointwise mutual information.

    This is the textbook MapReduce "pairs" pattern (Lin & Dyer,
    *Data-Intensive Text Processing with MapReduce* §3.2) — the shape
    the reference's word count generalizes to when the unit becomes a
    pair.  PMI = log N·c(a,b)/(c(a)c(b)); since N is constant across
    pairs, ranking by the exact integer ``score_e8 =
    ⌊10⁸·c(a,b)/(c(a)c(b))⌋`` IS the PMI ranking with zero
    transcendental functions — the char-diversity lesson (JVM log vs
    libm log disagree in the last ulp) applied to collocations.

    100 TB posture: pair generation is pure JVM array code — one
    ``zip_with`` per window offset and ONE explode, never a
    positions self-join (the oracle's join formulation is the
    DuckDB-side spelling only).  Pair counting is word-count-shaped
    (partial+final); the two unigram joins key on a vocab-sized frame
    (sublinear in corpus), and top-k is TakeOrderedAndProject, not a
    global sort.  ``score_e8`` fits int64 while pair counts stay
    below ~9·10¹⁰; past that, widen the numerator to DECIMAL(38,0) —
    same plan, wider codegen type.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs, parts=scan_partitions(spark, sf_dir, "documents")).select(
        "doc_id", tokens_col().alias("t")
    )
    offsets = [
        F.expr(
            f"filter(zip_with(t, slice(t, {k + 1}, size(t)), (x, y) -> "
            f"CASE WHEN y IS NOT NULL THEN "
            f"IF(x <= y, concat(x, ' ', y), concat(y, ' ', x)) END), "
            f"p -> p IS NOT NULL)"
        )
        for k in range(1, _PMI_WINDOW + 1)
    ]
    pairs = toks.select(F.explode(F.flatten(F.array(*offsets))).alias("pair"))
    pc = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _PMI_MIN_COUNT)
        .select(
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("w2"),
            "pair_cnt",
        )
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        pc.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            "w1",
            "w2",
            "pair_cnt",
            "c1",
            "c2",
            F.expr("CAST((pair_cnt * 100000000) DIV (c1 * c2) AS BIGINT)").alias(
                "score_e8"
            ),
        )
    )
    return out.orderBy(
        F.desc("score_e8"), F.desc("pair_cnt"), "w1", "w2"
    ).limit(100)


# --- compression-ratio quality filter (Gopher/RefinedWeb-style) --------

#: documents compressing below this ratio (basis points) are flagged:
#: zlib squeezing text under 25% of its raw size means machine-grade
#: repetition, not natural prose
_ZRATIO_FLAG_BP = 2500


@register("compression_ratio_quality")
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio as a quality signal.

    The classic cheap repetition detector (used by the Gopher /
    RefinedWeb data pipelines alongside the explicit repetition
    rules): natural text compresses to a stable band, while template
    spam, padded boilerplate, and copy-loops compress far below it —
    DEFLATE is effectively a free n-gram repetition model.  Emits
    exact integers only: raw UTF-8 bytes, zlib(level 6) bytes, the
    fixed-point ratio ``zip·10⁴ div raw``, and the flag at
    ``_ZRATIO_FLAG_BP``.

    Oracle tier: zlib is not portable SQL, so this is a udf-oracle
    query (tools/udf_oracles.py registers the same CPython zlib as a
    DuckDB scalar UDF — identical DEFLATE bytes by construction) plus
    a pure-Python differential pytest; the driver records rows-only.
    Same-zlib-build precondition: "identical by construction" holds
    because the Spark workers and the DuckDB-UDF host are the same
    CPython linking one zlib build; different zlib versions may emit
    different (equally valid) DEFLATE streams at level 6, so a
    cross-machine comparison must compare ratio BANDS, not exact
    compressed byte counts.

    100 TB posture: one Arrow-batched ``mapInPandas`` pass (the
    CPU-bound decode-like stage), ``spread`` pinning scan parallelism
    the way the multimodal decode pass does; no shuffle at all — the
    signal is row-local.
    """
    import pandas as pd
    from pyspark.sql import types as T

    docs = spread(
        load_table(spark, sf_dir, "documents"),
        parts=scan_partitions(spark, sf_dir, "documents"),
    ).select(
        "doc_id", "text"
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("raw_bytes", T.LongType()),
            T.StructField("zip_bytes", T.LongType()),
            T.StructField("ratio_bp", T.LongType()),
            T.StructField("flag_repetitive", T.BooleanType()),
        ]
    )

    def ratios(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].map(lambda s: s.encode("utf-8"))
            raw_bytes = raw.map(len)
            zip_bytes = raw.map(lambda b: len(zlib.compress(b, 6)))
            ratio = zip_bytes * 10000 // raw_bytes.clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw_bytes,
                    "zip_bytes": zip_bytes,
                    "ratio_bp": ratio,
                    "flag_repetitive": ratio < _ZRATIO_FLAG_BP,
                }
            )

    return docs.mapInPandas(ratios, schema)


_ZRATIO_ENVELOPE_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS raw_bytes,
       TRUE AS zip_in_range,
       TRUE AS ratio_consistent,
       TRUE AS flag_consistent
FROM documents
"""


@register("compression_ratio_envelope", _ZRATIO_ENVELOPE_ORACLE)
def compression_ratio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`compression_ratio_quality` (zlib
    is not portable SQL): runs the parent's full Arrow zlib pass and
    re-shapes each PER-DOCUMENT row into a column the model-free
    oracle pins exactly (``raw_bytes`` — UTF-8 byte length, which
    DuckDB derives as ``octet_length(encode(text))``) plus three
    invariant flags carrying the zlib outputs: ``zip_in_range``
    (1 <= zip_bytes <= raw_bytes + 64 — DEFLATE's worst-case stored-
    block overhead on this corpus's document sizes), and two internal-
    consistency flags re-deriving the published fixed-point ratio and
    the repetition flag from the published byte counts.  A broken
    compress call, byte accounting, or flag threshold flips a row; the
    exact compressed-byte gate stays on the parent's udf-oracle tier
    (same-zlib-build precondition documented there).  Window policy:
    docs/COVERAGE.md — udf-tier entries never rotate into the driver
    window, their envelopes do.
    """
    z = compression_ratio_quality(spark, sf_dir)
    return z.select(
        "doc_id",
        "raw_bytes",
        (
            (F.col("zip_bytes") >= 1)
            & (F.col("zip_bytes") <= F.col("raw_bytes") + 64)
        ).alias("zip_in_range"),
        (
            F.col("ratio_bp")
            == F.expr("zip_bytes * 10000 div greatest(raw_bytes, 1L)")
        ).alias("ratio_consistent"),
        (
            F.col("flag_repetitive")
            == (F.col("ratio_bp") < _ZRATIO_FLAG_BP)
        ).alias("flag_consistent"),
    )


# --- n-gram-profile language ID (Cavnar–Trenkle) ------------------------

#: profile geometry: top-20 trigrams per language, top-10 per document,
#: out-of-profile penalty = K+1
_LANGID_K = 20
_LANGID_M = 10
_LANGID_PENALTY = _LANGID_K + 1

def _langid_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCACHED (doc_id, lang, tri, c) builder: one JVM
    transform+explode over the ≥3-char documents, one partial-agged
    shuffle.  ``lang`` rides the grouping for free (doc_id determines
    lang, so the cardinality is unchanged) and saves the doc→lang join
    the profile consumer would otherwise need."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.char_length("text") >= 3
    )
    tri = spread(docs).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(text) - 2), "
                "p -> substring(lower(text), p, 3))"
            )
        ).alias("tri"),
    )
    return tri.groupBy("doc_id", "lang", "tri").agg(
        F.count(F.lit(1)).alias("c")
    )


def _langid_dp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached per-doc trigram count frame (doc_id, lang, tri, c) shared
    by the language-profile and per-doc-top consumers of
    :func:`lang_id_ngram_profile`."""

    def build() -> DataFrame:
        # stored repartitioned by doc_id.  The checkpoint does not keep
        # the hash partitioning, so the per-doc-top window re-shuffles,
        # but the rows stay spread over many partitions: warm at sf0.1
        # on 4 cores, 0.91-0.97 s against 1.08-1.14 s without the
        # repartition.  The profile consumer re-shuffles the deduped
        # rows by (lang, tri) either way
        return _langid_dp(spark, sf_dir).repartition("doc_id")

    return corpus_cache("text.langid_dp", spark, sf_dir, build)

_LANGID_NGRAM_ORACLE = f"""
WITH pos AS (
  -- generate_series as a SCALAR returns a list (lateral table-function
  -- column args are a DuckDB binder error); unnest it in the SELECT
  SELECT doc_id, lang, lower(text) AS lt,
         unnest(generate_series(1, length(text) - 2)) AS p
  FROM documents WHERE length(text) >= 3
), tri AS (
  SELECT doc_id, lang, substr(lt, CAST(p AS INTEGER), 3) AS tri FROM pos
), lp AS (
  SELECT lang, tri, COUNT(*) AS c FROM tri GROUP BY lang, tri
), prof AS (
  SELECT lang, tri, r FROM (
    SELECT lang, tri,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tri) AS r
    FROM lp
  ) WHERE r <= {_LANGID_K}
), dp AS (
  SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY doc_id, tri
), dtop AS (
  SELECT doc_id, tri, r FROM (
    SELECT doc_id, tri,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, tri) AS r
    FROM dp
  ) WHERE r <= {_LANGID_M}
), langs AS (
  SELECT DISTINCT lang FROM documents
), dist AS (
  SELECT d.doc_id, l.lang,
         CAST(SUM(CASE WHEN p.r IS NULL THEN {_LANGID_PENALTY}
                       ELSE abs(d.r - p.r) END) AS BIGINT) AS dist
  FROM dtop d CROSS JOIN langs l
  LEFT JOIN prof p ON p.lang = l.lang AND p.tri = d.tri
  GROUP BY d.doc_id, l.lang
), pred AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT doc_id, lang, dist,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rr
    FROM dist
  ) WHERE rr = 1
)
SELECT t.lang AS true_lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, lang FROM documents WHERE length(text) >= 3) t
JOIN pred p ON p.doc_id = t.doc_id
GROUP BY t.lang, p.pred_lang
"""


@register("lang_id_ngram_profile", _LANGID_NGRAM_ORACLE)
def lang_id_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar–Trenkle n-gram language ID: rank-order trigram profiles,
    classified by the out-of-place measure, reported as a confusion
    matrix against the corpus labels.

    The 1994 method every lightweight langid tool descends from: a
    language is its top-K character-trigram RANKING; a document is
    classified to the profile minimizing Σ |doc_rank − profile_rank|
    (out-of-profile trigrams pay K+1).  Beside the stopword-mass
    tier (``lang_id_stopword``) this is the model-free second opinion
    — and everything is counts, ranks with total tie-breaks, and
    integer distances: bit-deterministic cross-engine.

    100 TB posture: the corpus-sized trigram stream is exploded and
    shuffled ONCE — both consumers derive from the per-doc count frame
    ``dp = (doc_id, lang, tri, c)``: the per-doc tops read it directly,
    and the language profile is ``Σ_docs c`` grouped by (lang, tri)
    (integer sum of per-doc counts ≡ the direct count, bit-exact).
    The dp frame is shared through the house keyed cache — exactly the
    r15-suggested sharing of the POST-AGGREGATE frame, which is
    |distinct (doc, tri)|-sized, NOT the corpus-sized ``tri.persist()``
    r14 measured and rejected.  (Exchange reuse was tried first and
    does not fire: the prof branch's left join infers isnotnull
    filters the dtop branch lacks, so the two dp subtrees never
    canonicalize equal.)  The earlier two-regeneration shape measured
    3.2–3.8x DuckDB in both r15 quiet pins; this one-explode shape
    drops the second explode + raw-stream shuffle entirely (the
    profile re-aggregate runs on the already-deduped dp rows).  The
    uncached builder's plan is policed by the ``langid_dp_builder``
    pseudo-entry in tools/explain_audit.py.
    Profiles are word-count-shaped aggregates; the two rank windows
    are PARTITIONED (per lang / per doc, never corpus-global); the
    classify join fans each doc's 10 profile rows out by the
    |langs|-bounded broadcast (the scalar-frame crossJoin idiom) and
    probes the K·|langs|-row profile — cost |docs|·M·|langs|, linear
    in the corpus.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.char_length("text") >= 3
    )
    dp = _langid_dp_cached(spark, sf_dir)
    w_lang = Window.partitionBy("lang").orderBy(F.desc("c"), "tri")
    prof = (
        dp.groupBy("lang", "tri")
        .agg(F.sum("c").alias("c"))
        .withColumn("r", F.row_number().over(w_lang))
        .filter(F.col("r") <= _LANGID_K)
        .select("lang", "tri", F.col("r").alias("pr"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("c"), "tri")
    dtop = (
        dp.select("doc_id", "tri", "c")
        .withColumn("r", F.row_number().over(w_doc))
        .filter(F.col("r") <= _LANGID_M)
    )
    langs = docs.select("lang").distinct().select(F.col("lang").alias("cand"))
    dist = (
        dtop.crossJoin(F.broadcast(langs))
        .join(
            prof,
            (F.col("cand") == prof["lang"]) & (dtop["tri"] == prof["tri"]),
            "left",
        )
        .groupBy("doc_id", "cand")
        .agg(
            F.sum(
                F.when(F.col("pr").isNull(), F.lit(_LANGID_PENALTY)).otherwise(
                    F.abs(F.col("r") - F.col("pr"))
                )
            ).alias("dist")
        )
    )
    pred = dist.groupBy("doc_id").agg(
        F.min(F.struct("dist", "cand")).alias("w")
    ).select("doc_id", F.col("w.cand").alias("pred_lang"))
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- hybrid retrieval: reciprocal-rank fusion ---------------------------

#: RRF constant (Cormack et al. 2009's k = 60) and fixed-point scale
_RRF_K = 60
_RRF_SCALE = 1_000_000
#: fused phrase = the registered phrase ranker's second query; deriving
#: it (instead of re-hardcoding the literal) means an edit to
#: PHRASE_QUERIES cannot silently empty the phrase side of the fusion
_RRF_PHRASE = PHRASE_QUERIES[1]
assert _RRF_PHRASE == "hash join"  # oracle text below embeds it

_HYBRID_RRF_ORACLE = f"""
WITH bm AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS r_bm
  FROM ({_BM25_ORACLE})
), ph AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY phrase_count DESC, doc_id) AS r_ph
  FROM ({_PHRASE_ORACLE})
  WHERE phrase = '{_RRF_PHRASE}'
), u AS (
  SELECT COALESCE(bm.doc_id, ph.doc_id) AS doc_id, r_bm, r_ph
  FROM bm FULL JOIN ph ON bm.doc_id = ph.doc_id
)
SELECT doc_id,
       r_bm IS NOT NULL AS in_bm25,
       r_ph IS NOT NULL AS in_phrase,
       COALESCE({_RRF_SCALE} // ({_RRF_K} + r_bm), 0)
         + COALESCE({_RRF_SCALE} // ({_RRF_K} + r_ph), 0) AS rrf_fp
FROM u
ORDER BY rrf_fp DESC, doc_id
"""


@register("search_hybrid_rrf", _HYBRID_RRF_ORACLE)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): the bag-of-words ranker and the positional ranker merged
    by ``Σ 1/(k + rank)`` with k = 60.

    The modern hybrid-search shape: candidate lists from DIFFERENT
    backends (lexical BM25 + an exact-phrase/positional — or in dense
    stacks an ANN — system, each with its own query analyzer) are
    fused WITHOUT score calibration, because ranks compose where raw
    scores from different scoring functions don't.  The operator
    under test is the fusion: both source rankings are the registered
    rankers exactly as shipped (their own fixed queries), each rank
    read off its already-bounded top-k frame, RRF as the exact
    integer ``⌊10⁶/(60+r)⌋`` sum — no floats, total order, and the
    oracle composes the two rankers' oracle texts verbatim.

    Scale: both inputs are top-k frames (≤ 10 rows each, bounded by
    the rankers' own LIMITs), so the rank windows, the full-outer
    merge, and the final sort all ride constant-size frames; the
    corpus-scaling work lives — and is audited — in the source
    rankers.
    """
    bm = search_bm25_topk(spark, sf_dir)
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_fp"), "doc_id"))
        .alias("r_bm"),
    )
    # the phrase ranker's top-k is a QUALIFY-style window filter (<= 10
    # rows semantically); the explicit no-op limit makes the bound
    # STRUCTURAL so the unbounded-window guard can prove it
    ph = (
        search_phrase_topk(spark, sf_dir)
        .filter(F.col("phrase") == _RRF_PHRASE)
        .limit(PHRASE_TOPK)
    )
    phr = ph.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("phrase_count"), "doc_id"))
        .alias("r_ph"),
    )
    u = bmr.join(phr, "doc_id", "full")
    rrf = F.coalesce(
        F.expr(f"{_RRF_SCALE}L div ({_RRF_K} + r_bm)"), F.lit(0)
    ) + F.coalesce(F.expr(f"{_RRF_SCALE}L div ({_RRF_K} + r_ph)"), F.lit(0))
    return u.select(
        "doc_id",
        F.col("r_bm").isNotNull().alias("in_bm25"),
        F.col("r_ph").isNotNull().alias("in_phrase"),
        rrf.cast("long").alias("rrf_fp"),
    ).orderBy(F.desc("rrf_fp"), "doc_id")


# --- document coherence: half-vs-half vocabulary overlap ----------------

#: flag threshold: halves sharing under 20% of their vocabulary
_COHERENCE_FLAG_E6 = 200_000

_COHERENCE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
), halves AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         list_distinct(t[1 : len(t) // 2]) AS d1,
         list_distinct(t[len(t) // 2 + 1 : len(t)]) AS d2
  FROM toks WHERE len(t) >= 2
), ov AS (
  SELECT doc_id, n_tokens,
         CAST(len(list_intersect(d1, d2)) AS BIGINT) AS inter,
         CAST(len(d1) + len(d2) - len(list_intersect(d1, d2)) AS BIGINT)
           AS un
  FROM halves
)
SELECT doc_id, n_tokens,
       CAST(inter * 1000000 // un AS BIGINT) AS half_jaccard_e6,
       (inter * 1000000 // un) < {_COHERENCE_FLAG_E6} AS flag_incoherent
FROM ov
"""


@register("doc_halves_coherence", _COHERENCE_ORACLE)
def doc_halves_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-coherence check: vocabulary Jaccard between the two
    halves of each document.

    Web-scraped "documents" are often two unrelated things glued
    together (template + payload, or a language switch mid-page); a
    coherent document's halves share vocabulary, a concatenation's
    don't.  This is the split-half consistency screen run before
    expensive per-doc models — and a cheap mixed-language detector
    when the corpus langs share no stopwords.

    Everything happens IN the row's arrays (slice → distinct →
    intersect → exact integer Jaccard): zero shuffles, zero joins,
    whole-corpus linear scan, bit-deterministic fixed-point output.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = spread(docs, parts=scan_partitions(spark, sf_dir, "documents")).select(
        "doc_id", tokens_col().alias("t")
    ).filter(
        F.size("t") >= 2
    )
    halves = toked.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.array_distinct(
            F.expr("slice(t, 1, size(t) div 2)")
        ).alias("d1"),
        F.array_distinct(
            F.expr("slice(t, size(t) div 2 + 1, size(t))")
        ).alias("d2"),
    )
    inter = F.size(F.array_intersect("d1", "d2")).cast("long")
    union = (F.size("d1") + F.size("d2")).cast("long") - inter
    # names the intermediate select's aliases on purpose (plain string,
    # no interpolation): DIV keeps the quotient exact-integer
    jacc = F.expr("CAST(inter * 1000000 DIV un AS BIGINT)")
    return halves.select(
        "doc_id",
        "n_tokens",
        inter.alias("inter"),
        union.alias("un"),
    ).select(
        "doc_id",
        "n_tokens",
        jacc.alias("half_jaccard_e6"),
        (jacc < _COHERENCE_FLAG_E6).alias("flag_incoherent"),
    )
