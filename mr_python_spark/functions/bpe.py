"""Byte-pair-encoding tokenizer: bounded-sample training, distributed encode.

The real-tokenizer step of a training-data pipeline (the existing
``encode_tokens_to_ids`` is a whole-word frequency vocab; this is the
subword path): BPE merges are TRAINED on a deterministic bounded
sample (the k-means/PQ posture — ``ORDER BY doc_id LIMIT cap`` over a
stride subset, so the driver materializes a CONSTANT-size word-freq
table at any corpus size), then the merge ranks ship to executors by
closure and every document encodes in an Arrow-batched ``mapInPandas``
pass with a per-batch word cache (Zipf makes the cache hit rate high —
each distinct word BPE-encodes once per batch).

The sample and the encode pass are the whole subword family's: the
unigram-LM trainer (functions/unigram.py) reads the same
``tokenizer.word_freq`` registry entry (:func:`sample_word_freq`), and
every per-document stats query — BPE, unigram and their bake-off —
is one :func:`token_stats` pass with one encoder per model.

Determinism: training picks the most frequent pair each round with
ties broken by the lexicographically smallest pair, and greedy
encoding merges the lowest-rank adjacent pair with ties broken by the
leftmost position — both total orders, so the merge table and every
token count are exact integers, bit-identical across engines and
partitionings.  The DuckDB gate reimplements the whole pipeline
independently in tools/udf_oracles.py; tests/test_hash_pipelines.py
cross-checks the two trainers merge-for-merge.

Reference scope note: tinymr has no tokenizer surface — this is the
training-data-pipeline extension tier (SURVEY.md §6).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache, load_table, scan_partitions, spread

#: training-sample posture: stride subset then hard cap — constant
#: driver memory at any corpus size (the 100× rule)
BPE_SAMPLE_STRIDE = 3
BPE_SAMPLE_CAP = 1024
#: merge-table size; training stops early when no pair repeats
BPE_NUM_MERGES = 200
#: end-of-word sentinel appended to each word's last symbol
BPE_END = "</w>"

_WORD_RE = re.compile(r"\s+")


def _words(text: str) -> list[str]:
    return [w for w in _WORD_RE.split(text.lower()) if w]


def train_bpe(word_freq: dict[str, int], n_merges: int = BPE_NUM_MERGES):
    """Deterministic BPE training over a word-frequency table.

    Returns the ordered merge list ``[(left, right), ...]``.  Each
    round merges the globally most frequent adjacent symbol pair
    (frequency weighted by word count); ties break to the
    lexicographically smallest pair.  Stops early once no pair occurs
    twice (merging singletons would just memorize the sample).
    """
    seqs: dict[tuple[str, ...], int] = {}
    for w, f in word_freq.items():
        syms = tuple(list(w[:-1]) + [w[-1] + BPE_END])
        seqs[syms] = seqs.get(syms, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in seqs.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        nxt: dict[tuple[str, ...], int] = {}
        for syms, f in seqs.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            nxt[t] = nxt.get(t, 0) + f
        seqs = nxt
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: repeatedly merge the adjacent
    pair with the LOWEST training rank (leftmost on rank ties) until
    no adjacent pair is in the table."""
    syms = list(word[:-1]) + [word[-1] + BPE_END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def sample_word_freq(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The word-frequency table both subword trainers learn from, cached
    per file identity as ``tokenizer.word_freq``: stride-
    ``BPE_SAMPLE_STRIDE`` docs, ``ORDER BY doc_id LIMIT
    BPE_SAMPLE_CAP``, word counts aggregated DISTRIBUTED (only the
    bounded freq table reaches the driver, never the text).  The BPE
    and unigram model entries are built on it, so evicting it evicts
    both models."""

    def build() -> dict[str, int]:
        sample = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % BPE_SAMPLE_STRIDE == 0)
            .orderBy("doc_id")
            .limit(BPE_SAMPLE_CAP)
        )
        words = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        rows = (
            sample.select(F.explode(words).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("f"))
            .collect()
        )
        return {r.word: r.f for r in rows}

    return corpus_cache("tokenizer.word_freq", spark, sf_dir, build)


def trained_bpe_model(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, str]], frozenset]:
    """``(merges, alphabet)`` for a corpus, trained on
    :func:`sample_word_freq` and cached per file identity like the
    k-means/PQ models.  ``alphabet`` is the set of base symbols the
    training sample produced (chars plus last-char+``</w>``); the full
    vocab is ``alphabet ∪ {a+b for each merge}``, which is what the
    OOV-free coverage column of :func:`bpe_token_stats` tests."""

    def build() -> tuple[list[tuple[str, str]], frozenset]:
        wf = sample_word_freq(spark, sf_dir)
        alphabet = set()
        for w in wf:
            alphabet.update(w[:-1])
            alphabet.add(w[-1] + BPE_END)
        return train_bpe(wf), frozenset(alphabet)

    return corpus_cache("bpe.model", spark, sf_dir, build)


def trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """Merge table only (the original surface; coverage users take
    :func:`trained_bpe_model`)."""
    return trained_bpe_model(spark, sf_dir)[0]


@register("bpe_vocab_merges")  # deterministic merge table; udf-oracle tier
def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table itself: (rank, left, right, merged).

    Inspectable + joinable (the artifact a pipeline ships alongside the
    encoded corpus).  Deterministic total order — rank is the training
    round.  Verified merge-for-merge against the independent oracle
    trainer (tools/udf_oracles.py) and the naive pytest reimplementation.
    """
    merges = trained_merges(spark, sf_dir)
    rows = [
        (i, a, b, a + b) for i, (a, b) in enumerate(merges)
    ]
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType()),
            T.StructField("left", T.StringType()),
            T.StructField("right", T.StringType()),
            T.StructField("merged", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def bpe_encoder(ranks: dict[tuple[str, str], int], vocab):
    """``word -> (tokens, oov_free)`` under the merge ranks; oov_free
    means every final symbol is in ``vocab``."""

    def encode(w: str) -> tuple[list[str], bool]:
        toks = encode_word(w, ranks)
        return toks, all(t in vocab for t in toks)

    return encode


def token_stats(spark: SparkSession, sf_dir: str, encoders: dict) -> DataFrame:
    """Per-document subword counts under one or more tokenizers, in ONE
    Arrow-batched ``mapInPandas`` pass over the documents' text.

    ``encoders`` maps a column prefix ``p`` to ``word -> (tokens,
    in_vocab)``.  Each document is word-split once and gets
    ``(doc_id, n_words)`` plus, per encoder in order, ``p_tokens``,
    ``p_unique`` (distinct tokens) and ``p_oov_free_words`` (words
    whose encoding never leaves the model vocab).  The models ship by
    closure, and a word cache per encoder, kept across a task's
    batches, makes the cost per distinct word, not per occurrence (Zipf
    keeps the hit rate high).  Every output is an exact integer.
    """
    from typing import Iterator

    import pandas as pd

    cols = [f"{p}_{c}" for p in encoders for c in ("tokens", "unique", "oov_free_words")]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(c, T.IntegerType()) for c in ["n_words", *cols]]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        caches = [({}, encode) for encode in encoders.values()]
        for pdf in batches:
            if pdf.empty:
                continue
            n_words, *counts = [[] for _ in range(1 + len(cols))]
            for text in pdf["text"]:
                ws = _words(text)
                n_words.append(len(ws))
                for k, (cache, encode) in enumerate(caches):
                    toks, n_cov = [], 0
                    for w in ws:
                        hit = cache.get(w)
                        if hit is None:
                            hit = cache[w] = encode(w)
                        toks += hit[0]
                        n_cov += hit[1]
                    counts[3 * k].append(len(toks))
                    counts[3 * k + 1].append(len(set(toks)))
                    counts[3 * k + 2].append(n_cov)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_words": n_words, **dict(zip(cols, counts))}
            )

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        parts=scan_partitions(spark, sf_dir, "documents"),
    )
    return docs.mapInPandas(stats, schema)


@register("bpe_token_stats")  # udf-oracle in tools/udf_oracles.py
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword statistics under the trained BPE: word
    count, BPE token count, distinct BPE tokens, and OOV-free words
    (words whose every final symbol is in the trained vocab —
    ``alphabet ∪ merge products``; a word misses when a final symbol
    falls outside the POSITIONAL alphabet: a character, or an
    end-of-word-marked last character, the sample never saw in that
    position).

    The token-budget accounting step of a pipeline (how many subword
    tokens does this corpus contribute?).  Encoding is one
    :func:`token_stats` pass; the merge ranks (≤ ``BPE_NUM_MERGES``
    pairs) ship by closure.  All outputs are exact integers —
    bit-deterministic, gated against an independent DuckDB UDF
    reimplementation of the full train+encode pipeline.
    """
    merges, alphabet = trained_bpe_model(spark, sf_dir)
    ranks = {p: i for i, p in enumerate(merges)}
    encode = bpe_encoder(ranks, alphabet | {a + b for a, b in merges})
    return token_stats(spark, sf_dir, {"bpe": encode}).toDF(
        "doc_id", "n_words", "n_bpe_tokens", "n_unique_bpe_tokens", "n_oov_free_words"
    )


@register("tokenizer_fertility_report")  # udf-oracle in tools/udf_oracles.py
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the trained BPE:
    subwords per word and characters per subword.

    THE standard multilingual-tokenizer quality metric (fertility ≈ 1
    means the vocab fits the language; high fertility means the
    language pays more sequence length per word — the signal behind
    vocab-budget reallocations and the mBERT/XLM-R sampling-α
    debates, and exactly what :func:`~mr_python_spark.functions.
    pipeline.mixture_temperature_weights` adjusts for).  Composes the
    per-doc ``bpe_token_stats`` pass (Arrow-batched encode, per-batch
    word cache) with the documents metadata on an equi-join, then one
    |langs|-row aggregate: every sum is an exact integer, the two
    ratios are final single divisions.  Same udf-oracle tier as the
    rest of the BPE family (DuckDB re-runs the full train+encode via
    registered Python UDFs).
    """
    stats = bpe_token_stats(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return (
        stats.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
            F.sum("n_chars").alias("n_chars"),
            # when(denom > 0) pins degenerate languages to NULL, the
            # udf-oracle mirrors with NULLIF — cross-engine agreement
            # by construction (same guard as tokenizer_bakeoff_report)
            F.when(
                F.sum("n_words") > 0,
                F.sum("n_bpe_tokens").cast("double") / F.sum("n_words"),
            ).alias("fertility"),
            F.when(
                F.sum("n_bpe_tokens") > 0,
                F.sum("n_chars").cast("double") / F.sum("n_bpe_tokens"),
            ).alias("chars_per_token"),
        )
    )


_FERTILITY_ENVELOPE_ORACLE = r"""
WITH d AS (
  SELECT lang, n_chars,
         len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))
           AS nw
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       TRUE AS fertility_ge_one,
       TRUE AS tokens_le_chars
FROM d GROUP BY lang
"""


@register("tokenizer_fertility_envelope", _FERTILITY_ENVELOPE_ORACLE)
def tokenizer_fertility_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`tokenizer_fertility_report` (whose
    trained-BPE encode DuckDB can only replay via Python UDFs): runs the
    parent end-to-end and re-shapes its per-language row into columns a
    model-free oracle can pin exactly — ``n_docs`` / ``n_words`` /
    ``n_chars`` (the word count is the same whitespace tokenization on
    both engines; ``n_chars`` is table metadata) — plus two invariant
    flags carrying the BPE output: ``fertility_ge_one`` (every word
    encodes to ≥ 1 subword, so Σtokens ≥ Σwords) and ``tokens_le_chars``
    (merges only shrink a word's symbol count, so Σtokens ≤ Σ|word| ≤
    Σ n_chars).  A broken encode (dropped words, runaway splits, merge
    loop) flips a flag and fails the hash gate; the full-strength
    token-count gate stays on the parent's udf-oracle in the sweep.
    Same envelope device as ``dedup_incremental_minhash_envelope``.
    """
    rep = tokenizer_fertility_report(spark, sf_dir)
    return rep.select(
        "lang",
        "n_docs",
        "n_words",
        "n_chars",
        (F.col("n_bpe_tokens") >= F.col("n_words")).alias("fertility_ge_one"),
        (F.col("n_bpe_tokens") <= F.col("n_chars")).alias("tokens_le_chars"),
    )


def _bool_and(col):
    """All-true aggregate (MIN over booleans — portable to the oracle)."""
    return F.min(col.cast("boolean"))


#: the model-free oracle of both per-document stats envelopes
STATS_ENVELOPE_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))
           AS nw
  FROM documents
)
SELECT doc_id,
       CAST(nw AS INTEGER) AS n_words,
       TRUE AS fertility_ge_one,
       TRUE AS tokens_le_chars,
       TRUE AS unique_le_tokens,
       TRUE AS coverage_valid
FROM d
"""


def stats_envelope(
    spark: SparkSession, sf_dir: str, stats: DataFrame, tokens: str, unique: str
) -> DataFrame:
    """SQL-oracle envelope of a per-document subword stats frame (whose
    trained encode DuckDB can only replay via Python UDFs): each
    PER-DOCUMENT row re-shaped into a column the model-free oracle pins
    exactly (``n_words`` — the same whitespace tokenization on both
    engines) plus four invariant flags carrying the encoder's outputs:
    fertility >= 1 (every word encodes to >= 1 token), tokens <=
    n_chars (every token is >= 1 char of its word), distinct tokens <=
    tokens, and 0 <= OOV-free words <= words.  Per-doc granularity
    makes the hash gate row-strong (one broken doc flips its own row);
    the full token-count gate stays on the stats query's udf-oracle in
    the sweep.  ``tokens`` and ``unique`` name ``stats``' token and
    distinct-token columns.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_tok, n_words, n_cov = F.col(tokens), F.col("n_words"), F.col("n_oov_free_words")
    return stats.join(docs, "doc_id").select(
        "doc_id",
        "n_words",
        (n_tok >= n_words).alias("fertility_ge_one"),
        (n_tok <= F.col("n_chars")).alias("tokens_le_chars"),
        (F.col(unique) <= n_tok).alias("unique_le_tokens"),
        ((n_cov >= 0) & (n_cov <= n_words)).alias("coverage_valid"),
    )


@register("bpe_stats_envelope", STATS_ENVELOPE_ORACLE)
def bpe_stats_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`stats_envelope` of :func:`bpe_token_stats`: runs its full
    Arrow encode pass.  Window policy: udf-tier entries never rotate
    into the driver window — their envelopes do (docs/COVERAGE.md).
    """
    stats = bpe_token_stats(spark, sf_dir)
    return stats_envelope(spark, sf_dir, stats, "n_bpe_tokens", "n_unique_bpe_tokens")


_BPE_VOCAB_ENVELOPE_ORACLE = """
SELECT TRUE AS nonempty,
       TRUE AS within_cap,
       TRUE AS ranks_dense,
       TRUE AS merged_concat_ok,
       TRUE AS pairs_distinct,
       TRUE AS parts_nonempty
"""


@register("bpe_vocab_envelope", _BPE_VOCAB_ENVELOPE_ORACLE)
def bpe_vocab_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`bpe_vocab_merges` (the trained
    merge table, exactly replayable only via the udf-oracle trainer):
    one row of structural invariants any correct BPE training run
    satisfies — the table is non-empty (this corpus repeats pairs),
    within the ``BPE_NUM_MERGES`` cap, ranks are dense ``0..n-1``,
    every ``merged`` equals ``left || right``, the ``(left, right)``
    pairs are distinct (after a pair merges it no longer exists as a
    pair, so training can never re-pick it), and no part is empty.  A
    trainer that loops, skips ranks, or emits malformed rows flips a
    flag and fails the hash gate; merge-for-merge equality stays on
    the udf-oracle + the pytest differential trainer.
    """
    m = bpe_vocab_merges(spark, sf_dir)
    return m.agg(
        (F.count(F.lit(1)) >= 1).alias("nonempty"),
        (F.count(F.lit(1)) <= BPE_NUM_MERGES).alias("within_cap"),
        (
            (F.min("rank") == 0)
            & (F.max("rank") == F.count(F.lit(1)) - 1)
            & (F.count_distinct("rank") == F.count(F.lit(1)))
        ).alias("ranks_dense"),
        _bool_and(F.col("merged") == F.concat("left", "right")).alias(
            "merged_concat_ok"
        ),
        (
            F.count_distinct(F.struct("left", "right")) == F.count(F.lit(1))
        ).alias("pairs_distinct"),
        _bool_and((F.length("left") > 0) & (F.length("right") > 0)).alias(
            "parts_nonempty"
        ),
    )
