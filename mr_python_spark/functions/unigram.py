"""Unigram-LM (SentencePiece-style) tokenizer: bounded-sample training,
distributed encode — the second of the two subword tokenizers modern
pipelines choose between (BPE builds up by merging; unigram starts
from a rich seed vocabulary and PRUNES, then segments each word by
lowest total piece cost).

Training is Viterbi-EM (the hard-EM simplification of Kudo 2018) on
the BPE trainer's own sample: both models read the one
``tokenizer.word_freq`` registry entry (``bpe.sample_word_freq``:
stride subset, ``ORDER BY doc_id LIMIT cap`` — constant driver memory
at any corpus size), so a session that trains both runs the sample
job once.  Encoding is the same ``bpe.token_stats`` pass, which the
bake-off runs once for both models.  The model ships to executors by
closure (≤ ``UNIGRAM_VOCAB`` piece→cost entries).

Determinism — the engine's no-float-logs recipe throughout:

* Piece cost is the BIT LENGTH of the exact integer inverse-probability
  ratio ``(T + V) div (count + 1)`` (T = Σ counts, V = |vocab| — the
  same add-V device as the bigram LM), so Viterbi compares exact
  integers, never float log-probs.
* Viterbi ties break to the LONGEST last piece (then the shorter
  candidates are never revisited) — a total order, identical in every
  implementation of the spec.
* Seed selection and pruning order by ``(count DESC, piece ASC)`` —
  total orders again.

The DuckDB gate reimplements the whole train+encode pipeline
independently in tools/udf_oracles.py (same spec, different code);
tests/test_hash_pipelines.py cross-checks a naive third trainer.

Reference scope note: tinymr has no tokenizer surface — this is the
training-data-pipeline extension tier (SURVEY.md §6), completing the
BPE/unigram tokenizer pair (functions/bpe.py is the other half).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_python_spark.functions.bpe import (
    STATS_ENVELOPE_ORACLE,
    bpe_encoder,
    sample_word_freq,
    stats_envelope,
    token_stats,
    trained_bpe_model,
)
from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache, load_table

#: longest piece considered anywhere (seeding, Viterbi window)
UNIGRAM_MAX_PIECE = 8
#: multi-char seed pieces kept (plus every single char seen)
UNIGRAM_SEED_MULTI = 2048
#: final vocabulary target (chars always survive pruning, so the
#: effective floor is the sample's alphabet size)
UNIGRAM_VOCAB = 512
#: Viterbi-EM rounds before pruning
UNIGRAM_EM_ITERS = 3
#: cost charged for a single character absent from the vocabulary
#: (corpus chars the sample never saw) — larger than any real piece
#: cost, which is bounded by bitlen(T + V) < 64
UNIGRAM_UNK_COST = 64


def _piece_cost(count: int, total: int, vocab_size: int) -> int:
    """Exact-integer piece cost: bitlen((T + V) div (c + 1)).

    ``c <= T`` and ``V >= 1`` keep the ratio >= 1, so the bit length
    is >= 1 and well-defined; a zero-count piece degrades toward the
    uniform ``T + V`` cost — the add-V smoothing of the bigram LM.
    """
    return ((total + vocab_size) // (count + 1)).bit_length()


def _viterbi(word: str, costs: dict[str, int]) -> list[str]:
    """Lowest-total-cost segmentation of ``word`` under ``costs``.

    dp ascends; candidate pieces are ``word[i:j]`` with
    ``j - i <= UNIGRAM_MAX_PIECE`` present in the vocab, plus the
    single-char UNK fallback at ``UNIGRAM_UNK_COST``.  Ties break to
    the LONGEST last piece (smallest i) — a total order, since the
    candidates at a given j have distinct lengths.
    """
    n = len(word)
    INF = float("inf")
    dp: list = [INF] * (n + 1)
    back = [0] * (n + 1)
    dp[0] = 0
    for j in range(1, n + 1):
        best_cost, best_i = INF, j - 1
        for i in range(max(0, j - UNIGRAM_MAX_PIECE), j):
            if dp[i] is INF:
                continue
            c = costs.get(word[i:j])
            if c is None:
                if j - i != 1:
                    continue
                c = UNIGRAM_UNK_COST
            cand = dp[i] + c
            # strict < : on equal cost the earlier (smaller) i — the
            # longer last piece — wins because i ascends
            if cand < best_cost:
                best_cost, best_i = cand, i
        dp[j] = best_cost
        back[j] = best_i
    out = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def train_unigram(word_freq: dict[str, int]):
    """Deterministic unigram-LM training over a word-frequency table.

    Returns ``(pieces, counts, costs)`` where ``pieces`` is the final
    vocabulary in rank order ``(count DESC, piece ASC)`` and the dicts
    carry the final Viterbi usage counts and bit costs.

    Stages (every order a total order):

    1. SEED: substring occurrence counts (freq-weighted, all start
       positions, length <= UNIGRAM_MAX_PIECE); vocabulary = every
       single char + the top UNIGRAM_SEED_MULTI multi-char pieces by
       (count DESC, piece ASC).
    2. VITERBI-EM x UNIGRAM_EM_ITERS: costs from current counts;
       re-count piece usage over each word's Viterbi segmentation
       (freq-weighted).
    3. PRUNE to UNIGRAM_VOCAB by (count DESC, piece ASC), single
       chars exempt; one final Viterbi recount over the pruned vocab
       gives the shipped counts and costs.
    """
    seed: dict[str, int] = {}
    for w, f in word_freq.items():
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(L, i + UNIGRAM_MAX_PIECE) + 1):
                s = w[i:j]
                seed[s] = seed.get(s, 0) + f
    chars = sorted(s for s in seed if len(s) == 1)
    multi = sorted(
        (s for s in seed if len(s) > 1), key=lambda s: (-seed[s], s)
    )[:UNIGRAM_SEED_MULTI]
    vocab = chars + multi
    counts = {s: seed[s] for s in vocab}

    def recount(costs: dict[str, int]) -> dict[str, int]:
        nxt = dict.fromkeys(vocab, 0)
        for w, f in word_freq.items():
            for piece in _viterbi(w, costs):
                if piece in nxt:
                    nxt[piece] += f
        return nxt

    for _ in range(UNIGRAM_EM_ITERS):
        total = sum(counts.values())
        v = len(vocab)
        costs = {s: _piece_cost(c, total, v) for s, c in counts.items()}
        counts = recount(costs)

    keep_multi = sorted(
        (s for s in vocab if len(s) > 1), key=lambda s: (-counts[s], s)
    )[: max(0, UNIGRAM_VOCAB - len(chars))]
    vocab = chars + keep_multi
    counts = {s: counts[s] for s in vocab}
    total = sum(counts.values())
    v = len(vocab)
    costs = {s: _piece_cost(c, total, v) for s, c in counts.items()}
    counts = recount(costs)
    total = sum(counts.values())
    costs = {s: _piece_cost(c, total, v) for s, c in counts.items()}
    pieces = sorted(vocab, key=lambda s: (-counts[s], s))
    return pieces, counts, costs


def trained_unigram(spark: SparkSession, sf_dir: str):
    """(pieces, counts, costs) for a corpus, trained on the BPE
    trainer's own sample entry (:func:`~mr_python_spark.functions.bpe.
    sample_word_freq`) and cached per file identity (the BPE/k-means/PQ
    model-cache pattern)."""
    return corpus_cache(
        "unigram.model", spark, sf_dir, lambda: train_unigram(sample_word_freq(spark, sf_dir))
    )


@register("unigram_vocab")  # deterministic piece table; udf-oracle tier
def unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram vocabulary: (rank, piece, count, cost_bits).

    The artifact a pipeline ships alongside the encoded corpus —
    inspectable, joinable, and the exact model the encode pass uses
    (rank order is the pruning total order).  Verified piece-for-piece
    against the independent oracle trainer (tools/udf_oracles.py) and
    the naive pytest reimplementation.
    """
    pieces, counts, costs = trained_unigram(spark, sf_dir)
    rows = [
        (i, s, counts[s], costs[s]) for i, s in enumerate(pieces)
    ]
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType()),
            T.StructField("piece", T.StringType()),
            T.StructField("count", T.LongType()),
            T.StructField("cost_bits", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def unigram_encoder(costs: dict[str, int]):
    """``word -> (pieces, oov_free)`` under ``costs``; oov_free means
    the Viterbi path never took the single-char UNK fallback (every
    piece is in the vocab)."""

    def encode(w: str) -> tuple[list[str], bool]:
        toks = _viterbi(w, costs)
        return toks, all(t in costs for t in toks)

    return encode


@register("unigram_token_stats")  # udf-oracle in tools/udf_oracles.py
def unigram_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword statistics under the trained unigram LM:
    word count, piece count, distinct pieces, OOV-free words (no UNK
    fallback anywhere in the word's Viterbi path) — the token-budget
    accounting pass, Viterbi flavor (the BPE twin is
    ``bpe_token_stats``; comparing the two is exactly the
    BPE-vs-unigram evaluation a tokenizer bake-off runs).

    Encoding is the shared :func:`~mr_python_spark.functions.bpe.
    token_stats` pass; the piece→cost model (≤ UNIGRAM_VOCAB entries)
    ships by closure.  All outputs are exact integers —
    bit-deterministic, gated against an independent DuckDB UDF
    reimplementation of the full train+encode pipeline.
    """
    _, _, costs = trained_unigram(spark, sf_dir)
    return token_stats(spark, sf_dir, {"unigram": unigram_encoder(costs)}).toDF(
        "doc_id", "n_words", "n_unigram_tokens", "n_unique_pieces", "n_oov_free_words"
    )


# --- tokenizer bake-off (BPE vs unigram, shared sample posture) --------

BAKEOFF_EXTRA_PIECES = 12  #: matched multi-char vocab budget for BOTH models


def budgeted_bpe_model(spark: SparkSession, sf_dir: str):
    """``(ranks, vocab)`` of the budget-``BAKEOFF_EXTRA_PIECES`` BPE:
    the first K merges of the trained table (greedy BPE training is
    sequential, so the K-prefix IS ``train_bpe(wf, K)`` — no retrain)
    plus the full sample alphabet."""
    merges, alphabet = trained_bpe_model(spark, sf_dir)
    b = merges[:BAKEOFF_EXTRA_PIECES]
    return {p: i for i, p in enumerate(b)}, alphabet | {x + y for x, y in b}


def budgeted_unigram_costs(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Piece→cost of the budget-``BAKEOFF_EXTRA_PIECES`` unigram LM:
    every single char (chars are prune-exempt, as in training) plus the
    top-K multi-char pieces in trained rank order ``(count DESC, piece
    ASC)``, costs refreshed from the restricted counts (prune without
    re-estimation — deterministic, total-ordered)."""
    pieces, counts, _ = trained_unigram(spark, sf_dir)
    keep = [p for p in pieces if len(p) == 1]
    keep += [p for p in pieces if len(p) > 1][:BAKEOFF_EXTRA_PIECES]
    total, v = sum(counts[p] for p in keep), len(keep)
    return {p: _piece_cost(counts[p], total, v) for p in keep}


@register("tokenizer_bakeoff_report")  # udf-oracle in tools/udf_oracles.py
def tokenizer_bakeoff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side BPE-vs-unigram evaluation at a MATCHED vocab budget
    — THE comparison a pipeline runs before picking a tokenizer (the
    BPE-vs-unigram ablation of Kudo & Richardson 2018, and the
    controlled setting of Bostrom & Durrett 2020: same multi-char
    budget for both models so the segmentation algorithm, not the
    vocabulary size, is what's measured).

    Both models train from the SAME sample entry
    (:func:`~mr_python_spark.functions.bpe.sample_word_freq`) and are
    restricted to the same
    ``BAKEOFF_EXTRA_PIECES`` multi-char budget — necessary here
    because at full budget both memorize this corpus' tiny word
    inventory and every metric degenerates to 1.0.  Per language:
    fertility (subwords per word), compression (chars per subword),
    and OOV-free coverage (fraction of words whose encoding never
    leaves the model vocab) for BOTH tokenizers.

    ONE :func:`~mr_python_spark.functions.bpe.token_stats` pass
    computes BOTH models' per-doc stats (the text crosses the Python
    boundary once and each doc is word-split once), one equi-join
    attaches the documents metadata, then a |langs|-row aggregate:
    every sum is an exact integer; each ratio is a final single IEEE
    division on identical operands — bit-deterministic cross-engine.
    At 100 TB the stats pass streams (per-batch word cache per model,
    models ship by closure), the doc_id join is an AQE-planned shuffle
    of narrow int frames (text never shuffles), and the aggregate is
    partial → |langs| rows.
    """
    encoders = {
        "bpe": bpe_encoder(*budgeted_bpe_model(spark, sf_dir)),
        "unigram": unigram_encoder(budgeted_unigram_costs(spark, sf_dir)),
    }
    sums = [f"{p}_{c}" for p in encoders for c in ("tokens", "oov_free_words")]
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    g = (
        token_stats(spark, sf_dir, encoders)
        .join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            *(F.sum(c).alias(c) for c in sums),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # Degenerate-language guard: a language whose docs are all
    # whitespace-empty has n_words = 0 (and then tokens = 0) — the
    # ratios are pinned to NULL explicitly, mirrored by NULLIF in the
    # udf-oracle, so both engines agree by construction instead of
    # relying on matching divide-by-zero semantics.
    ratio = lambda num, den: F.when(F.col(den) > 0, d(num) / d(den))  # noqa: E731
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_chars",
        "bpe_tokens",
        "unigram_tokens",
        "bpe_oov_free_words",
        "unigram_oov_free_words",
        ratio("bpe_tokens", "n_words").alias("bpe_fertility"),
        ratio("unigram_tokens", "n_words").alias("unigram_fertility"),
        ratio("n_chars", "bpe_tokens").alias("bpe_chars_per_token"),
        ratio("n_chars", "unigram_tokens").alias("unigram_chars_per_token"),
        ratio("bpe_oov_free_words", "n_words").alias("bpe_oov_free_rate"),
        ratio("unigram_oov_free_words", "n_words").alias("unigram_oov_free_rate"),
    )


_BAKEOFF_ENVELOPE_ORACLE = r"""
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
       TRUE AS bpe_fertility_ge_one,
       TRUE AS unigram_fertility_ge_one,
       TRUE AS bpe_tokens_le_chars,
       TRUE AS unigram_tokens_le_chars,
       TRUE AS bpe_coverage_valid,
       TRUE AS unigram_coverage_valid
FROM d GROUP BY lang
"""


@register("tokenizer_bakeoff_envelope", _BAKEOFF_ENVELOPE_ORACLE)
def tokenizer_bakeoff_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`tokenizer_bakeoff_report` (whose
    two trained encodes DuckDB can only replay via Python UDFs): runs
    the full bake-off — BOTH tokenizer trainings, BOTH Arrow encode
    passes, the joins, the per-language aggregate — and re-shapes the
    output into columns a model-free oracle pins exactly (``n_docs`` /
    ``n_words`` / ``n_chars``: whitespace tokenization is
    engine-agnostic, ``n_chars`` is table metadata) plus six invariant
    flags carrying both tokenizers' outputs: fertility ≥ 1 (every word
    encodes to ≥ 1 piece), Σtokens ≤ Σchars (pieces never outnumber
    characters), and 0 ≤ oov_free ≤ words for each model.  A broken
    trainer, encode, or join flips a flag or shifts an exact column
    and fails the hash gate; the full-strength token/coverage-count
    gate stays on the parent's udf-oracle in the sweep.  Same device
    as ``tokenizer_fertility_envelope``.
    """
    rep = tokenizer_bakeoff_report(spark, sf_dir)
    return rep.select(
        "lang",
        "n_docs",
        "n_words",
        "n_chars",
        (F.col("bpe_tokens") >= F.col("n_words")).alias("bpe_fertility_ge_one"),
        (F.col("unigram_tokens") >= F.col("n_words")).alias(
            "unigram_fertility_ge_one"
        ),
        (F.col("bpe_tokens") <= F.col("n_chars")).alias("bpe_tokens_le_chars"),
        (F.col("unigram_tokens") <= F.col("n_chars")).alias(
            "unigram_tokens_le_chars"
        ),
        (
            (F.col("bpe_oov_free_words") >= 0)
            & (F.col("bpe_oov_free_words") <= F.col("n_words"))
        ).alias("bpe_coverage_valid"),
        (
            (F.col("unigram_oov_free_words") >= 0)
            & (F.col("unigram_oov_free_words") <= F.col("n_words"))
        ).alias("unigram_coverage_valid"),
    )


@register("unigram_stats_envelope", STATS_ENVELOPE_ORACLE)
def unigram_stats_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`~mr_python_spark.functions.bpe.stats_envelope` of
    :func:`unigram_token_stats`: runs its full Arrow encode pass.  The
    BPE twin is ``bpe_stats_envelope``."""
    stats = unigram_token_stats(spark, sf_dir)
    return stats_envelope(spark, sf_dir, stats, "n_unigram_tokens", "n_unique_pieces")


_UNIGRAM_VOCAB_ENVELOPE_ORACLE = """
SELECT TRUE AS nonempty,
       TRUE AS within_cap,
       TRUE AS ranks_dense,
       TRUE AS pieces_distinct,
       TRUE AS pieces_len_valid,
       TRUE AS counts_nonneg,
       TRUE AS costs_positive
"""


@register("unigram_vocab_envelope", _UNIGRAM_VOCAB_ENVELOPE_ORACLE)
def unigram_vocab_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracle envelope for :func:`unigram_vocab` (the trained piece
    table, exactly replayable only via the udf-oracle trainer): one row
    of structural invariants any correct unigram-LM training run
    satisfies — non-empty vocabulary, size within the prune budget
    (``UNIGRAM_VOCAB``, or the single-char floor when the alphabet
    alone exceeds it — single chars are prune-exempt), dense ranks
    ``0..n-1``, distinct pieces, piece lengths in
    ``1..UNIGRAM_MAX_PIECE``, non-negative counts, and positive
    integer costs.  A trainer that over-prunes, loops, or emits
    malformed rows flips a flag and fails the hash gate;
    piece-for-piece equality stays on the udf-oracle + the pytest
    differential trainer.  The BPE twin is ``bpe_vocab_envelope``.
    """
    v = unigram_vocab(spark, sf_dir)
    n = F.count(F.lit(1))
    n_singles = F.sum((F.length("piece") == 1).cast("long"))
    return v.agg(
        (n >= 1).alias("nonempty"),
        (n <= F.greatest(F.lit(UNIGRAM_VOCAB), n_singles)).alias(
            "within_cap"
        ),
        (
            (F.min("rank") == 0)
            & (F.max("rank") == n - 1)
            & (F.count_distinct("rank") == n)
        ).alias("ranks_dense"),
        (F.count_distinct("piece") == n).alias("pieces_distinct"),
        F.min(
            (F.length("piece") >= 1)
            & (F.length("piece") <= UNIGRAM_MAX_PIECE)
        ).alias("pieces_len_valid"),
        F.min(F.col("count") >= 0).alias("counts_nonneg"),
        F.min(F.col("cost_bits") > 0).alias("costs_positive"),
    )
