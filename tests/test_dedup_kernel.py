"""The dedup candidate → verify kernel against Python set arithmetic.

Hand-built (doc_id, sh) set frames and candidate frames run through
``posting_lists``, ``posting_pairs``, ``verify`` and ``exact_pairs``;
every score must equal the same ratio computed on Python ``set``s
(ints are exact in a double, so one division gives the same bits).
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import types as T

from mr_python_spark.dedup import exact_pairs, posting_lists, posting_pairs, verify

SETS = {
    1: {10, 11, 12, 13},
    2: {10, 11, 14, 15},
    3: {10, 11},  # jaccard(1, 3) = 2/4: exactly 0.5
    4: set(),  # a document too short to shingle
    5: {20, 21, 22, 23, 24},
    6: {20, 21, 22, 25, 26},  # containment(5, 6) = 3/5: exactly 0.6
    7: {30},
}
#: (1, 3) twice: a generator that did not dedupe its pairs
CAND = [(1, 2), (1, 3), (1, 3), (2, 3), (3, 4), (5, 6), (1, 5), (6, 7)]

_SETS_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("sh", T.ArrayType(T.LongType()))]
)


def _sets(spark, ids=SETS):
    return spark.createDataFrame([(d, sorted(SETS[d])) for d in ids], _SETS_SCHEMA)


def _score(a: int, b: int, measure: str) -> float:
    A, B = SETS[a], SETS[b]
    denom = len(A | B) if measure == "jaccard" else min(len(A), len(B))
    return len(A & B) / denom


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("measure,tau", [("jaccard", 0.5), ("containment", 0.6)])
def test_verify_matches_set_arithmetic(spark, measure, tau):
    # containment divides by the smaller set, so a candidate holding the
    # empty set is a division by zero; no generator emits one (every
    # candidate shares a shingle or a MinHash bucket), and jaccard
    # scores it 0
    pairs = [p for p in CAND if measure == "jaccard" or SETS[p[0]] and SETS[p[1]]]
    cand = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    sets = _sets(spark)
    got = verify(cand, sets, sets, measure=measure, tau=tau)
    assert got.columns == ["doc_a", "doc_b", measure]
    want = [(a, b, _score(a, b, measure)) for a, b in pairs]
    assert _rows(got) == sorted(w for w in want if w[2] >= tau)
    # the score exactly at tau is kept, and the duplicate candidate row
    # stays a duplicate: verify maps rows, the generator dedupes
    at_tau = {"jaccard": (1, 3, 0.5), "containment": (1, 3, 1.0)}[measure]
    assert _rows(got).count(at_tau) == 2
    assert measure == "jaccard" or (5, 6, 0.6) in _rows(got)


def test_verify_two_set_frames_and_named_columns(spark):
    """The incremental shape: a batch side and a corpus side, with the
    pair columns named by ``on``."""
    cand = spark.createDataFrame([(1, 2), (3, 1), (5, 6)], "doc_new long, doc_old long")
    got = verify(
        cand,
        _sets(spark, [1, 3, 5]),
        _sets(spark, [1, 2, 6]),
        on=("doc_new", "doc_old"),
        measure="jaccard",
        tau=0.3,
    )
    assert got.columns == ["doc_new", "doc_old", "jaccard"]
    want = [(a, b, _score(a, b, "jaccard")) for a, b in [(1, 2), (3, 1), (5, 6)]]
    assert _rows(got) == sorted(w for w in want if w[2] >= 0.3)


def test_exact_pairs_matches_set_arithmetic(spark):
    want = sorted(
        (a, b, len(SETS[a] & SETS[b]) / len(SETS[a] | SETS[b]))
        for a, b in combinations(sorted(SETS), 2)
        if SETS[a] & SETS[b]
    )
    got = exact_pairs(_sets(spark))
    assert got.columns == ["doc_a", "doc_b", "jaccard"]
    assert _rows(got) == want


def test_posting_pairs_once_per_posting_ordered(spark):
    rows = (
        [(d, "k1") for d in (3, 1, 2)]
        + [(5, "single")]
        + [(d, "popular") for d in range(100, 112)]  # 12 docs > cap
        + [(4, "k2"), (2, "k2")]
        + [(2, "k3"), (1, "k3")]
    )
    postings = posting_lists(spark.createDataFrame(rows, "doc_id long, key string"), "key", 10)
    assert _rows(postings) == [("k1", [1, 2, 3]), ("k2", [2, 4]), ("k3", [1, 2])]
    got = _rows(posting_pairs(postings))
    # (1, 2) sits in two postings, so it appears twice; within one
    # posting each pair appears once, smaller id first
    assert got == [(1, 2), (1, 2), (1, 3), (2, 3), (2, 4)]
    assert all(a < b for a, b in got)


def test_posting_lists_multi_column_key(spark):
    rows = [(1, 0, 7), (2, 0, 7), (1, 1, 7), (3, 1, 7), (4, 1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, band int, bhash long")
    got = _rows(posting_lists(df, ["band", "bhash"], 64))
    assert got == [(0, 7, [1, 2]), (1, 7, [1, 3])]
