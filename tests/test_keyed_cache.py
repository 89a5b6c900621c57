"""Unit tests for the corpus-cache registry (session.corpus_cache /
session.evict) and the scan-frame cache's session/staleness semantics.

The cache rule lives in ONE implementation by design (a round-12
self-review found three drifting inline copies); these tests pin the
contract every consumer relies on: hit on same identity, rebuild on a
rewritten file with every entry built on the old identity evicted,
recorded dependencies cascading on ``evict``, one build under
concurrent lookups, and evicted frames released.  The stub-based tests
need no SparkSession — a stub with the one attribute the registry
reads keeps them sub-second.
"""

from __future__ import annotations

import glob
import os
import re
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from mr_python_spark import session
from mr_python_spark.session import corpus_cache, evict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _StubSpark:
    class _SC:
        applicationId = "app-test"

    sparkContext = _SC()


class _StubFrame(DataFrame):
    """A DataFrame the registry can release without a JVM: records
    each ``unpersist`` call in ``log``."""

    _jdf = None  # no checkpoint RDD to release

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, log: list):
        self.log = log

    def unpersist(self, blocking: bool = False):
        self.log.append(self)
        return self


def _write_docs(d, text="x"):
    pq.write_table(pa.table({"text": pa.array([text])}), str(d / "documents.parquet"))


def _entries(name: str) -> list:
    return [k for k in session._CORPUS if k[0] == name]


def test_corpus_cache_hit_rebuild_and_eviction(tmp_path):
    _write_docs(tmp_path)
    frames, unpersisted = [], []

    def build():
        frames.append(_StubFrame(unpersisted))
        return frames[-1]

    spark = _StubSpark()
    a = corpus_cache("test.hit", spark, str(tmp_path), build)
    b = corpus_cache("test.hit", spark, str(tmp_path), build)
    assert a is b is frames[0] and len(frames) == 1 and not unpersisted

    # rewritten file (new mtime_ns) -> rebuild, stale entry evicted
    time.sleep(0.01)
    _write_docs(tmp_path, text="y")
    c = corpus_cache("test.hit", spark, str(tmp_path), build)
    assert c is frames[1] and unpersisted == [frames[0]]
    assert len(_entries("test.hit")) == 1
    evict("test.hit")


def test_corpus_cache_table_parameter(tmp_path):
    pq.write_table(pa.table({"a": pa.array([1])}), str(tmp_path / "orders.parquet"))
    got = corpus_cache(
        "test.orders", _StubSpark(), str(tmp_path), lambda: "orders-frame",
        table="orders",
    )
    assert got == "orders-frame"
    (key,) = _entries("test.orders")
    assert key[2].endswith("orders.parquet")
    evict("test.orders")


def test_evict_cascades_to_entries_built_on_it(tmp_path):
    _write_docs(tmp_path)
    spark, sf = _StubSpark(), str(tmp_path)

    def inner():
        return corpus_cache("test.inner", spark, sf, lambda: "inner")

    def outer():
        return corpus_cache("test.outer", spark, sf, lambda: inner() + "+outer")

    assert outer() == "inner+outer"
    evict("test.inner")
    assert not _entries("test.inner") and not _entries("test.outer")

    # the edge is recorded on a hit too, and points one way only
    inner()
    outer()
    evict("test.outer")
    assert _entries("test.inner") and not _entries("test.outer")
    evict("test.inner")


def test_new_file_identity_evicts_every_name_built_on_it(tmp_path):
    _write_docs(tmp_path)
    spark, sf = _StubSpark(), str(tmp_path)
    unpersisted: list = []
    frame = _StubFrame(unpersisted)
    corpus_cache("test.frame", spark, sf, lambda: frame)
    corpus_cache("test.scalar", spark, sf, lambda: 7)

    time.sleep(0.01)
    _write_docs(tmp_path, text="y")
    # a lookup of ONE name sees the new identity ...
    assert corpus_cache("test.scalar", spark, sf, lambda: 8) == 8
    # ... and the other name's stale entry is gone and released too
    assert unpersisted == [frame]
    assert not _entries("test.frame") and len(_entries("test.scalar")) == 1
    evict("test.scalar")


def test_concurrent_lookups_build_once(tmp_path):
    _write_docs(tmp_path)
    spark, sf = _StubSpark(), str(tmp_path)
    builds, got = [], []
    start = threading.Barrier(2)

    def build():
        builds.append(1)
        time.sleep(0.05)
        return object()

    def lookup():
        start.wait()
        got.append(corpus_cache("test.threads", spark, sf, build))

    threads = [threading.Thread(target=lookup) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1 and len(got) == 2 and got[0] is got[1]
    evict("test.threads")


def test_no_module_level_corpus_caches():
    """Corpus-derived values live in the one registry: no module keeps
    its own cache dict again (session._SCAN_CACHE, a per-session-object
    plan memo, is the one exception)."""
    pattern = re.compile(r"^_[A-Z_]*(CACHE|MODELS)\b.*= \{\}|_TRAINED\b", re.M)
    hits = [
        f"{os.path.relpath(p, REPO)}:{m.group(0)}"
        for p in glob.glob(os.path.join(REPO, "mr_python_spark", "**", "*.py"),
                           recursive=True)
        for m in pattern.finditer(open(p, encoding="utf-8").read())
    ]
    assert all(h.startswith("mr_python_spark/session.py:_SCAN_CACHE:")
               for h in hits), hits


def test_scan_cache_serves_per_session_and_evicts_stale(spark, tmp_path):
    from mr_python_spark.session import _SCAN_CACHE, load_table

    pq.write_table(
        pa.table({"doc_id": pa.array([1], type=pa.int64()), "text": pa.array(["a"]),
                  "lang": pa.array(["en"]), "source": pa.array(["t"]),
                  "n_chars": pa.array([1], type=pa.int64())}),
        str(tmp_path / "documents.parquet"),
    )
    d1 = load_table(spark, str(tmp_path), "documents")
    assert load_table(spark, str(tmp_path), "documents") is d1  # hit
    time.sleep(0.01)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], type=pa.int64()),
                  "text": pa.array(["a", "b"]), "lang": pa.array(["en", "en"]),
                  "source": pa.array(["t", "t"]),
                  "n_chars": pa.array([1, 1], type=pa.int64())}),
        str(tmp_path / "documents.parquet"),
    )
    d2 = load_table(spark, str(tmp_path), "documents")
    assert d2 is not d1 and d2.count() == 2
    path = os.path.realpath(str(tmp_path / "documents.parquet"))
    same_path = [k for k in _SCAN_CACHE if k[2] == path]
    assert len(same_path) == 1  # the stale entry was evicted


def test_cached_jaccard_pairs_shared_and_consistent(spark):
    """r17: the verified pair frame is cached and consumed by the
    family (cross-source matrix, graph edge builds) — repeat calls must
    return the SAME cached object, and its rows must equal a fresh
    uncached build of dedup_ngram_jaccard (evicting the cache first so
    the CacheManager cannot rewrite the fresh plan to the cached
    relation)."""
    from mr_python_spark import dedup

    sf = "/root/testdata/sf0.001"
    p1 = dedup.cached_jaccard_pairs(spark, sf)
    assert dedup.cached_jaccard_pairs(spark, sf) is p1  # cache hit
    got = sorted(tuple(r) for r in p1.collect())
    evict("dedup.ngram_pairs")
    fresh = sorted(
        tuple(r) for r in dedup.dedup_ngram_jaccard(spark, sf).collect()
    )
    assert got == fresh


def test_evict_shingles_cascades_to_verified_pairs(spark):
    """The pair frame is built on the candidate chain, which is built on
    the shingles: evicting the shingles evicts the pairs, and the
    rebuilt query returns the same rows."""
    from conftest import SF_DIR as sf

    from mr_python_spark import dedup

    before = sorted(tuple(r) for r in dedup.dedup_ngram_jaccard(spark, sf).collect())
    dedup.cached_jaccard_pairs(spark, sf).count()
    assert _entries("dedup.ngram_pairs")
    evict("dedup.shingles")
    assert not _entries("dedup.ngram_pairs")
    after = sorted(tuple(r) for r in dedup.dedup_ngram_jaccard(spark, sf).collect())
    assert after == before


def test_dedup_caches_all_go_through_the_registry(spark):
    """Evicting every registry name leaves the CacheManager empty after
    the exact tier and ``dedup_minhash_lsh`` on custom docs ran: neither
    may ``.cache()`` a frame the registry cannot release."""
    from conftest import SF_DIR as sf

    from mr_python_spark import dedup
    from mr_python_spark.session import load_table

    def evict_all():
        evict(*{key[0] for key in session._CORPUS})

    evict_all()
    spark.catalog.clearCache()
    dedup.dedup_ngram_jaccard_exact(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    dedup.dedup_minhash_lsh(spark, sf, docs=docs).collect()
    evict_all()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
