"""Unit tests for the corpus-cache registry (session.corpus_cache /
session.evict) and the scan-frame cache's session/staleness semantics.

The cache rule lives in ONE implementation by design (a round-12
self-review found three drifting inline copies); these tests pin the
contract every consumer relies on: hit on same identity, rebuild on a
rewritten file with every entry built on the old identity evicted,
recorded dependencies cascading on ``evict``, one build under
concurrent lookups, every stored frame pinned as a local checkpoint
and released on eviction, and registry plans that do not depend on
call order.  A stub session with the one attribute the registry reads
stands in for the application; the stored frames are real ones.
"""

from __future__ import annotations

import glob
import os
import re
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mr_python_spark import session
from mr_python_spark.session import corpus_cache, evict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class _StubSpark:
    class _SC:
        applicationId = "app-test"

    sparkContext = _SC()


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: SLF001


def _stored_rdd(frame) -> int:
    """The id of the checkpointed RDD behind a stored frame."""
    return session._checkpoint_rdd(frame).id()  # noqa: SLF001


def _write_docs(d, text="x"):
    pq.write_table(pa.table({"text": pa.array([text])}), str(d / "documents.parquet"))


def _entries(name: str) -> list:
    return [k for k in session._CORPUS if k[0] == name]


def test_corpus_cache_hit_rebuild_and_eviction(spark, tmp_path):
    _write_docs(tmp_path)
    built = []

    def build():
        built.append(spark.range(len(built) + 1))
        return built[-1]

    stub, sf = _StubSpark(), str(tmp_path)
    a = corpus_cache("test.hit", stub, sf, build)
    assert corpus_cache("test.hit", stub, sf, build) is a and len(built) == 1
    # stored pinned: a checkpoint of the build's frame, not the frame
    assert a is not built[0] and a.count() == 1
    assert _stored_rdd(a) in _persistent_rdds(spark)

    # rewritten file (new mtime_ns) -> rebuild, stale entry released
    time.sleep(0.01)
    _write_docs(tmp_path, text="y")
    c = corpus_cache("test.hit", stub, sf, build)
    assert len(built) == 2 and c.count() == 2
    assert _stored_rdd(a) not in _persistent_rdds(spark)
    assert len(_entries("test.hit")) == 1
    evict("test.hit")
    assert _stored_rdd(c) not in _persistent_rdds(spark)

    # a frame that already is a checkpoint is stored as it is
    pinned = spark.range(3).localCheckpoint(eager=True)
    assert corpus_cache("test.pinned", stub, sf, lambda: pinned) is pinned
    evict("test.pinned")
    assert _stored_rdd(pinned) not in _persistent_rdds(spark)


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


def test_new_file_identity_evicts_every_name_built_on_it(spark, tmp_path):
    _write_docs(tmp_path)
    stub, sf = _StubSpark(), str(tmp_path)
    frame = corpus_cache("test.frame", stub, sf, lambda: spark.range(1))
    corpus_cache("test.scalar", stub, sf, lambda: 7)

    time.sleep(0.01)
    _write_docs(tmp_path, text="y")
    # a lookup of ONE name sees the new identity ...
    assert corpus_cache("test.scalar", stub, sf, lambda: 8) == 8
    # ... and the other name's stale entry is gone and released too
    assert _stored_rdd(frame) not in _persistent_rdds(spark)
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
    """The verified pair frame is stored once and read by the family
    (cross-source matrix, graph edge builds) through
    ``dedup_ngram_jaccard``: repeat calls return the SAME stored
    object, and its rows equal a fresh run of the verify join."""
    from mr_python_spark import dedup

    sf = "/root/testdata/sf0.001"
    p1 = dedup.dedup_ngram_jaccard(spark, sf)
    assert dedup.dedup_ngram_jaccard(spark, sf) is p1  # cache hit
    got = sorted(tuple(r) for r in p1.collect())
    fresh = sorted(tuple(r) for r in dedup._ngram_pairs(spark, sf).collect())
    assert got == fresh


def test_evict_shingles_cascades_to_verified_pairs(spark):
    """The pair frame is built on the candidate chain, which is built on
    the shingles: evicting the shingles evicts the pairs, and the
    rebuilt query returns the same rows."""
    from conftest import SF_DIR as sf

    from mr_python_spark import dedup

    before = sorted(tuple(r) for r in dedup.dedup_ngram_jaccard(spark, sf).collect())
    assert _entries("dedup.ngram_pairs")
    evict("dedup.shingles")
    assert not _entries("dedup.ngram_pairs")
    after = sorted(tuple(r) for r in dedup.dedup_ngram_jaccard(spark, sf).collect())
    assert after == before


def _shared_root_family(family: str):
    """(root entry, the entries its members build, the modules whose
    registry lookups are counted, the members) of a family whose
    members read one shared root."""
    if family == "tokenizer":
        from mr_python_spark.functions import bpe, unigram

        return (
            "tokenizer.word_freq",
            ["bpe.model", "tokenizer.word_freq", "unigram.model"],
            [bpe, unigram],
            [bpe.trained_merges, lambda spark, sf: unigram.trained_unigram(spark, sf)[0]],
        )
    from mr_python_spark import multimodal

    return (
        "multimodal.image_features",
        ["multimodal.image_features"],
        [multimodal],
        [multimodal.multimodal_phash_dedup, multimodal.multimodal_resize_nearest],
    )


def _value(v):
    return sorted(tuple(r) for r in v.collect()) if hasattr(v, "collect") else v


@pytest.mark.parametrize("family", ["tokenizer", "images"])
def test_family_shares_one_root_entry(spark, monkeypatch, family):
    """The members of a family read one root entry: calling them all
    builds the root once and nothing but their own entries, evicting
    the root leaves no entry of the family, and the rebuilt members
    return what they returned before.  The BPE and unigram trainers
    read one ``tokenizer.word_freq`` sample; the pHash and resize
    queries read one ``multimodal.image_features`` decode."""
    from conftest import SF_DIR as sf

    root, built, modules, members = _shared_root_family(family)
    builds = []

    def counted(name, spark, sf_dir, build, **kwargs):
        def build_counted():
            builds.append(name)
            return build()

        return corpus_cache(name, spark, sf_dir, build_counted, **kwargs)

    for module in modules:
        monkeypatch.setattr(module, "corpus_cache", counted)
    evict(*built)
    before = [_value(member(spark, sf)) for member in members]
    assert sorted(builds) == built
    evict(root)
    spaces = {name.split(".")[0] for name in built}
    assert not [k for k in session._CORPUS if k[0].split(".")[0] in spaces]  # noqa: SLF001
    assert [_value(member(spark, sf)) for member in members] == before
    assert builds.count(root) == 2


def _evict_all():
    evict(*{key[0] for key in session._CORPUS})  # noqa: SLF001


def _plan(df) -> str:
    """``df``'s executed plan with the ids that differ between two
    builds of one plan masked: expression ids (lambda variables carry
    theirs in the name), RDD ids and plan ids."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1#", plan)
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


@pytest.fixture(scope="module")
def cold_warm_plans(spark):
    """The executed plan of each ``PROBES["cold_warm"]`` consumer twice:
    right after evicting the registry, and after all of them ran.  The
    run starts with no frame that another test cached or persisted."""
    import __spark_entry__ as entry
    from conftest import SF_DIR as sf

    from tools.probe import PROBES

    _evict_all()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():  # noqa: SLF001
        rdd.unpersist(False)
    qs = entry.queries()
    names = PROBES["cold_warm"]["queries"]
    cold = {}
    for name in names:
        _evict_all()
        cold[name] = _plan(qs[name](spark, sf))
    for name in names:
        qs[name](spark, sf).write.format("noop").mode("overwrite").save()
    return {name: (cold[name], _plan(qs[name](spark, sf))) for name in names}


def test_registry_plans_do_not_depend_on_call_order(cold_warm_plans):
    changed = [name for name, (cold, warm) in cold_warm_plans.items() if cold != warm]
    assert changed == []


def test_dedup_caches_all_go_through_the_registry(spark, cold_warm_plans):
    """Evicting every registry name leaves the CacheManager and Spark's
    persistent RDDs empty after the cold/warm consumers, the exact tier
    and ``dedup_minhash_lsh`` on custom docs ran: none may ``.cache()``
    or ``.persist()`` a frame the registry cannot release."""
    from conftest import SF_DIR as sf

    from mr_python_spark import dedup
    from mr_python_spark.session import load_table

    assert len(cold_warm_plans) == 20  # the consumers ran first
    dedup.dedup_ngram_jaccard_exact(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    dedup.dedup_minhash_lsh(spark, sf, docs=docs).collect()
    _evict_all()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdds(spark) == set()
