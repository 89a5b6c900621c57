"""``tools/probe.py``: its query lists and its replica-fixture recipe.

The fixture tests run the recipe on the test scale factor (sf0.001)
under ``tmp_path`` with DuckDB; no Spark session is started.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest
from conftest import SF_DIR as SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.probe import PROBES, fixture  # noqa: E402

#: replicated table -> its id column, offset per replica
FACTS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "events": "event_id",
    "embeddings": "vec_id",
}


@pytest.fixture(scope="module")
def x2(tmp_path_factory):
    root = tmp_path_factory.mktemp("fixtures")
    return root, fixture(SF, 2, tuple(FACTS) + ("nation",), root=str(root))


def _rows(sql):
    return duckdb.sql(sql).fetchall()


def test_every_probe_query_is_registered():
    import __spark_entry__ as entry

    queries = entry.queries()
    assert len(set(PROBES["scale"]["queries"])) == 53
    assert len(set(PROBES["cold_warm"]["queries"])) == 20
    for spec in PROBES.values():
        assert [n for n in spec["queries"] if n not in queries] == []


def test_fact_tables_double_and_dimensions_are_copied(x2):
    _, dst = x2
    for table in FACTS:
        (src_n,), = _rows(f"SELECT count(*) FROM '{SF}/{table}.parquet'")
        (dst_n,), = _rows(f"SELECT count(*) FROM '{dst}/{table}.parquet'")
        assert dst_n == 2 * src_n, table
    assert _rows(f"SELECT * FROM '{dst}/nation.parquet' ORDER BY ALL") == _rows(
        f"SELECT * FROM '{SF}/nation.parquet' ORDER BY ALL"
    )


@pytest.mark.parametrize("table,offset", [
    ("orders", None), ("documents", 1_000_000), ("embeddings", 1_000_000),
])
def test_replica_id_ranges_are_disjoint(x2, table, offset):
    _, dst = x2
    col = FACTS[table]
    (lo, hi, n), = _rows(f"SELECT min({col}), max({col}), count(*) FROM '{SF}/{table}.parquet'")
    if offset is None:
        offset = hi + 1
    ranges = _rows(
        f"SELECT {col} // {offset} AS i, min({col}), max({col}), count(DISTINCT {col}) "
        f"FROM '{dst}/{table}.parquet' GROUP BY i ORDER BY i"
    )
    assert ranges == [(0, lo, hi, n), (1, lo + offset, hi + offset, n)]


def test_token_vocabularies_are_disjoint(x2):
    _, dst = x2
    vocab = {
        i: {t for (t,) in _rows(
            f"SELECT DISTINCT unnest(regexp_extract_all(text, '\\S+')) "
            f"FROM '{dst}/documents.parquet' WHERE doc_id // 1000000 = {i}"
        )}
        for i in (0, 1)
    }
    assert vocab[0] and vocab[1]
    assert vocab[0].isdisjoint(vocab[1])


def test_rotation_keeps_dot_products_within_a_replica(x2):
    _, dst = x2
    rows = _rows(
        f"SELECT vec_id // 1000000, vec_id % 1000000, embedding "
        f"FROM '{dst}/embeddings.parquet' WHERE vec_id % 1000000 < 40"
    )
    vecs = {(i, v): e for i, v, e in rows}
    ids = sorted({v for _, v in vecs})
    assert len(ids) == 40
    assert vecs[(1, ids[0])] != vecs[(0, ids[0])]

    def dot(i, a, b):  # fsum is exactly rounded: the same products give the same sum
        return math.fsum(x * y for x, y in zip(vecs[(i, a)], vecs[(i, b)]))

    for a in ids:
        for b in ids:
            assert dot(1, a, b) == dot(0, a, b)


def test_another_replica_count_gets_its_own_directory(x2):
    root, dst = x2
    other = fixture(SF, 3, ("embeddings",), root=str(root))
    assert other != dst
    assert os.path.basename(dst) == f"{os.path.basename(SF)}_x2"
    assert os.path.basename(other) == f"{os.path.basename(SF)}_x3"
    (src_n,), = _rows(f"SELECT count(*) FROM '{SF}/embeddings.parquet'")
    (n,), = _rows(f"SELECT count(*) FROM '{other}/embeddings.parquet'")
    assert n == 3 * src_n
    assert not os.path.exists(os.path.join(other, "documents.parquet"))
