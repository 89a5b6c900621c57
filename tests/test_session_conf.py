"""Queries never write their caller's conf, and give the same rows
serially and from a thread pool on one shared session.

A query that needs its own conf binds its frame to a session clone
(``session.with_conf``), so an engine call is safe on a session that
other threads are planning on.  These tests pin that contract: a static
guard on the package, tools and bench source, a check that the
process-global ``RDD.toDF`` still points where it did after a stream
or a clone, a spy on the caller's ``RuntimeConfig`` while the
conf-bound queries are built and collected, and a threaded re-run of
those queries (plus three whose plans depend on the session's
broadcast threshold, and the corpus-registry consumers of the
cold/warm probe, whose registry builds then run concurrently)
compared exactly with the serial run.
"""

from __future__ import annotations

import glob
import os
import re
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.conf import RuntimeConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

#: the queries that need a conf of their own
CONF_BOUND = [
    "join_bloom_runtime_filter",
    "join_bucketed_colocated",
    "sink_dynamic_partition_overwrite",
    "streaming_sessions_tws",
    "streaming_parquet_sink",
    "pyds_stream_ticks",
    "streaming_stateful_sessions",
]
#: plans that follow the session's autoBroadcastJoinThreshold
BROADCAST_DEPENDENT = ["q3_shipping_priority", "q5_local_supplier", "join_left_outer_agg"]
#: queries that hand their stream's micro-batches to ``foreachBatch``
FOREACH_BATCH = ["streaming_parquet_sink", "streaming_incremental_mv", "streaming_cdc_apply"]
#: queries whose result is a memory sink read back onto the caller's session
MEMORY_SINK = ["streaming_sessions_tws", "streaming_stateful_sessions", "pyds_stream_ticks"]


def _registry_consumers() -> list[str]:
    """The corpus-registry consumers the cold/warm probe times."""
    from tools.probe import PROBES

    return PROBES["cold_warm"]["queries"]


def _sorted(df):
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True).fillna("<NULL>")


def test_no_conf_writes_outside_session_module():
    """The package, the tools and the bench write no conf: only
    ``session.py`` does."""
    pattern = re.compile(r"\.conf\.(set|unset)\(")
    paths = [
        *glob.glob(os.path.join(REPO, "mr_python_spark", "**", "*.py"), recursive=True),
        *glob.glob(os.path.join(REPO, "tools", "**", "*.py"), recursive=True),
        os.path.join(REPO, "bench.py"),
    ]
    hits = [
        f"{os.path.relpath(p, REPO)}:{m.group(0)}"
        for p in paths
        if os.path.relpath(p, REPO) != os.path.join("mr_python_spark", "session.py")
        for m in pattern.finditer(open(p, encoding="utf-8").read())
    ]
    assert len(paths) > 40
    assert hits == []


def test_package_reads_no_other_env_knob():
    """The package reads the core count and the driver memory from the
    environment, and nothing else: a deployment configures the session
    it brings to ``ensure_session``."""
    pattern = re.compile(r"SPARK_GRAFT_\w+")
    paths = glob.glob(os.path.join(REPO, "mr_python_spark", "**", "*.py"), recursive=True)
    names = {m.group(0) for p in paths for m in pattern.finditer(open(p, encoding="utf-8").read())}
    assert len(paths) > 30
    assert names <= {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def test_with_conf_leaves_caller_and_rdd_to_df_alone(spark):
    from pyspark.rdd import RDD

    from mr_python_spark.session import with_conf

    to_df, before = RDD.toDF, dict(spark.conf.getAll)
    df = with_conf(spark.range(3), {"spark.sql.shuffle.partitions": "3"})
    assert df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "3"
    assert dict(spark.conf.getAll) == before
    assert RDD.toDF is to_df
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]


@pytest.mark.parametrize("name", FOREACH_BATCH)
def test_foreach_batch_streams_leave_rdd_to_df_alone(spark, name):
    """pyspark builds a ``SparkSession`` per micro-batch, which repoints
    ``RDD.toDF``; the query must point it back."""
    from pyspark.rdd import RDD

    import __spark_entry__ as entry

    to_df = RDD.toDF
    entry.queries()[name](spark, SF).collect()
    assert RDD.toDF is to_df


@pytest.fixture(scope="module")
def serial(spark):
    """Every query built and collected once, serially, with the caller's
    ``RuntimeConfig.set``/``unset`` spied on."""
    import __spark_entry__ as entry

    from mr_python_spark.session import ensure_session

    ensure_session(spark)  # its one-time conf writes are not a query's
    queries = entry.queries()
    caller = spark._jsparkSession.conf()  # noqa: SLF001
    calls = []
    originals = {name: getattr(RuntimeConfig, name) for name in ("set", "unset")}

    def spy(name):
        def wrapper(self, *args, **kwargs):
            if self._jconf.equals(caller):  # noqa: SLF001
                calls.append((name, args))
            return originals[name](self, *args, **kwargs)

        return wrapper

    for name in originals:
        setattr(RuntimeConfig, name, spy(name))
    conf_before = dict(spark.conf.getAll)
    names = CONF_BOUND + BROADCAST_DEPENDENT + _registry_consumers()
    try:
        frames = {name: queries[name](spark, SF) for name in names}
        rows = {name: _sorted(df) for name, df in frames.items()}
    finally:
        for name, original in originals.items():
            setattr(RuntimeConfig, name, original)
    return dict(names=names, queries=queries, frames=frames, rows=rows, calls=calls,
                conf_before=conf_before)


def test_no_query_writes_its_callers_conf(spark, serial):
    assert serial["calls"] == []
    assert dict(spark.conf.getAll) == serial["conf_before"]
    for name in MEMORY_SINK:
        df = serial["frames"][name]
        assert df.sparkSession is spark, name
        assert df._jdf.sparkSession().equals(spark._jsparkSession), name  # noqa: SLF001


def test_threaded_queries_match_serial(spark, serial):
    """Four threads run every query of the serial pass on an empty
    corpus registry, so its builds (the subword trainers' shared
    sample among them) run concurrently under the registry lock."""
    from mr_python_spark import session

    names, queries = serial["names"], serial["queries"]
    session.evict(*{key[0] for key in session._CORPUS})  # noqa: SLF001
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the driver-side builds finely
    try:
        with ThreadPoolExecutor(4) as pool:
            rows = dict(zip(names, pool.map(lambda n: _sorted(queries[n](spark, SF)), names)))
    finally:
        sys.setswitchinterval(interval)
    for name in names:
        assert rows[name].equals(serial["rows"][name]), f"{name}: threaded run differs"
    assert dict(spark.conf.getAll) == serial["conf_before"]
