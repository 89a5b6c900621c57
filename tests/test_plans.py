"""Physical-plan regression tests (no execution — plan inspection only).

Asserts the scale-critical plan properties documented in docs/SCALE.md
via tools/explain_audit.py: pushed filters, broadcast joins, partial
aggregation, TakeOrderedAndProject top-k, and the absence of
cartesian products.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.explain_audit import (  # noqa: E402
    AUDITS,
    FRAME_BUILDERS,
    bare_fact_fact_joins,
    broadcast_fact_builds,
    count_broadcast_exchanges,
    formatted_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entrymod(spark):
    import __spark_entry__ as m

    return m


@pytest.mark.parametrize("name", sorted(AUDITS))
def test_plan_properties(spark, entrymod, name):
    spec = AUDITS[name]
    fn = FRAME_BUILDERS.get(name) or entrymod.queries()[name]
    plan = formatted_plan(fn(spark, SF))
    for pat in spec.get("must", []):
        assert re.search(pat, plan), f"{name}: missing /{pat}/\n{plan}"
    for pat in spec.get("must_not", []):
        assert not re.search(pat, plan), f"{name}: forbidden /{pat}/\n{plan}"
    expected_hints = spec.get("hinted_broadcasts")
    if expected_hints is not None:
        # with stats-based broadcasting off, any BroadcastExchange left
        # is a forced hint — must equal the constant-dim hint count
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            nostats_df = fn(spark, SF)
            got = count_broadcast_exchanges(nostats_df)
            nostats = formatted_plan(nostats_df)
            # round-15 structural rules (r14 verdict order #5): a
            # hint-forced broadcast must never reach an unbounded fact
            # scan, and opted-in star queries must apply a dimension
            # before any fact(x)fact join
            accepted = spec.get("accepted_fact_builds", [])
            fact_builds = [
                t for t in broadcast_fact_builds(nostats_df) if t not in accepted
            ]
            assert not fact_builds, (
                f"{name}: forced broadcast of unbounded fact {fact_builds}"
            )
            if spec.get("selective_dim_first"):
                bare = bare_fact_fact_joins(nostats_df)
                assert not bare, (
                    f"{name}: fact-fact join before any dim: {bare}"
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        assert got == expected_hints, (
            f"{name}: {got} hinted broadcasts, expected {expected_hints}\n{nostats}"
        )
    if spec.get("selective_dim_first"):
        bare = bare_fact_fact_joins(fn(spark, SF))
        assert not bare, f"{name}: fact-fact join before any dim: {bare}"


@pytest.mark.parametrize(
    "name", ["join_bloom_runtime_filter", "join_bucketed_colocated"]
)
def test_conf_bound_plan_properties_on_fresh_query_execution(spark, entrymod, name):
    """A write action plans its frame on a NEW QueryExecution, as
    ``select("*")`` does; the conf these queries need must still reach
    that plan, not only the one ``collect`` reuses."""
    spec = AUDITS[name]
    plan = formatted_plan(entrymod.queries()[name](spark, SF).select("*"))
    for pat in spec.get("must", []):
        assert re.search(pat, plan), f"{name}: missing /{pat}/\n{plan}"
    for pat in spec.get("must_not", []):
        assert not re.search(pat, plan), f"{name}: forbidden /{pat}/\n{plan}"


def test_bare_fact_fact_detector_fires_on_r13_q5_shape(spark, entrymod):
    """The r13 q5 pathology — lineitem joined to orders BEFORE the
    region dimension filter touched either side — must be flagged by
    the structural detector (it was caught by a hand probe in r14;
    this pins the mechanized rule from the r14 verdict, order #5)."""
    from pyspark.sql import functions as F

    from mr_python_spark.session import load_table

    region = load_table(spark, SF, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, SF, "nation")
    customer = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    # the r13 shape: the two fact tables meet first, dims after
    bad = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    hits = bare_fact_fact_joins(bad)
    assert hits and any("lineitem" in h and "orders" in h for h in hits), hits
    # HEAD's q5 (selective-dimension-first) stays clean
    good = entrymod.queries()["q5_local_supplier"](spark, SF)
    assert bare_fact_fact_joins(good) == []


def test_fact_broadcast_detector_fires_on_forced_fact_build(spark):
    """A hint-forced broadcast whose build subtree reaches a fact scan
    with no bound (no limit / no aggregate) is the 100 TB OOM the q5
    sf1 probe caught in r14 — the detector must flag it, and must NOT
    flag bounded fact-derived frames (1-row aggregates, top-k)."""
    from pyspark.sql import functions as F

    from mr_python_spark.session import load_table

    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = orders.join(
            F.broadcast(lineitem.filter(F.col("l_quantity") > 10)),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert broadcast_fact_builds(bad) == ["lineitem"]
        # bounded fact-derived build sides are legitimate: a 1-row
        # aggregate and a top-k both pass
        agg = lineitem.agg(F.sum("l_quantity").alias("t"))
        ok1 = orders.crossJoin(F.broadcast(agg))
        assert broadcast_fact_builds(ok1) == []
        topk = lineitem.orderBy("l_orderkey").limit(5)
        ok2 = orders.join(
            F.broadcast(topk), F.col("o_orderkey") == F.col("l_orderkey")
        )
        assert broadcast_fact_builds(ok2) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skew story must actually engage: a join where one key
    holds ~90% of the left side gets its skewed partition SPLIT by AQE
    (SortMergeJoin(skew=true) + a 'coalesced and skewed' shuffle read)
    instead of stalling one task on the whole key."""
    from pyspark.sql import functions as F

    left = spark.range(400_000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(50_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = left.join(right, "k").select(F.sum("v").alias("s"))
        j.collect()
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin(skew=true)" in plan
        assert "coalesced and skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_no_top_level_complex_output_columns(spark, entrymod):
    """Driver-harness canonicalization guard: pandas ``sort_values``
    over all columns cannot hash numpy arrays, so a registered query
    returning a top-level array/map/struct column crashes the official
    grading the moment rotation reaches it (encode_tokens_to_ids, r13).
    Sequence-valued results must be projected to a scalar (CSV-join or
    digest) before registration.  Builds every registry frame lazily —
    schema only, no execution beyond what frame construction needs."""
    from pyspark.sql import types as T

    offenders = {}
    for name, fn in entrymod.queries().items():
        schema = fn(spark, SF).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"complex top-level output columns: {offenders}"
