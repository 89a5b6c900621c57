"""Bucketed storage layout: the shuffle-free fact-fact join.

At 100 TB the orders⋈lineitem join is the engine's largest shuffle —
both sides move once over the network on every query that joins them.
The storage-side fix is bucketing: write both tables hash-bucketed on
the join key, and every subsequent join (and any aggregate grouped on
that key) reads co-located buckets with NO exchange at all.  This
module demonstrates exactly that: the audit-visible plan property is
``Bucketed: true`` scans feeding a SortMergeJoin with no
``Exchange hashpartitioning`` between them.

The bucketed copies are written once per (sf, process) into the local
warehouse — standing in for the one-time backfill a production
deployment would run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_python_spark.operators.aggregates import dec_sum_expr
from mr_python_spark.registry import register
from mr_python_spark.session import load_table, with_conf

_N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure bucketed copies of orders/lineitem exist for this sf."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    o_name, l_name = f"orders_b_{tag}", f"lineitem_b_{tag}"
    catalog = spark.catalog
    # the in-memory catalog is per-process but the warehouse dir is
    # not: clear stale locations left by earlier processes
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    for name in (o_name, l_name):
        loc = os.path.join(warehouse, name)
        if not catalog.tableExists(name) and os.path.exists(loc):
            import shutil

            shutil.rmtree(loc)
    # repartition on the bucket column with #partitions == #buckets
    # BEFORE the bucketed write: repartition and bucketing share the
    # Murmur3 hash, so each task holds exactly one bucket and writes
    # ONE file per bucket — the condition under which Spark trusts the
    # sortBy order at read time and elides the per-side Sort under the
    # merge join (multi-file buckets are only per-file sorted, so the
    # reader would have to re-sort)
    if not catalog.tableExists(o_name):
        (
            load_table(spark, sf_dir, "orders")
            .repartition(_N_BUCKETS, F.col("o_orderkey"))
            .write.bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(o_name)
        )
    if not catalog.tableExists(l_name):
        (
            load_table(spark, sf_dir, "lineitem")
            .repartition(_N_BUCKETS, F.col("l_orderkey"))
            .write.bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(l_name)
        )
    return o_name, l_name


_BUCKETED_ORACLE = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@register("join_bucketed_colocated", _BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈lineitem with both sides bucketed AND sorted on the join key.

    The merge hint forces the join strategy the bucketing pays for
    (locally the small sides would otherwise broadcast); the scans
    report ``Bucketed: true`` and the join runs with NO exchange and
    NO sort on either side — the scans' ``sortBy`` order is trusted
    because each bucket is exactly one file (the write repartitions on
    the bucket hash first) and
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` is enabled
    for this plan (off by default since Spark 3 because multi-file
    buckets are only per-file sorted; the single-file layout here is
    the case the knob exists for).  The frame is bound to a session
    clone that carries the conf, as the bloom-filter query's is, so
    every action plans without the sort.
    """
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    orders = spark.table(o_name).filter(F.col("o_orderstatus") == "F")
    li = spark.table(l_name)
    out = (
        orders.hint("merge")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum_expr(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )
    return with_conf(
        out, {"spark.sql.legacy.bucketedTableScan.outputOrdering": "true"}
    )


# --- Z-order layout (multi-dimensional clustering) ----------------------

#: Morton spread stages: 16-bit value -> even bit positions of 32 bits
_MORTON_STAGES = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]

#: top-of-z-space bucket shift: 32-bit z >> 26 = at most 64 buckets
ZORDER_BUCKET_SHIFT = 26

_ZORDER_ORACLE = f"""
WITH raw AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', o_orderdate) AS day
  FROM orders
),
bounds AS (
  SELECT MIN(o_custkey) AS minc, GREATEST(MAX(o_custkey) - MIN(o_custkey), 1) AS spanc,
         MIN(day) AS mind, GREATEST(MAX(day) - MIN(day), 1) AS spand
  FROM raw
),
base AS (
  SELECT o_custkey, day,
         ((o_custkey - minc) * 65535) // spanc AS xk,
         ((day - mind) * 65535) // spand AS yk
  FROM raw CROSS JOIN bounds
),
s1 AS (SELECT o_custkey, day,
              ((xk | (xk << 8)) & 16711935) AS xk, ((yk | (yk << 8)) & 16711935) AS yk FROM base),
s2 AS (SELECT o_custkey, day,
              ((xk | (xk << 4)) & 252645135) AS xk, ((yk | (yk << 4)) & 252645135) AS yk FROM s1),
s3 AS (SELECT o_custkey, day,
              ((xk | (xk << 2)) & 858993459) AS xk, ((yk | (yk << 2)) & 858993459) AS yk FROM s2),
s4 AS (SELECT o_custkey, day,
              ((xk | (xk << 1)) & 1431655765) AS xk, ((yk | (yk << 1)) & 1431655765) AS yk FROM s3),
z AS (
  SELECT o_custkey, day, (xk | (yk << 1)) AS zval FROM s4
)
SELECT CAST(zval >> {ZORDER_BUCKET_SHIFT} AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
       CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
       CAST(MIN(day) AS BIGINT) AS min_day,
       CAST(MAX(day) AS BIGINT) AS max_day
FROM z GROUP BY 1
"""


@register("zorder_bucket_stats", _ZORDER_ORACLE)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics over (customer, order-day) —
    the multi-dimensional clustering lever behind Delta/Iceberg's
    OPTIMIZE ZORDER, expressed as plain Spark arithmetic: min-max
    normalize both dimensions into 16-bit space (the step real
    z-ordering cannot skip — interleaving dimensions of mismatched
    bit width lets the wider one dominate every high bit), interleave
    with the classic magic-mask spread, bucket by the top z bits, and
    report each bucket's per-dimension min/max envelope.

    Why this matters at 100 TB: parquet/file pruning works off
    per-file min/max column stats.  A single-column sort gives one
    dimension tight envelopes and leaves the other full-range in
    EVERY file; z-ordering makes BOTH dimensions' per-bucket ranges
    ~sqrt(|space|), so selective predicates on either column skip
    most files.  This operator computes the bucket envelopes that
    prove (or disprove) that locality — the write recipe is then
    ``repartitionByRange(n, zval).sortWithinPartitions(zval)`` into
    the sink, reusing the same expression.

    Plan: one 1-row bounds aggregate broadcast back over the scan
    (the scalar-total pattern — a broadcast nested-loop of ONE row is
    the correct cross join, not a cartesian risk), then codegen'd
    integer bit arithmetic + one partial-agged bucket groupBy — no
    Python, one shuffle of 6-integer rows.  All normalization is
    exact integer division, so bucket ids hash-gate bit-for-bit.
    """
    raw = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    bounds = raw.agg(
        F.min("o_custkey").alias("minc"),
        F.greatest(
            F.max("o_custkey") - F.min("o_custkey"), F.lit(1).cast("long")
        ).alias("spanc"),
        F.min("day").alias("mind"),
        F.greatest(F.max("day") - F.min("day"), F.lit(1)).alias("spand"),
    )
    df = raw.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "day",
        F.expr("((o_custkey - minc) * 65535L) div spanc").alias("xk"),
        F.expr("((day - mind) * 65535L) div spand").alias("yk"),
    )
    for shift, mask in _MORTON_STAGES:
        df = df.select(
            "o_custkey",
            "day",
            F.expr(f"(xk | (xk << {shift})) & {mask}").alias("xk"),
            F.expr(f"(yk | (yk << {shift})) & {mask}").alias("yk"),
        )
    z = df.select("o_custkey", "day", F.expr("xk | (yk << 1)").alias("zval"))
    return (
        z.groupBy(
            F.expr(f"zval >> {ZORDER_BUCKET_SHIFT}").cast("long").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").cast("long").alias("min_cust"),
            F.max("o_custkey").cast("long").alias("max_cust"),
            F.min("day").cast("long").alias("min_day"),
            F.max("day").cast("long").alias("max_day"),
        )
    )
