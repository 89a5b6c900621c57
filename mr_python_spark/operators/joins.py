"""Joins: inner/left/semi/anti, broadcast, range (theta), as-of.

The reference has NO join operator — the classic reduce-side join
(union tagged streams under a shared key, pair in the reducer) is the
only way to express one, and even that is undocumented (SURVEY.md §2c).
Here joins are first-class and Catalyst picks the physical strategy.

Scale notes (100 TB posture):

* Constant-size dims (region: 5 rows, nation: 25, the literal tier
  table) carry explicit ``F.broadcast`` hints — no shuffle of the
  fact table, safe at every scale factor.  SF-scaling tables
  (customer/supplier/part) NEVER get a forced hint: stats + AQE pick
  broadcast at small SF and shuffle join at 100 TB, where a forced
  broadcast would OOM executors materializing a multi-GB hash table.
* Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; both
  sides hash-partition on the same key so AQE can pick shuffled-hash
  vs sort-merge and split skewed partitions.
* The as-of join avoids a nested-loop entirely: union the two tagged
  streams, one shuffle on user_id, and a running ``last(..)`` window —
  O(n log n) per key vs O(n·m) pairwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mr_python_spark.operators.aggregates import dec_sum, dec_sum_expr
from mr_python_spark.registry import register
from mr_python_spark.session import load_table, with_conf


_Q3_ORACLE = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-06-30 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective 3-way join → agg → top-k.

    customer is filtered then joined (small side); orders⋈lineitem is
    the shuffle join.  Top-k plans TakeOrderedAndProject — no global
    sort materialization.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1999-06-30 00:00:00").cast("timestamp")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum_expr(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = """
SELECT
  n_name,
  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
  COUNT(*) AS n_items
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = n_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


@register("q5_local_supplier", _Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way star join, selective-dimension-first.

    Join order propagates the ``r_name = 'ASIA'`` filter outward:
    region→nation (broadcast) shrinks customer ~5×, the shrunken
    customer set shrinks orders ~5×, and only then does lineitem — the
    fact table — join, against a 5×-smaller build side.  Spark's
    optimizer does not reorder joins without CBO stats, so the
    DataFrame order IS the join order; the r13 shape joined
    lineitem⋈orders FIRST (the largest join, unfiltered) and paid a
    full SortMergeJoin of both fact tables.  At 100 TB this ordering
    cuts the big shuffle's probe volume by the dimension selectivity
    before it happens.

    The lineitem⋈ord_asia join carries a ``merge`` hint: without it
    the STATIC planner sizes tables by compressed file bytes, and on
    the highly-repetitive synthetic sf1 fixture lineitem's parquet
    squeezes under the 10 MB broadcast threshold — Spark then
    broadcasts the 6M-row FACT side and builds a multi-second hash
    relation (measured 5.3s at sf1 vs 1.9s hinted; at sf0.1 the hint
    is cost-neutral, 0.8–1.0s vs 1.0s all-broadcast).  A shuffle join
    on the biggest join is the only strategy that is never
    catastrophically wrong at any estimate quality, and it is the
    plan a CBO would pick at real scale anyway; the estimate lie is a
    fixture artifact, but "never let a fact table reach the build
    side of a static broadcast decision" is the durable rule.

    Only the constant-size dims (region, nation — 5/25 rows at ANY
    scale factor) carry explicit broadcast hints.  customer, orders
    and supplier grow linearly with SF, so their join strategy is
    left to stats + AQE: broadcast at small SF, shuffle join at
    100 TB — forcing a broadcast hint would OOM every executor there.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust_asia = customer.join(
        F.broadcast(dims), F.col("c_nationkey") == F.col("n_nationkey")
    )
    ord_asia = orders.join(
        cust_asia, F.col("o_custkey") == F.col("c_custkey")
    ).hint("merge")
    return (
        lineitem.join(ord_asia, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            dec_sum_expr(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_INNER_ORACLE = """
SELECT o_orderkey, c_name, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
"""


@register("join_inner_basic", _INNER_ORACLE)
def join_inner_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi-join with projection.

    customer scales with SF, so no forced broadcast hint — Catalyst's
    size stats pick broadcast at small SF and AQE switches to a
    shuffle join when the build side outgrows the threshold.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(customer, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


_LEFT_AGG_ORACLE = """
SELECT
  c_custkey,
  c_name,
  COUNT(o_orderkey) AS n_orders,
  COALESCE(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0, 0.0) AS total_spent
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


@register("join_left_outer_agg", _LEFT_AGG_ORACLE)
def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join keeping order-less customers (NULL-safe agg).

    The aggregation is pushed BELOW the join (a rewrite Catalyst does
    not do itself): orders pre-aggregates per ``o_custkey`` — partial
    map-side combine collapses the fact table to one row per customer
    BEFORE any join — and customer then left-joins the collapsed frame.
    At 10× data the join input grows ~0× instead of 10× (10× more
    orders per customer still aggregate to one row), which is what
    keeps this plan flat at 100 TB; the join-then-aggregate shape
    shuffles every order row through the join first.  Semantics are
    identical: a customer with no orders misses the aggregate → NULL →
    coalesce to (0, 0.0), exactly what COUNT/SUM over an empty left
    join group produced.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        dec_sum("o_totalprice").alias("total_spent"),
    )
    return (
        customer.join(per_cust, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
        )
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 400000
)
"""


@register("join_left_semi", _SEMI_ORACLE)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers with at least one big order."""
    customer = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(
        big, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey
)
"""


@register("join_left_anti", _ANTI_ORACLE)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers that never ordered."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


_TIER_ORACLE = """
SELECT
  t.tier,
  COUNT(o_orderkey) AS n_orders,
  COALESCE(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0, 0.0) AS sum_price
FROM (VALUES
    ('T1_SMALL',       0.0,  100000.0),
    ('T2_MEDIUM', 100000.0,  250000.0),
    ('T3_LARGE',  250000.0,  400000.0),
    ('T4_JUMBO',  400000.0, 1000000000.0)
) t(tier, lo, hi)
LEFT JOIN orders ON o_totalprice >= t.lo AND o_totalprice < t.hi
GROUP BY t.tier
"""

PRICE_TIERS = [
    ("T1_SMALL", 0.0, 100000.0),
    ("T2_MEDIUM", 100000.0, 250000.0),
    ("T3_LARGE", 250000.0, 400000.0),
    ("T4_JUMBO", 400000.0, 1000000000.0),
]


@register("join_range_tiers", _TIER_ORACLE)
def join_range_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: banding a fact column against interval dims.

    The tier table is tiny → broadcast nested-loop join, which is the
    right plan: every executor bands its partition locally, zero
    shuffle of the fact side before aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(PRICE_TIERS, ["tier", "lo", "hi"])
    cond = (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi"))
    return (
        F.broadcast(tiers)
        .join(orders, cond, "left")
        .groupBy("tier")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dec_sum("o_totalprice"), F.lit(0.0)).alias("sum_price"),
        )
    )


_ASOF_ORACLE = """
SELECT
  p.event_id,
  p.user_id,
  p.ts,
  c.ts AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("join_asof_events", _ASOF_ORACLE)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's latest click at-or-before.

    Implemented shuffle-once: union the two tagged streams, window per
    user ordered by (ts, tag) — clicks sort before purchases at equal
    ts — and carry the last non-null click ts forward.  This scales as
    one shuffle + one sort per key, vs the O(n·m) pairwise theta join.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_purchase"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_purchase"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_purchase") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


_ASOF_FWD_ORACLE = """
SELECT
  p.event_id,
  p.user_id,
  p.ts,
  c.ts AS next_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
"""


@register("join_asof_forward", _ASOF_FWD_ORACLE)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase's earliest click at-or-after.

    The mirror of :func:`join_asof_events` (kdb ``aj`` forward /
    pandas ``merge_asof(direction="forward")``): same shuffle-once
    union-window plan, with the running carry reversed — the window
    runs ``currentRow → unboundedFollowing`` and takes the FIRST
    non-null click ts, and purchases sort before clicks at equal ts
    so an exactly-simultaneous click still matches (``<=``).
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("is_click"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("is_click"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        merged.withColumn(
            "next_click_ts", F.first("click_ts", ignorenulls=True).over(w)
        )
        .filter(F.col("is_click") == 0)
        .select("event_id", "user_id", "ts", "next_click_ts")
    )


_FULL_OUTER_ORACLE = """
SELECT
  COALESCE(c.c_custkey, o.o_custkey) AS custkey,
  c.c_acctbal AS acctbal,
  o.n_orders
FROM (SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING') c
FULL OUTER JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
"""


@register("join_full_outer", _FULL_OUTER_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: unmatched rows survive from BOTH sides.

    Building-segment customers vs late-window order counts — each side
    has rows the other lacks, so both null-extension paths are
    exercised.  Full outer cannot broadcast (both sides must see all
    unmatched keys): the plan is a shuffle join on the key, which is
    the correct shape at any scale.
    """
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey", "c_acctbal")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = customer.join(orders, customer.c_custkey == orders.o_custkey, "full_outer")
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        "n_orders",
    )


_CROSS_ORACLE = """
SELECT r_name, o_orderpriority
FROM region
CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
"""


@register("join_cross_product", _CROSS_ORACLE)
def join_cross_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (nested-loop join) of two small inputs.

    The reference cannot express any join (SURVEY.md §2c); a cross
    product is the degenerate theta-join with no predicate.  Spark
    plans BroadcastNestedLoopJoin: the distinct-priority side (5 rows)
    is broadcast and the loop never shuffles.  Scale rule: a cross
    join is only ever sane when one side is tiny — this shape (dim ×
    dim, both broadcastable) is the grid-expansion idiom used to
    densify sparse group combinations before a left join.
    """
    region = load_table(spark, sf_dir, "region").select("r_name")
    prios = (
        load_table(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    )
    return region.crossJoin(F.broadcast(prios))


_RIGHT_ORACLE = """
SELECT o_orderkey, c_custkey, c_name
FROM (SELECT * FROM orders WHERE o_totalprice > 450000) o
RIGHT JOIN customer ON o_custkey = c_custkey
"""


@register("join_right_outer", _RIGHT_ORACLE)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every customer survives, orders optional.

    Catalyst canonicalizes right-outer to left-outer with sides
    swapped, so the physical plan is identical to the left join —
    registered to pin the API surface and null-extension semantics.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(
        customer, F.col("o_custkey") == F.col("c_custkey"), "right"
    ).select("o_orderkey", "c_custkey", "c_name")


_SHJ_ORACLE = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderpriority
"""


@register("join_shuffle_hash_hint", _SHJ_ORACLE)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with an explicit SHUFFLE_HASH strategy hint.

    Sort-merge is Spark's default for large equi-joins, but when one
    side is much smaller *per partition* a shuffled hash join skips
    both sorts — the classic win for a filtered-facts ⋈ big-facts
    shape.  The hint pins the physical strategy (audit asserts
    ShuffledHashJoin, no Sort feeding the join); unlike a broadcast
    hint this is scale-safe — the build side is one partition's
    worth, not the whole table per executor.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(
            orders.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).cast("double") / 100.0).alias("sum_qty"),
        )
    )


_SALTED_JOIN_ORACLE = """
SELECT
  l.l_returnflag,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT) * w.weight) AS BIGINT)
    AS weighted_qty_fp
FROM lineitem l
JOIN (VALUES ('A', 2), ('N', 1), ('R', 3)) w(l_returnflag, weight)
  ON l.l_returnflag = w.l_returnflag
GROUP BY l.l_returnflag
"""


@register("join_salted_skew", _SALTED_JOIN_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join over a pathologically hot join key.

    The join-side companion to ``agg_salted_skew``: l_returnflag has 3
    values, so a plain shuffle join lands the whole fact table on 3
    reducers.  The salt decorrelates: the fact side gets
    ``pmod(xxhash64(row-id), 16)`` and the dimension side is exploded
    ×16 (dims replicate cheaply — that asymmetry is the whole trick),
    so the join key becomes (flag, salt) with 48 evenly-loaded
    partitions.  Results are identical to the unsalted join, which the
    oracle checks.  In practice prefer broadcast (tiny dim) or AQE
    skew-join splitting; manual salting is for shuffle joins where the
    hot side exceeds both — the mechanics here are the point.
    """
    li = load_table(spark, sf_dir, "lineitem")
    weights = spark.createDataFrame(
        [("A", 2), ("N", 1), ("R", 3)], ["l_returnflag", "weight"]
    )
    n_salt = 16
    salted_fact = li.select(
        "l_returnflag",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt)).alias("salt"),
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("qty_fp"),
    )
    salted_dim = weights.select(
        "l_returnflag",
        "weight",
        F.explode(F.array(*[F.lit(s) for s in range(n_salt)])).alias("salt"),
    )
    # hint the shuffled path: stats would broadcast this toy dim, but
    # the scenario being demonstrated is the one where the dim exceeds
    # the broadcast threshold and the join MUST shuffle — exactly when
    # hot-key salting matters
    return (
        salted_fact.join(salted_dim.hint("shuffle_hash"), ["l_returnflag", "salt"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("qty_fp") * F.col("weight")).alias("weighted_qty_fp"),
        )
    )


_LATERAL_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""


@register("lateral_top2_orders", _LATERAL_ORACLE)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's two largest orders.

    The SQL-standard lateral form of per-key top-k — a different
    operator surface from the window-function formulation
    (``window_top3_per_customer``): Catalyst decorrelates the LATERAL
    into a join + per-key limit instead of a ranking window.  Total
    order inside the lateral (price desc, orderkey) keeps the result
    engine-deterministic.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("mrps_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("mrps_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM mrps_lat_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM mrps_lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        """
    )


_BLOOM_ORACLE = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
"""


@register("join_bloom_runtime_filter", _BLOOM_ORACLE)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-fact join under runtime bloom-filter injection.

    Catalyst's runtime row-level filtering: the selective side
    (urgent orders) builds a bloom filter of its join keys during its
    own scan, and the optimizer injects ``might_contain`` into the
    BIG side's scan — lineitem rows whose orderkey can't match are
    dropped BEFORE the shuffle, turning a full-fact shuffle into a
    fraction-of-fact one.  This is the 100 TB lever for star joins
    too big to broadcast.  The size thresholds are lowered for this
    plan only (the 10 GB application-side default exists because the
    filter only pays for itself on huge scans): the frame is bound to
    a session clone that carries them, so every action — collect or
    write — plans the filter.  The plan audit asserts ``might_contain``
    actually landed in the scan, so a silent optimizer regression
    fails loudly.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    out = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum("l_extendedprice").alias("sum_price"),
        )
    )
    return with_conf(out, {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })


# --- null-safe equi-join (<=> / IS NOT DISTINCT FROM) -------------------

_NULLSAFE_ORACLE = """
WITH a AS (
  SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS k FROM orders
), b AS (
  SELECT DISTINCT NULLIF(o_orderpriority, '1-URGENT') AS k FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_pairs,
       CAST(SUM(CASE WHEN a.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_value_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@register("join_null_safe", _NULLSAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: ``eqNullSafe`` (SQL ``<=>``), where NULL
    keys MATCH each other instead of silently dropping.

    The join shape for dimension keys with a real "unknown" bucket:
    a plain ``=`` join discards every NULL-keyed row (NULL = NULL is
    NULL), which under-counts exactly the rows a data-quality rollup
    most needs to see.  NULLs are injected deterministically
    (``NULLIF`` on the urgent priority) so the oracle can state the
    same join with ``IS NOT DISTINCT FROM`` and pin the null-bucket
    row count exactly.

    Scale: ``<=>`` is still a HASH-dispatchable equi-predicate (NULL
    hashes like a value) — the plan is a normal shuffled/broadcast
    hash join, NOT the nested-loop fallback a general null-tolerant
    predicate would force; that plan property is the audit.
    """
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        "o_orderkey",
        F.expr("NULLIF(o_orderpriority, '1-URGENT')").alias("ka"),
    )
    b = a.select(F.col("ka").alias("kb")).distinct()
    j = a.join(b, F.col("ka").eqNullSafe(F.col("kb")))
    return j.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(F.col("ka").isNull().cast("long")).alias("n_null_pairs"),
        F.sum(F.col("ka").isNotNull().cast("long")).alias("n_value_pairs"),
    )
