"""Statistical aggregates: variance/stddev (deterministic), median, pivot.

The reference's only statistics are whatever users hand-write in a
reducer over the value list (SURVEY.md §2c "aggregations").  Native
``stddev``/``var_samp`` stream doubles in partition order, so their
low bits depend on partitioning — useless for a cross-engine
correctness gate AND a real reproducibility problem at scale.  Here
the moments are accumulated as exact fixed-point longs (associative,
any partitioning, any order), and the float formula is applied once
at the end — bit-identical on Spark, DuckDB, or a 1000-executor
cluster.

Pivot is the classic reshape: Spark's ``pivot`` plans a single
partial+final aggregate with one output column per pivot value —
give it the value list explicitly to avoid an extra distinct-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mr_python_spark.functions.text import tokens_col
from mr_python_spark.operators.aggregates import fixed_point
from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache, load_table, table_count


_VAR_ORACLE = """
SELECT
  l_returnflag,
  n,
  (CAST(s2 AS DOUBLE) / 10000.0 - (CAST(s1 AS DOUBLE) / 100.0) * (CAST(s1 AS DOUBLE) / 100.0) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_qty,
  sqrt((CAST(s2 AS DOUBLE) / 10000.0 - (CAST(s1 AS DOUBLE) / 100.0) * (CAST(s1 AS DOUBLE) / 100.0) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS stddev_qty,
  CAST(s1 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean_qty
FROM (
  SELECT
    l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS s1,
    SUM(CAST(round(l_quantity * 100, 0) AS BIGINT) * CAST(round(l_quantity * 100, 0) AS BIGINT)) AS s2
  FROM lineitem
  GROUP BY l_returnflag
)
"""


@register("stats_variance_quantity", _VAR_ORACLE)
def stats_variance_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / mean of l_quantity per return flag.

    Two exact integer moments (Σx, Σx²) accumulate map-side in any
    order; one closed-form float evaluation at the end.  This is how
    the engine keeps statistics reproducible under repartitioning —
    native ``var_samp`` over doubles is not.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qfp = fixed_point(F.col("l_quantity"), 2)
    grouped = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qfp).alias("s1"),
        F.sum(qfp * qfp).alias("s2"),
    )
    s1d = F.col("s1").cast("double") / 100.0
    s2d = F.col("s2").cast("double") / 10000.0
    nd = F.col("n").cast("double")
    var = (s2d - s1d * s1d / nd) / (F.col("n") - 1).cast("double")
    return grouped.select(
        "l_returnflag",
        "n",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        (s1d / nd).alias("mean_qty"),
    )


_MEDIAN_ORACLE = """
SELECT
  o_orderpriority,
  CAST(median(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS median_price,
  CAST(quantile_disc(CAST(round(o_totalprice * 100, 0) AS BIGINT), 0.9) AS DOUBLE) / 100.0 AS p90_price
FROM orders
GROUP BY o_orderpriority
"""


@register("median_price_by_priority", _MEDIAN_ORACLE)
def median_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + discrete p90 of order price per priority.

    Computed over fixed-point longs so interpolation (median of an
    even count averages two integers) is deterministic; p90 uses the
    discrete quantile (an actual data value — no interpolation
    ambiguity).  Scale path: ``percentile_approx`` (t-digest sketch,
    one pass, mergeable) replaces exact ``percentile`` when the value
    list per group no longer fits an executor.
    """
    orders = load_table(spark, sf_dir, "orders")
    pfp = fixed_point(F.col("o_totalprice"), 2)
    return (
        orders.select("o_orderpriority", pfp.alias("pfp"))
        .groupBy("o_orderpriority")
        .agg(
            (F.expr("percentile(pfp, 0.5)")).alias("median_fp"),
            (F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY pfp)")).alias("p90_fp"),
        )
        .select(
            "o_orderpriority",
            (F.col("median_fp") / 100.0).alias("median_price"),
            (F.col("p90_fp").cast("double") / 100.0).alias("p90_price"),
        )
    )


_CORR_ORACLE = """
SELECT
  l_returnflag,
  n,
  (nd * sxyd - sxd * syd)
    / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)) AS corr_qty_price,
  ((nd * sxyd - sxd * syd) / (nd * (nd - 1.0))) / 10000.0 AS covar_qty_price
FROM (
  SELECT
    l_returnflag, n,
    CAST(n AS DOUBLE) AS nd,
    CAST(sx AS DOUBLE) AS sxd,
    CAST(sy AS DOUBLE) AS syd,
    CAST(sxx AS DOUBLE) AS sxxd,
    CAST(syy AS DOUBLE) AS syyd,
    CAST(sxy AS DOUBLE) AS sxyd
  FROM (
    SELECT
      l_returnflag,
      COUNT(*) AS n,
      SUM(q) AS sx,
      SUM(p) AS sy,
      SUM(q * q) AS sxx,
      SUM(p * p) AS syy,
      SUM(q * p) AS sxy
    FROM (
      SELECT
        l_returnflag,
        CAST(round(l_quantity * 100, 0) AS BIGINT) AS q,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
      FROM lineitem
    )
    GROUP BY l_returnflag
  )
)
"""


@register("corr_quantity_price", _CORR_ORACLE)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance from exact moments.

    Native ``corr``/``covar_samp`` stream doubles in partition order —
    not reproducible under repartitioning.  Here the five cross moments
    (Σx, Σy, Σx², Σy², Σxy) accumulate as exact fixed-point integers
    (decimal(38,0) on Spark so products can't overflow at any scale
    factor; HUGEINT sums on DuckDB), and the closed-form float formula
    runs once per group on identical operands — bit-identical on both
    engines and on a 1000-executor cluster.  Correlation is invariant
    to the 100× fixed-point scaling; covariance divides it back out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = fixed_point(F.col("l_quantity"), 2)
    p = fixed_point(F.col("l_extendedprice"), 2)

    def dec(col):
        return col.cast("decimal(38,0)")

    grouped = (
        li.select("l_returnflag", q.alias("q"), p.alias("p"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("q"))).alias("sx"),
            F.sum(dec(F.col("p"))).alias("sy"),
            F.sum(dec(F.col("q") * F.col("q"))).alias("sxx"),
            F.sum(dec(F.col("p") * F.col("p"))).alias("syy"),
            F.sum(dec(F.col("q") * F.col("p"))).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    num = nd * sxyd - sxd * syd
    corr = num / (F.sqrt(nd * sxxd - sxd * sxd) * F.sqrt(nd * syyd - syd * syd))
    covar = (num / (nd * (nd - F.lit(1.0)))) / F.lit(10000.0)
    return grouped.select(
        "l_returnflag",
        "n",
        corr.alias("corr_qty_price"),
        covar.alias("covar_qty_price"),
    )


_PIVOT_ORACLE = """
SELECT
  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) FILTER (event_type = 'click')    AS DOUBLE) / 100.0 AS click,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) FILTER (event_type = 'view')     AS DOUBLE) / 100.0 AS view,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) FILTER (event_type = 'purchase') AS DOUBLE) / 100.0 AS purchase,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) FILTER (event_type = 'signup')   AS DOUBLE) / 100.0 AS signup,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) FILTER (event_type = 'error')    AS DOUBLE) / 100.0 AS error
FROM events
GROUP BY 1
"""


@register("pivot_daily_event_values", _PIVOT_ORACLE)
def pivot_daily_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value totals pivoted to one column per event type.

    The pivot value list is explicit — no pre-scan for distinct
    values, and the output schema is stable regardless of which types
    appear in a given slice (absent type → NULL, matching SQL FILTER
    semantics).
    """
    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    pivoted = (
        events.select(day.alias("day"), "event_type", fixed_point(F.col("value"), 2).alias("vfp"))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.sum("vfp"))
    )
    keep = [F.col("day")] + [
        (F.col(c).cast("double") / 100.0).alias(c)
        for c in ("click", "view", "purchase", "signup", "error")
    ]
    return pivoted.select(*keep)


_SAMPLE_ORACLE = """
SELECT doc_id, lang
FROM documents
WHERE (doc_id * 2654435761) % 1000 <
      CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 500 ELSE 250 END
"""


@register("stratified_sample_documents", _SAMPLE_ORACLE)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates.

    Training-data pipelines re-balance corpora by down/up-weighting
    strata; ``sampleBy`` uses a seeded RNG whose stream depends on
    partitioning, so this uses a Knuth multiplicative hash of the key
    instead — ``(doc_id·2654435761) mod 1000`` — giving every engine,
    partitioning, and rerun the same sample (en 10%, zh 50%, rest
    25%).  Pure scan+filter: no shuffle, fully pushed predicate
    arithmetic.  The product stays far under 2^63 for any realistic
    doc_id, so Spark's wrapping long multiply equals DuckDB's.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 1000
    rate = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang") == "zh", 500)
        .otherwise(250)
    )
    return docs.filter(bucket < rate).select("doc_id", "lang")


_DOCLEN_ORACLE = """
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(median(CAST(n_chars AS BIGINT)) AS DOUBLE) AS median_chars,
  CAST(quantile_disc(CAST(n_chars AS BIGINT), 0.25) AS DOUBLE) AS p25_chars,
  CAST(quantile_disc(CAST(n_chars AS BIGINT), 0.95) AS DOUBLE) AS p95_chars
FROM documents
GROUP BY lang
"""


@register("doc_length_quantiles", _DOCLEN_ORACLE)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution (median/p25/p95).

    Length-based filtering is the first quality gate in a training
    pipeline; the cutoffs come from exactly this query.  Quantiles
    over exact ints: the median interpolates two integers (one IEEE
    add+divide — deterministic), the tail quantiles are discrete
    (value-picking, no arithmetic at all).  At 100 TB swap the exact
    ``percentile`` for ``approx_percentile`` (t-digest sketch,
    mergeable map-side) — the query shape is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.col("n_chars").cast("long")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile(n, F.lit(0.5)).alias("median_chars"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))").alias("p25_chars"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))").alias("p95_chars"),
    )


_UNPIVOT_ORACLE = """
WITH pivoted AS (
  SELECT
    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
    CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(round(value * 100, 0) AS BIGINT) END) AS DOUBLE) / 100.0 AS click,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100, 0) AS BIGINT) END) AS DOUBLE) / 100.0 AS purchase
  FROM events
  GROUP BY 1
)
SELECT day, event_type, amount FROM (
  SELECT day, 'click' AS event_type, click AS amount FROM pivoted
  UNION ALL
  SELECT day, 'purchase' AS event_type, purchase AS amount FROM pivoted
)
WHERE amount IS NOT NULL
"""


@register("unpivot_daily_values", _UNPIVOT_ORACLE)
def unpivot_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-day columns back to (day, type, amount).

    The inverse reshape of ``pivot_daily_event_values`` — the
    wide-to-long step every feature pipeline needs when a model wants
    observations as rows.  ``DataFrame.unpivot`` plans an Expand (one
    output row per value column, same single pass) — no join, no
    shuffle beyond the original aggregate's.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    pivoted = (
        events.select(day.alias("day"), "event_type", fixed_point(F.col("value"), 2).alias("vfp"))
        .groupBy("day")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.sum("vfp"))
        .select(
            "day",
            (F.col("click").cast("double") / 100.0).alias("click"),
            (F.col("purchase").cast("double") / 100.0).alias("purchase"),
        )
    )
    return pivoted.unpivot(
        ids=["day"],
        values=["click", "purchase"],
        variableColumnName="event_type",
        valueColumnName="amount",
    ).filter(F.col("amount").isNotNull())


_HISTOGRAM_ORACLE = """
SELECT
  CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 500000 AS bin,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
    AS total_price
FROM lineitem
GROUP BY 1
"""


@register("histogram_prices", _HISTOGRAM_ORACLE)
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price ($5,000 bins).

    Equi-width binning as pure integer arithmetic: price → exact cents
    (fixed point) → integer-divide by the bin width in cents.  No float
    ever decides a bin boundary, so engine and oracle bucket
    identically even for prices exactly on an edge.  One scan, one
    partial+final hash aggregate on a low-cardinality key — the
    histogram never materializes more rows than bins.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    cents = fixed_point(F.col("l_extendedprice"), 2)
    return (
        lineitem.select(cents.alias("cents"))
        .groupBy((F.col("cents") / 500000).cast("long").alias("bin"))
        .agg(
            F.count("*").alias("n"),
            (F.sum("cents").cast("double") / 100.0).alias("total_price"),
        )
    )


_QUANTILE_ENVELOPE_ORACLE = """
SELECT
  lang,
  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT)) AS BIGINT)
    AS median_exact,
  TRUE AS sketch_within_tolerance
FROM documents
GROUP BY lang
"""


@register("approx_quantile_envelope", _QUANTILE_ENVELOPE_ORACLE)
def approx_quantile_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable accuracy envelope on the quantile sketch.

    Same pattern as ``approx_distinct_envelope``: the t-digest-style
    ``approx_percentile`` (accuracy 10⁴ ⇒ rank error ≤ 1/10⁴) is an
    engine-specific sketch DuckDB can't reproduce, so the gateable
    claim is the envelope — the sketch's median must land within the
    exact p40–p60 band.  The exact discrete median itself is verified
    value-for-value against DuckDB.  At 100 TB the sketch is the only
    viable path (single pass, mergeable map-side); this query keeps
    its error budget honest.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.col("n_chars").cast("long")
    agg = docs.groupBy("lang").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))"
        ).cast("long").alias("median_exact"),
        F.percentile_approx(n, F.lit(0.5), F.lit(10000)).alias("median_sketch"),
        F.expr(
            "percentile_disc(0.4) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))"
        ).cast("long").alias("p40"),
        F.expr(
            "percentile_disc(0.6) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))"
        ).cast("long").alias("p60"),
    )
    return agg.select(
        "lang",
        "median_exact",
        (
            (F.col("median_sketch") >= F.col("p40"))
            & (F.col("median_sketch") <= F.col("p60"))
        ).alias("sketch_within_tolerance"),
    )


_RESERVOIR_ORACLE = """
SELECT event_type, event_id, user_id
FROM events
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY event_type
  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
) <= 5
"""


@register("reservoir_sample_per_key", _RESERVOIR_ORACLE)
def reservoir_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key reservoir: 5 uniform rows per event type.

    The distributed reservoir-sampling trick without an RNG: rank
    rows per key by a hash of their unique id and keep the k
    smallest.  md5 makes the rank uniform AND engine-portable (Spark
    and DuckDB agree on the hex digest, unlike their native hash
    functions), so the "random" sample is bit-reproducible across
    engines, partitionings, and reruns — the property a training
    pipeline needs for auditable subsampling.  Executes as partial
    top-k per partition before the shuffle (window top-k over a
    computed column), O(k · keys) rows moved.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "event_id", "user_id")
    )


#: Count-Min Sketch geometry: CMS_D independent hash rows of CMS_W
#: counters.  The hash family is the cross-engine md5-prefix device
#: seeded by the row index, so BOTH engines build bit-identical
#: sketches — what turns the usual probabilistic accuracy claim into
#: a value-for-value hash gate.  Sketch size is d*w counters, CONSTANT
#: at any corpus size (the point of the sketch).
CMS_D = 4
CMS_W = 256
CMS_TOPK = 12


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT tok, i,
         ('0x' || substr(md5(chr(CAST(48 + i AS INTEGER)) || tok), 1, 6))::BIGINT % {CMS_W} AS b
  FROM toks, (SELECT unnest(range(0, {CMS_D})) AS i)
),
counters AS (
  SELECT i, b, CAST(COUNT(*) AS BIGINT) AS c FROM hashed GROUP BY i, b
),
exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY tok
),
est AS (
  SELECT h.tok, MIN(c.c) AS cms_estimate
  FROM (SELECT DISTINCT tok, i, b FROM hashed) h
  JOIN counters c USING (i, b)
  GROUP BY h.tok
)
SELECT e.tok, est.cms_estimate, e.exact_count,
       est.cms_estimate - e.exact_count AS overcount
FROM exact e JOIN est USING (tok)
ORDER BY est.cms_estimate DESC, e.tok
LIMIT {CMS_TOPK}
"""


@register("cms_heavy_hitters", _CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters (Cormode & Muthukrishnan 2005)
    with the exact-count audit column.

    The mergeable frequency sketch the HLL envelope's family was
    missing: ``CMS_D`` hash rows × ``CMS_W`` counters, estimate =
    min over rows of the hashed counter — never an undercount, over
    by at most the collision mass.  Per-partition partial counts
    merge by addition (the sketch IS an aggregate), so at 100 TB the
    corpus collapses into a CONSTANT d·w-counter frame: one
    map-side-combined token count (the word-count shape), then the
    VOCABULARY — not the raw token stream — is hashed into the d rows
    (counter = Σ counts of tokens landing there, identical by
    linearity, with |vocab|·d md5 calls instead of |tokens|·d); the
    estimate probe then joins that constant frame (broadcast hint is
    policy-safe by construction).
    The exact column is the evaluation tier — a production run keeps
    only the sketch.

    Determinism: the hash family is the seeded md5-prefix device, so
    the sketch, the estimates, and the measured overcounts are
    bit-identical in both engines and under any partitioning; the
    top-k orders by (estimate desc, tok) — a total order on exact
    integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col()).alias("tok"))

    def bucket(i: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(chr(48 + i)), F.col("tok"))), 1, 6),
                16,
                10,
            ).cast("long")
            % CMS_W
        )

    # count FIRST (the word-count shape), hash the VOCABULARY: the
    # counter for (i, b) is the sum of the counts of tokens hashing
    # there — identical to hashing the raw stream, but md5 runs
    # |vocab|·d times instead of |corpus tokens|·d, and the estimate
    # probe needs no distinct over a corpus-sized exploded frame
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_count"))
    hashed = exact.select(
        "tok",
        "exact_count",
        F.posexplode(F.array(*[bucket(i) for i in range(CMS_D)])).alias("i", "b"),
    )
    counters = hashed.groupBy("i", "b").agg(F.sum("exact_count").alias("c"))
    est = (
        hashed.select("tok", "i", "b")
        .join(F.broadcast(counters), ["i", "b"])
        .groupBy("tok")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        exact.join(est, "tok")
        .select(
            "tok",
            "cms_estimate",
            "exact_count",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("cms_estimate"), "tok")
        .limit(CMS_TOPK)
    )


_TRANSPOSE_ORACLE = """
WITH m AS (
  SELECT r.r_name,
         CAST(COUNT(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
         CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
  FROM region r
  JOIN nation n ON n.n_regionkey = r.r_regionkey
  LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
  GROUP BY r.r_name
)
SELECT 'n_nations' AS key,
       CAST(SUM(CASE WHEN r_name = 'AFRICA' THEN n_nations END) AS BIGINT) AS "AFRICA",
       CAST(SUM(CASE WHEN r_name = 'AMERICA' THEN n_nations END) AS BIGINT) AS "AMERICA",
       CAST(SUM(CASE WHEN r_name = 'ASIA' THEN n_nations END) AS BIGINT) AS "ASIA",
       CAST(SUM(CASE WHEN r_name = 'EUROPE' THEN n_nations END) AS BIGINT) AS "EUROPE",
       CAST(SUM(CASE WHEN r_name = 'MIDDLE EAST' THEN n_nations END) AS BIGINT) AS "MIDDLE EAST"
FROM m
UNION ALL
SELECT 'n_customers',
       CAST(SUM(CASE WHEN r_name = 'AFRICA' THEN n_customers END) AS BIGINT),
       CAST(SUM(CASE WHEN r_name = 'AMERICA' THEN n_customers END) AS BIGINT),
       CAST(SUM(CASE WHEN r_name = 'ASIA' THEN n_customers END) AS BIGINT),
       CAST(SUM(CASE WHEN r_name = 'EUROPE' THEN n_customers END) AS BIGINT),
       CAST(SUM(CASE WHEN r_name = 'MIDDLE EAST' THEN n_customers END) AS BIGINT)
FROM m
"""


@register("transpose_region_metrics", _TRANSPOSE_ORACLE)
def transpose_region_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0 API surface): a per-region
    metrics frame flipped so metrics become rows and region names
    become columns — the report-matrix reshape analysts otherwise do
    client-side.

    Contract note (why this is safe and when it isn't): ``transpose``
    must read the index column's VALUES to mint the output schema, so
    it materializes the frame on the driver — correct ONLY for
    bounded frames.  Here the input is a |regions|-row aggregate
    (constant 5 rows at any sf, the nation/region broadcast-dim
    class), the same bounded-frame rule the unpartitioned-window
    audit enforces.  A corpus-keyed transpose would be a
    driver-collect scale bug — use ``pivot`` (executor-side, schema
    from an explicit value list) for anything that scales.

    The aggregate itself: two broadcast-dim joins + a 5-group
    count/count-distinct — partial-agged, one shuffle of 3-column
    rows.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    m = (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey, "left")
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").alias("n_nations"),
            F.count("c_custkey").alias("n_customers"),
        )
    )
    return m.transpose()


# --- frequent-items sketch with exact containment envelope ------------

_FREQ_ITEMS_ORACLE = """
WITH c AS (
  SELECT l_quantity, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_quantity
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c
)
SELECT (SELECT n FROM tot) AS n_rows,
       CAST(COUNT(*) FILTER (cnt * 100 > (SELECT n FROM tot)) AS BIGINT)
         AS n_true_frequent,
       CAST(0 AS BIGINT) AS n_missed,
       CAST(10000 AS INTEGER) AS support_ppm
FROM c
"""


@register("freq_items_envelope", _FREQ_ITEMS_ORACLE)
def freq_items_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent-items sketch with an exact containment gate.

    ``df.stat.freqItems`` (Karp/Shenker/Papadimitriou one-pass counters,
    the Spark surface for heavy hitters without a shuffle-wide exact
    count) GUARANTEES every item with frequency > support·n appears in
    its output — possibly with false positives, never false negatives.
    That guarantee is the oracle-checkable fact: the exact frequent set
    (here l_quantity values above 1% of lineitem) is computed
    independently, anti-checked against the sketch output, and
    ``n_missed`` must be exactly 0 on any engine, any partitioning,
    any scale.  Same pattern as approx_distinct/approx_quantile
    envelopes: the sketch is engine-specific, its CONTRACT is not.

    100 TB posture: the sketch is single-pass and mergeable map-side
    (no shuffle of the data — only 1/support counters per partition);
    the driver materialization is the one-row freqItems result,
    bounded at 1/support = 100 items by construction.  The exact side
    is a word-count-shaped aggregate used only as the audit.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    support = 0.01
    # the sketch result and the row count are dataset constants: keyed-
    # cached per (session, file identity) instead of two driver jobs
    # (freqItems pass + count) on every query build
    items = corpus_cache(
        "stats.freq_items", spark, sf_dir,
        lambda: li.stat.freqItems(["l_quantity"], support).first()[0],
        table="lineitem",
    )
    c = li.groupBy("l_quantity").agg(F.count(F.lit(1)).alias("cnt"))
    n = table_count(spark, sf_dir, "lineitem")
    return c.agg(
        F.lit(n).cast("long").alias("n_rows"),
        F.sum((F.col("cnt") * 100 > n).cast("long")).alias("n_true_frequent"),
        F.sum(
            (
                (F.col("cnt") * 100 > n)
                & ~F.col("l_quantity").isin([float(x) for x in items])
            ).cast("long")
        ).alias("n_missed"),
        F.lit(10000).cast("int").alias("support_ppm"),
    )


# --- contingency table (df.stat.crosstab) ------------------------------

_CROSSTAB_ORACLE = """
SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders GROUP BY o_orderpriority
"""


@register("crosstab_orders", _CROSSTAB_ORACLE)
def crosstab_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via ``df.stat.crosstab``: order priority ×
    order status counts, one row per priority, one column per status.

    crosstab is the pairwise-frequency reshape Spark plans as a single
    partial+final pivot aggregate (distinct column values become
    output columns) — the same plan shape as ``pivot_daily_event_
    values`` but reached through the stat surface users actually call
    for quick contingency checks.  Exact integer counts; the oracle
    states the identical table as conditional aggregation.

    Scale: one map-side-combined aggregate over (priority, status);
    output is |priorities| × |statuses| — bounded by the column
    domains, never by row count.
    """
    orders = load_table(spark, sf_dir, "orders")
    ct = orders.stat.crosstab("o_orderpriority", "o_orderstatus")
    keep = ["o_orderpriority_o_orderstatus", "F", "O", "P"]
    # crosstab only materializes columns for values PRESENT in the
    # data; a slice missing a status must yield the oracle's zero
    # column, not an unresolved-column error
    have = set(ct.columns)
    return ct.select(
        *[
            F.col(f"`{c}`").alias(c)
            if c in have
            else F.lit(0).cast("long").alias(c)
            for c in keep
        ]
    )


# --- robust outlier detection: median absolute deviation ----------------

_MAD_ORACLE = """
WITH med AS (
  SELECT lang, quantile_disc(CAST(n_chars AS BIGINT), 0.5) AS med
  FROM documents GROUP BY lang
), dev AS (
  SELECT d.lang, med,
         abs(CAST(n_chars AS BIGINT) - med) AS dev
  FROM documents d JOIN med USING (lang)
), mad AS (
  SELECT lang, quantile_disc(dev, 0.5) AS mad FROM dev GROUP BY lang
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(d.med) AS BIGINT) AS median_chars,
       CAST(MAX(m.mad) AS BIGINT) AS mad_chars,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON d.lang = m.lang
GROUP BY d.lang
"""


@register("doc_length_mad_outliers", _MAD_ORACLE)
def doc_length_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length outliers: |len − median| > 3·MAD.

    Mean/stddev outlier fences are themselves dragged by the outliers
    they hunt; the median-absolute-deviation fence is the robust
    standard for data-cleaning cutoffs (50% breakdown point).  Both
    medians are DISCRETE (value-picking, zero float arithmetic), the
    deviations are exact BIGINTs, and the 3·MAD fence is an integer
    comparison — bit-deterministic cross-engine, the same
    no-transcendentals discipline as char_diversity_quality.

    Scale: two |langs|-bounded aggregates and two joins against
    |langs|-row frames (stats-broadcast — adaptively, not hinted,
    since lang cardinality is data not schema); no window over the
    corpus, no sort.  At 100 TB swap ``percentile_disc`` for
    ``approx_percentile`` with a rank-error budget — the fence moves
    by at most the sketch error, the plan is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("len")
    )
    med = docs.groupBy("lang").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY len)")
        .cast("long")
        .alias("med")
    )
    dev = docs.join(med, "lang").select(
        "lang", "med", F.abs(F.col("len") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("lang").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .cast("long")
        .alias("mad")
    )
    return (
        dev.join(mad, "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med").alias("median_chars"),
            F.max("mad").alias("mad_chars"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
    )


# --- single-pass data-quality metrics via observe() ---------------------

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_short,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_english
FROM documents
"""


@register("observed_quality_metrics", _OBSERVE_ORACLE)
def observed_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters via ``DataFrame.observe`` — metrics
    collected ON THE SIDE of a pass that is doing other work, without
    a second scan.

    Production pipelines attach observe() metrics (row counts, null
    rates, domain counters) to their main write so quality monitoring
    is free; the driver reads the observed values after the action.
    Here the observed pass runs into the no-op sink and the four
    counters come back as one bounded driver row, restated by the
    oracle as a plain aggregate — the point under test is that the
    observation's aggregate semantics are EXACTLY the SQL aggregate's.

    Scale: observe compiles to an AggregatingAccumulator attached to
    the existing pass — zero extra shuffle, zero extra scan; the
    driver materialization is one metrics row.

    EAGER-EXECUTION EXCEPTION (unique in the registry): calling this
    builder RUNS the observed noop-write scan and returns a
    driver-local one-row LocalTableScan frame — Observation values
    only exist after an action.  Any timing or plan inspection of the
    RETURNED frame therefore sees none of the real work; it is
    deliberately kept off bench.py's HEADLINE set, and its
    explain-audit spec pins only the trivial result frame.  The
    correctness gates are unaffected (they compare materialized rows).
    """
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation()
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        F.sum((F.col("n_chars") < 100).cast("long")).alias("n_short"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_english"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_docs"]), int(m["total_chars"]), int(m["n_short"]),
          int(m["n_english"]))],
        "n_docs bigint, total_chars bigint, n_short bigint, n_english bigint",
    )
