"""Sources & sinks: csv / json / text scans, parquet sink, roundtrips.

The reference has NO I/O layer — the caller passes any Python iterable
and docs demo ``open()`` on text files inside mappers (tinymr.py:156,
docs.rst:333-371); output is a returned dict (tinymr.py:230).  Here
every format goes through Spark's DataSource V2 scans, which is what
makes the engine a real engine: distributed reads with schema
inference or explicit schemas, and distributed writes.

Each roundtrip query WRITES a derived dataset to a scratch directory
and READS it back through the format under test, so both directions
are exercised; the DuckDB oracle computes the same answer straight
from the parquet source, proving the roundtrip is lossless.

Scale notes (100 TB posture):

* Parquet is the only format for big tables: columnar pruning,
  predicate pushdown, row-group statistics.  csv/json scans are
  splittable but read-everything — supported for ingest, not storage.
* Writes are per-partition parallel; the scratch roundtrips write
  from all executors (no coalesce(1) driver funnel).
* Explicit schemas on csv/json avoid the full inference pre-scan.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_python_spark.operators.aggregates import dec_sum
from mr_python_spark.registry import register
from mr_python_spark.session import load_table

#: scratch root for sink roundtrips (ephemeral, per-process)
_SCRATCH = os.path.join(
    tempfile.gettempdir(), f"mr_python_spark_io_{os.getpid()}"
)


def _scratch(name: str) -> str:
    return os.path.join(_SCRATCH, name)


_CSV_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("csv_scan_nation", _CSV_ORACLE)
def csv_scan_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan roundtrip with an explicit schema.

    nation (int/string/int) is written as headered CSV and read back
    with a declared ``StructType`` — no inference pre-scan, the
    pattern for ingesting text-format data at scale.
    """
    path = _scratch("nation_csv")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(path)


_JSON_ORACLE = """
SELECT
  o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
FROM orders
GROUP BY o_orderstatus
"""


@register("json_scan_orders", _JSON_ORACLE)
def json_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan roundtrip, then aggregate.

    Doubles survive the roundtrip exactly (Spark writes shortest
    round-trippable repr); the aggregate downstream matches the
    parquet-direct oracle bit-for-bit.
    """
    path = _scratch("orders_json")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .json(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
    )


_PQ_SINK_ORACLE = """
SELECT
  l_returnflag,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
FROM lineitem
WHERE l_quantity > 45
GROUP BY l_returnflag
"""


@register("parquet_sink_roundtrip", _PQ_SINK_ORACLE)
def parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + scan with partition pruning.

    The filtered projection is written partitioned by l_returnflag
    (``partitionBy`` → directory layout), read back, and aggregated.
    At scale the same layout gives partition pruning on the read path:
    a filter on l_returnflag would skip whole directories.
    """
    path = _scratch("lineitem_pq")
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.filter(F.col("l_quantity") > 45)
        .select("l_returnflag", "l_extendedprice")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


_EVOLVE_ORACLE = """
SELECT
  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
FROM orders
GROUP BY 1
"""


@register("schema_evolution_read", _EVOLVE_ORACLE)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolved parquet directory read via ``mergeSchema``.

    The data-lake reality: a dataset directory accretes batches whose
    schemas EVOLVE — here a legacy batch (orderkey, totalprice) and a
    current batch that added ``o_orderpriority``.  ``mergeSchema``
    unions the footers into one superset schema; legacy rows surface
    NULL for the added column, and the aggregate groups them as their
    own bucket.  The oracle recomputes the identical semantics from
    the source table (priority visible only for odd keys).

    Scale notes: footer-merging is a one-time planning cost; at 100 TB
    the production setting is a table-level schema (metastore) with
    per-file pruning, but the NULL-fill semantics verified here are
    exactly what evolved columns must do either way.
    """
    base = _scratch("orders_evolved")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(base, "batch=legacy"))
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(base, "batch=current"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=legacy"), os.path.join(base, "batch=current")
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("sum_price"),
    )


_ORC_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier
"""


@register("orc_scan_supplier", _ORC_ORACLE)
def orc_scan_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan roundtrip.

    Spark's other first-class columnar format: supplier is written as
    ORC and read back through the native vectorized ORC reader, which
    has the same pruning/pushdown machinery as the parquet path.  The
    oracle reads the parquet source directly, proving the roundtrip is
    lossless (including the double column, bit-for-bit).
    """
    path = _scratch("supplier_orc")
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


_PRUNED_ORACLE = """
SELECT
  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
  COUNT(*) AS n_clicks,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
WHERE event_type = 'click'
GROUP BY 1
"""


@register("partition_pruned_read", _PRUNED_ORACLE)
def partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning on a partitioned-directory layout.

    events is written partitioned by event_type (the one-time layout a
    production table would have), then read back with a partition
    filter: the plan shows ``PartitionFilters`` and the scan lists ONLY
    the ``event_type=click`` directory — 4/5 of the data is never
    opened.  At 100 TB this is the difference between scanning 20 TB
    and 100 TB for the same answer.
    """
    path = _scratch(f"events_by_type_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(path):
        from mr_python_spark.session import load_table as _lt

        _lt(spark, sf_dir, "events").write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(path)
    events = spark.read.parquet(path)
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    return (
        events.filter(F.col("event_type") == "click")
        .groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            dec_sum("value").alias("sum_value"),
        )
    )


_TEXT_ORACLE = """
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents WHERE lang = 'en'
)
WHERE word <> ''
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 20
"""


@register("text_scan_wordcount", _TEXT_ORACLE)
def text_scan_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.text`` scan — the reference's multi-file read demo
    (docs.rst:333-371: mappers ``open()`` file paths) as a real scan.

    English documents are written as one-doc-per-line text (newlines
    collapsed so line == document), read back via the text source, and
    word-counted — the docs.rst word-count-over-files pipeline,
    distributed.
    """
    path = _scratch("docs_text")
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    # one line per document: collapse internal whitespace runs to spaces
    docs.select(
        F.regexp_replace(F.col("text"), r"\s+", " ").alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    words = lines.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("value")), r"\s+"), lambda t: t != "")
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


_DYN_OVERWRITE_ORACLE = """
WITH current AS (
  SELECT event_type, value FROM events WHERE event_type <> 'click'
  UNION ALL
  SELECT event_type, value FROM events WHERE event_type = 'click' AND value > 100.0
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM current
GROUP BY event_type
"""


@register("sink_dynamic_partition_overwrite", _DYN_OVERWRITE_ORACLE)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level upsert: dynamic overwrite replaces ONLY the
    partitions present in the incoming write.

    The incremental-recompute sink shape: a 100 TB table partitioned
    by a key gets one partition's data recomputed (here: the `click`
    partition re-filtered to value > 100) without touching — or even
    listing — sibling partitions.  The per-write option
    ``partitionOverwriteMode=dynamic`` scopes the overwrite to
    partitions the incoming frame contains, vs static mode (the
    session default) which would truncate the whole table.  The
    read-back aggregate proves the result is exactly
    (old data - old partition + new partition).
    """
    path = _scratch("events_dyn")
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 100.0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )

    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )


_XML_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("xml_scan_nation", _XML_ORACLE)
def xml_scan_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan roundtrip (built-in ``xml`` source, Spark 4).

    nation is written element-per-row XML and read back with a
    declared schema + ``rowTag`` — the ingest pattern for the XML
    feeds (sitemaps, legacy enterprise exports) a crawl pipeline
    still meets.  Same explicit-schema posture as the CSV/JSON
    scans: no inference pre-scan at scale.
    """
    path = _scratch("nation_xml")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").format("xml").option(
        "rootTag", "nations"
    ).option("rowTag", "nation").save(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema).format("xml").option("rowTag", "nation").load(path)
    )


_CORRUPT_ORACLE = """
SELECT
  CASE WHEN n_nationkey % 5 = 0 THEN 'corrupt' ELSE 'good' END AS row_class,
  COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 0 ELSE n_nationkey END) AS BIGINT) AS key_sum
FROM nation
GROUP BY 1
"""


@register("csv_corrupt_records_permissive", _CORRUPT_ORACLE)
def csv_corrupt_records_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion: malformed rows captured, not fatal.

    Real feeds contain garbage lines; the ingestion contract is to
    LAND them (``_corrupt_record``) for quarantine instead of failing
    the batch (FAILFAST) or silently dropping them (DROPMALFORMED).
    The staged file deterministically corrupts every 5th nation row
    (single-field line), so the oracle knows exactly which rows must
    surface as corrupt; the aggregate proves malformed rows carry a
    NULL schema + the raw line while healthy rows parse fully.
    """
    import glob

    path = _scratch("nation_corrupt_csv")
    nation = load_table(spark, sf_dir, "nation")
    lines = nation.select(
        F.when(
            F.col("n_nationkey") % 5 == 0,
            F.concat(F.lit("GARBAGE-"), F.col("n_nationkey")),
        ).otherwise(
            F.concat_ws("|", "n_nationkey", "n_name", "n_regionkey")
        ).alias("value")
    )
    shutil.rmtree(path, ignore_errors=True)
    lines.coalesce(1).write.mode("overwrite").text(path)
    schema = (
        "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt_record STRING"
    )
    parsed = (
        spark.read.schema(schema)
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    row_class = F.when(
        F.col("_corrupt_record").isNotNull(), "corrupt"
    ).otherwise("good")
    return (
        parsed.select(row_class.alias("row_class"), "n_nationkey")
        .groupBy("row_class")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce(F.col("n_nationkey").cast("long"), F.lit(0))).alias("key_sum"),
        )
    )


# --- binaryFile source (multimodal raw-asset ingestion shape) ----------

_BINARYFILE_ORACLE = """
SELECT 'r' || CAST(r_regionkey AS VARCHAR) || '.bin' AS fname,
       CAST(octet_length(encode(
         CAST(r_regionkey AS VARCHAR) || '|' || r_name
       )) AS BIGINT) AS n_bytes,
       CAST(r_regionkey AS VARCHAR) || '|' || r_name AS payload
FROM region
"""


@register("binaryfile_scan", _BINARYFILE_ORACLE)
def binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingestion via Spark's built-in ``binaryFile`` source.

    This is the front door for multimodal corpora: a directory of
    opaque assets (images, audio, model shards) becomes a DataFrame of
    ``(path, modificationTime, length, content)`` rows with NO custom
    reader code, ready for the Arrow decode pass the multimodal family
    runs downstream.  Here each region row is staged as one ``.bin``
    file (region is the constant-size dim — 5 rows at every SF — so
    the driver-side staging loop is bounded by the schema, not the
    data), scanned back with ``pathGlobFilter``, and verified
    byte-for-byte: filename, byte length, and UTF-8 payload must all
    match the oracle's independent derivation from the parquet view.

    Scale: binaryFile splits the FILE LIST across executors (one
    task per file up to maxPartitionBytes packing); content bytes
    never pass through the driver on the read side.  The staging
    write is what a real pipeline replaces with its object store.
    """
    # keyed on (realpath, mtime) of the region fixture itself — not the
    # sf_dir basename — so two roots with the same leaf name (/a/sf0.01
    # vs /b/sf0.01) never share a directory, and a REGENERATED fixture
    # changes the key instead of requiring an rmtree.  Staging is
    # idempotent + atomic (tmp file, os.replace): a concurrent process
    # (bench vs check) re-staging the same fixture writes identical
    # bytes, so a pending lazy binaryFile read in another session can
    # never observe a half-deleted or half-written directory (the r14
    # ADVICE race — rmtree of a shared path under a lazy scan).
    import hashlib

    region_pq = os.path.realpath(os.path.join(sf_dir, "region.parquet"))
    ident = f"{region_pq}:{os.stat(region_pq).st_mtime_ns}"
    key = hashlib.sha1(ident.encode()).hexdigest()[:12]
    stage = _scratch(f"region_bin_{key}")
    # GC stale keys (r15 ADVICE): a regenerated fixture changes the key,
    # so the previous region_bin_* dir can never be read again — remove
    # any sibling whose key differs instead of accumulating one scratch
    # dir per regeneration.  Current-key dirs are never touched, so the
    # no-rmtree-under-a-live-scan guarantee above still holds.
    if os.path.isdir(_SCRATCH):
        for d in os.listdir(_SCRATCH):
            if d.startswith("region_bin_") and d != f"region_bin_{key}":
                shutil.rmtree(os.path.join(_SCRATCH, d), ignore_errors=True)
    os.makedirs(stage, exist_ok=True)
    rows = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    ).collect()
    for r in rows:
        payload = f"{r.r_regionkey}|{r.r_name}".encode()
        final = os.path.join(stage, f"r{r.r_regionkey}.bin")
        tmp = f"{final}.tmp.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, final)
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(stage)
    )
    return scan.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").cast("long").alias("n_bytes"),
        F.col("content").cast("string").alias("payload"),
    )
