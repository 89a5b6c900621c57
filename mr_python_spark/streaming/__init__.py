"""Event-time windowing: tumbling / sliding / session — batch + streaming.

The reference is strictly batch, fully materialized (tinymr.py:1,29);
nothing like watermarks or windows exists there (SURVEY.md §2c).  The
batch queries here use the exact operators Structured Streaming uses
(``window()``, ``session_window()``), so the same code runs under
``readStream`` — :func:`run_streaming_tumbling` proves it with an
availableNow trigger + memory sink.

Window starts surface as epoch-second BIGINTs: timezone-free and
identical across engines.

Scale notes: tumbling/sliding aggregation is algebraic → partial
aggregation before the shuffle; session windows need the per-key
gap-merge (Spark keeps per-key state; the batch oracle is the
gaps-and-islands window trick).  Watermarks bound state for late data.
"""

from __future__ import annotations

import os

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_python_spark.operators.aggregates import dec_sum
from mr_python_spark.registry import register
from mr_python_spark.session import bind, load_table, with_conf


def _stage_chunks(stage_dir: str, frames, prefix: str) -> None:
    """Atomically publish ``frames`` as ``<prefix>{i}.parquet`` under
    ``stage_dir``, one SINGLE parquet file per frame (the file-stream
    fixture contract: ``maxFilesPerTrigger=1`` ⇒ one micro-batch per
    frame).  Each frame is written by a Spark job (coalesce-to-one —
    fine for fixture-sized chunks), so no driver materialization at
    any SF.  The staging tmp is mkdtemp-unique per process and the
    final ``os.rename`` is atomic: concurrent bench/sweep processes
    either publish identical deterministic content or lose the race
    harmlessly.
    """
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="mrps_stage_")
    try:
        for i, df in enumerate(frames):
            out = os.path.join(tmp, f"t{i}")
            df.coalesce(1).write.parquet(out)
            part = next(
                f
                for f in os.listdir(out)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            os.rename(os.path.join(out, part), os.path.join(tmp, f"{prefix}{i}.parquet"))
            shutil.rmtree(out)
        os.rename(tmp, stage_dir)
    except OSError:
        if not os.path.isdir(stage_dir):  # a real failure, not a lost race
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def staged_events_stream(
    spark: SparkSession, sf_dir: str, *, watermark_sentinel: bool = False
):
    """``readStream`` over a staged copy of ``events.parquet``.

    The file-stream source wants a directory, so the single parquet
    file is staged into one.  The stage dir is keyed by a content
    fingerprint (size + mtime) of the source file: a regenerated
    dataset, or a different dataset dir that happens to share a
    basename, gets a fresh stage dir instead of silently replaying
    stale data copied by an earlier run.

    ``watermark_sentinel`` stages an EXTRA parquet file holding one
    far-future event per event type (``user_id`` −1…, ``event_id``
    −1…, ts = max(ts) + 1 day).  Outer stream-stream joins need it
    under availableNow: an unmatched left row is only emittable once
    the right-side watermark passes its join window, and with a
    finite stream the watermark otherwise stops (delay) short of the
    tail — the tail's NULL rows would be withheld forever.  The
    sentinel pushes the final watermark past every real event.  This
    is an artifact of FINITE streams; a production continuous stream
    advances its watermark with every new event and needs no
    sentinel.  Callers must exclude sentinel rows from results
    (filter ``user_id >= 0``).  Sentinel and plain stages use
    different dirs, so other streaming queries are untouched.
    """
    import os
    import shutil
    import tempfile

    from mr_python_spark.session import ensure_session

    ensure_session(spark)
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    fingerprint = f"{st.st_size:x}_{st.st_mtime_ns:x}"
    variant = "sent_" if watermark_sentinel else ""
    prefix = f"mrps_stream_{variant}{os.path.basename(sf_dir)}_"
    stage_dir = os.path.join(tempfile.gettempdir(), prefix + fingerprint)
    # best-effort GC: a regenerated dataset gets a new fingerprint, so
    # sibling dirs with a stale fingerprint would otherwise pile up in
    # /tmp forever
    import glob

    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        if old != stage_dir:
            shutil.rmtree(old, ignore_errors=True)
    os.makedirs(stage_dir, exist_ok=True)
    staged = os.path.join(stage_dir, "events.parquet")
    if not os.path.exists(staged):
        # copy via a unique tmp + atomic rename: a concurrent process
        # staging the same fingerprint must never expose a half-copied
        # file to the other's readStream
        import tempfile as _tf

        # "_" prefix: the file-stream source's hidden-file filter skips
        # _-prefixed names, so an in-flight tmp is never listed
        fd, tmp_copy = _tf.mkstemp(prefix="_stage_", dir=stage_dir)
        os.close(fd)
        shutil.copy(src, tmp_copy)
        os.replace(tmp_copy, staged)
    if watermark_sentinel:
        sentinel = os.path.join(stage_dir, "events_sentinel.parquet")
        if not os.path.exists(sentinel):
            import tempfile as _tf

            import pyarrow as pa
            import pyarrow.parquet as pq

            # the sentinel needs only max(ts) and the distinct event
            # types — computed as Spark aggregates (|event_types| rows
            # to the driver), NOT an arrow read of the whole table;
            # the arrow schema comes from the parquet FOOTER only
            schema = pq.read_schema(src)
            sdf = spark.read.parquet(staged)
            ts_max = sdf.agg(F.max("ts")).collect()[0][0]
            etypes = sorted(
                r[0] for r in sdf.select("event_type").distinct().collect()
            )
            if isinstance(ts_max, int):
                # bigint column = epoch NANOS under nanosAsLong (the
                # reader branch below divides by 1000 before
                # timestamp_micros); pa.array maps raw ints onto
                # timestamp[ns] fields directly
                far = ts_max + 86_400 * 1_000_000_000
            else:
                far = ts_max + __import__("datetime").timedelta(days=1)
            cols = {
                "event_id": [-(i + 1) for i in range(len(etypes))],
                "ts": [far] * len(etypes),
                "user_id": [-(i + 1) for i in range(len(etypes))],
                "event_type": etypes,
                "value": [0.0] * len(etypes),
                "props": ["{}"] * len(etypes),
            }
            rows = pa.table(
                {f.name: pa.array(cols[f.name], type=f.type) for f in schema},
                schema=schema,
            )
            fd, tmp_sent = _tf.mkstemp(prefix="_stage_", dir=stage_dir)
            os.close(fd)
            pq.write_table(rows, tmp_sent)
            os.replace(tmp_sent, sentinel)
    raw_schema = spark.read.parquet(staged).schema
    stream = spark.readStream.schema(raw_schema).parquet(stage_dir)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # parquet timestamp[us] without a timezone loads as TIMESTAMP_NTZ,
        # which withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
        # ensure_session pins the session timezone to UTC, so the cast is
        # value-preserving and batch oracles keep matching.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


#: stateful-stream state-partition sizing target: one state partition
#: per this many SOURCE rows
STREAM_STATE_TARGET_ROWS = 12_500


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Shuffle/state partition count for a stateful stream over the
    staged events source, sized to the source volume.

    AQE is disabled in stateful streaming, so nothing coalesces the
    ``spark.sql.shuffle.partitions`` state partitions the way batch
    shuffles are coalesced by size — and each state partition commits
    its store delta every micro-batch at a near-fixed cost, so
    near-empty state stores are pure overhead.  Measured on the
    purchases × clicks interval join (availableNow, memory sink):
    sf0.01 13.96 s at 32 partitions vs 6.93 s at 4; sf0.1 14.21 s at
    32 vs 8.08 s at 8 — identical output rows.  Rule (the AQE
    advisory-size idea applied to state): one partition per
    ``STREAM_STATE_TARGET_ROWS`` source rows, clamped to
    [4, defaultParallelism] so large corpora keep full parallelism
    (sf1 already saturates the clamp).  The count is a planning scalar
    off the keyed ``table_count`` cache; a production deployment sizes
    it to steady-state volume the same way — the partition count is
    pinned by the first checkpoint, exactly like a real stream's.
    """
    from mr_python_spark.session import table_count

    n = table_count(spark, sf_dir, "events")
    par = spark.sparkContext.defaultParallelism
    return max(4, min(par, -(-n // STREAM_STATE_TARGET_ROWS)))


def run_to_memory(
    spark: SparkSession,
    df,
    name_prefix: str,
    output_mode: str = "append",
    timeout_s: int = 180,
    *,
    state_partitions: int,
) -> DataFrame:
    """Run an availableNow stream into a memory sink and return the table.

    ``awaitTermination(timeout)`` returns False on timeout — in that
    case the sink holds partial results, so fail loudly instead of
    returning them as if complete.  ``state_partitions`` (see
    :func:`stream_state_partitions`) is set as the shuffle-partition
    conf of a session clone that the stream starts from, so the
    caller's conf is never written.  The sink's temp view lives in
    that clone; the returned frame is its plan bound back onto
    ``spark``, so batch plans built on it see the caller's conf.
    """
    import uuid

    sink = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    df = with_conf(df, {"spark.sql.shuffle.partitions": state_partitions})
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        raise RuntimeError(
            f"streaming query {sink} did not finish within {timeout_s}s; "
            "refusing to return a partial memory sink"
        )
    return bind(df.sparkSession.table(sink), spark)


def run_foreach_batch(stream, func, checkpoint: str, name: str,
                      output_mode: str = "append") -> None:
    """Run an availableNow stream to its end, handing each micro-batch
    to ``func(batch_df, batch_id)``; raise if it does not finish in
    180 s.

    pyspark wraps every micro-batch in a new ``SparkSession``
    (``ForeachBatchFunction.call``), and that constructor repoints the
    process-global ``RDD.toDF`` at the stream's session.  Each batch
    puts it back where it pointed when the stream started, so a later
    ``rdd.toDF()`` builds on the session it built on before.
    """
    to_df = RDD.toDF

    def call(batch_df, batch_id: int) -> None:
        try:
            func(batch_df, batch_id)
        finally:
            RDD.toDF = to_df

    q = (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(call)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise RuntimeError(f"{name} did not finish in 180s")


_TUMBLE_ORACLE = """
SELECT
  CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("tumbling_window_events", _TUMBLE_ORACLE)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type (``F.window``)."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        events.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SLIDE_ORACLE = """
SELECT
  CAST(floor(epoch(ts) / 1800) * 1800 - off AS BIGINT) AS win_start,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
CROSS JOIN (VALUES (0), (1800)) o(off)
GROUP BY 1
"""


@register("sliding_window_events", _SLIDE_ORACLE)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event in 2 windows)."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        events.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


_SESSION_ORACLE = """
WITH marked AS (
  SELECT
    user_id,
    ts,
    CASE
      WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
      WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 THEN 1
      ELSE 0
    END AS new_session
  FROM events
), numbered AS (
  SELECT
    user_id,
    ts,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_no
  FROM marked
)
SELECT
  user_id,
  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
  COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


@register("session_window_events", _SESSION_ORACLE)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user (``F.session_window``).

    The oracle is the classic gaps-and-islands construction — the
    hand-written reducer a tinymr user would need; here it is one
    stateful operator.
    """
    events = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        events.groupBy(sw.alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
        )
    )


@register("streaming_tumbling_live", _TUMBLE_ORACLE)
def streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling query under actual Structured Streaming.

    readStream(parquet) → withWatermark → window agg → availableNow
    trigger → memory sink.  Proves the batch window queries are
    streaming-ready (same operators, plus state + late-data bounds).
    """
    stream = staged_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(
        spark, agg, "stream_tumbling", output_mode="complete",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


_SJOIN_ORACLE = """
SELECT
  p.event_id,
  p.user_id,
  p.ts,
  c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


@register("streaming_join_live", _SJOIN_ORACLE)
def streaming_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases × clicks within the prior hour.

    The missing piece between windowed aggregation and stateful ops:
    BOTH sides are unbounded, so each must buffer state until the
    other side's watermark passes the join-time bound.  The interval
    condition (click within [purchase − 1 h, purchase]) is what makes
    state GC-able — without it Spark rejects the append-mode join.
    Output is every qualifying (purchase, click) pair, a deterministic
    set, so the batch SQL oracle gates it exactly.

    Scale notes: state per key is bounded by (watermark + interval)
    worth of events; the join itself shuffles both streams on user_id
    once — the same hash-partitioned shape as the batch equi-join.
    """
    joined = join_live_frame(lambda: staged_events_stream(spark, sf_dir))
    return run_to_memory(
        spark, joined, "stream_join",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


def join_live_frame(make_stream, how: str = "inner"):
    """The purchases × clicks interval join of type ``how`` over two
    instances of the event stream (``make_stream()`` is called once per
    side — each side of a stream-stream join needs its own source).
    The rate/state probe (tools/streaming_rate_probe.py) drives the
    identical unbounded plan under a rate-limited multi-batch
    trigger.

    Columns: ``event_id, user_id, ts, click_ts``; a semi join keeps the
    purchase side's three, and a full join names the purchase side's
    user ``p_user`` and keeps the click side's ``c_user``."""
    clicks = (
        make_stream()
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        make_stream()
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("ts")),
        how,
    )
    if how == "left_semi":
        return joined
    if how == "full_outer":
        return joined.select(
            "event_id", F.col("user_id").alias("p_user"), "ts", "c_user", "click_ts"
        )
    return joined.select("event_id", "user_id", "ts", "click_ts")


_SJOIN_SEMI_ORACLE = """
SELECT p.event_id, p.user_id, p.ts
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL 1 HOUR
      AND c.ts <= p.ts
  )
"""


@register("streaming_join_semi_live", _SJOIN_SEMI_ORACLE)
def streaming_join_semi_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join — purchases with a click in the hour.

    Completes the streaming join matrix (inner / left-outer /
    full-outer / semi): the semi variant emits each purchase AT MOST
    once, on its first qualifying click, and buffers no click payload
    past the match — the attribution-check shape ("did a click
    precede this purchase?") where the inner join's one-row-per-click
    fan-out is wrong.  Same watermark + interval-bound state contract
    as ``streaming_join_live``; output is the deterministic EXISTS
    set, so the batch SQL oracle gates it exactly.
    """
    joined = join_live_frame(lambda: staged_events_stream(spark, sf_dir), "left_semi")
    return run_to_memory(
        spark, joined, "stream_join_semi",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


_SSINK_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
GROUP BY event_type
"""


@register("streaming_parquet_sink", _SSINK_ORACLE)
def streaming_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end effectively-once: stream → parquet files → read back.

    Complete-mode aggregates cannot write to the append-only file sink
    (which is what maintains a `_spark_metadata` transaction log), so
    this uses the documented ``foreachBatch`` bridge: each micro-batch
    rewrites the full aggregate with ``mode("overwrite")``.  The
    guarantee is therefore at-least-once made *effectively* exactly
    once by idempotent overwrite — a restart with the same checkpoint
    re-emits the same batch, and the overwrite makes the re-emit
    harmless.  (An append-mode pipeline writing through the native
    file sink would get the `_spark_metadata`-log atomic commit
    instead; that shape needs no foreachBatch.)  The query runs the
    availableNow stream into a fresh parquet dir, reads the files
    back, and the DuckDB oracle gates the round-tripped values
    exactly.
    """
    import os
    import shutil
    import tempfile
    import uuid

    stream = staged_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    out_dir = os.path.join(tempfile.gettempdir(), f"mrps_fsink_{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(out_dir, "_checkpoint")
    # complete-mode aggregates can't write to the append-only file
    # sink directly; foreachBatch is the documented bridge — each
    # micro-batch's full result overwrites the target atomically.
    agg = with_conf(
        agg, {"spark.sql.shuffle.partitions": stream_state_partitions(spark, sf_dir)}
    )
    run_foreach_batch(
        agg,
        lambda batch_df, _epoch: batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, "data")
        ),
        ckpt, "streaming_parquet_sink", output_mode="complete",
    )
    result = spark.read.parquet(os.path.join(out_dir, "data"))
    rows = result.collect()  # materialize before cleaning the dir
    shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


_ENRICH_ORACLE = """
SELECT
  CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
  CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
       WHEN event_type = 'error' THEN 'fault'
       ELSE 'engagement' END AS tier,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("streaming_static_enrich", _ENRICH_ORACLE)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + windowed rollup per tier.

    The standard production enrichment shape this suite hadn't
    demonstrated: an unbounded stream joined against a BOUNDED
    dimension (event-type → business tier).  Unlike stream-stream
    joins, stream-static joins are STATELESS — the static side is
    just re-read (or broadcast) per micro-batch, no watermark or
    buffer on either side — which is why dimension enrichment is
    cheap at any scale; only the downstream windowed aggregate
    carries state, bounded by the watermark.  The tier dimension here
    is a 5-row literal frame standing in for a dimension table; at
    100 TB the same plan holds with the dim broadcast per batch.
    """
    tiers = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("signup", "conversion"),
            ("purchase", "conversion"),
            ("error", "fault"),
        ],
        ["event_type", "tier"],
    )
    stream = staged_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    enriched = stream.join(F.broadcast(tiers), "event_type")
    win = F.window("ts", "1 hour")
    agg = (
        enriched.groupBy(win.alias("w"), F.col("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("win_start"),
            "tier",
            "n_events",
            "sum_value",
        )
    )
    # complete mode so windows the watermark hasn't closed still emit
    # (same availableNow posture as streaming_tumbling_live)
    return run_to_memory(
        spark, agg, "stream_enrich", output_mode="complete",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


_SJOIN_OUTER_ORACLE = """
SELECT
  p.event_id,
  p.user_id,
  p.ts,
  c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


@register("streaming_join_outer_live", _SJOIN_OUTER_ORACLE)
def streaming_join_outer_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, clicks optional.

    The outer variant of ``streaming_join_live`` — the shape that
    needs watermarks on BOTH sides even more than the inner join
    does: a purchase with no matching click can only be emitted as
    (purchase, NULL) once the click-side watermark has passed the
    join window's upper bound, proving no match can still arrive.
    Under availableNow the stream ends, which finalizes the watermark
    and flushes the NULL rows — the batch LEFT JOIN oracle gates the
    full result exactly.

    Scale notes: identical state shape to the inner join (both sides
    buffer (watermark + interval) worth of events per user); the only
    addition is the unmatched-row bookkeeping the state store already
    tracks per join key.
    """
    joined = join_live_frame(
        lambda: staged_events_stream(spark, sf_dir, watermark_sentinel=True), "left_outer"
    )
    result = run_to_memory(
        spark, joined, "stream_join_outer",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )
    # Drop the sentinels (negative user ids by construction) from the
    # MATERIALIZED sink, not inside the streaming plan: Catalyst pushes
    # a deterministic filter through the left side of the outer join to
    # BELOW the EventTimeWatermark node, where it would remove the
    # sentinel before the watermark operator ever saw it — silently
    # restoring the withheld-tail bug the sentinel exists to fix.
    return result.filter(F.col("user_id") >= 0)


_DYN_SESSION_ORACLE = """
WITH g AS (
  SELECT
    user_id,
    event_id,
    ts,
    epoch(ts) + CASE WHEN event_type IN ('purchase', 'signup') THEN 3600
                     WHEN event_type = 'error' THEN 600
                     ELSE 1800 END AS win_end
  FROM events
), marked AS (
  SELECT
    user_id,
    ts,
    CASE WHEN MAX(win_end) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) >= epoch(ts) THEN 0 ELSE 1 END AS new_session
  FROM g
), numbered AS (
  SELECT
    user_id,
    ts,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_no
  FROM marked
)
SELECT
  user_id,
  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
  COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


@register("session_window_dynamic_gap", _DYN_SESSION_ORACLE)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type session gaps: conversions hold a session open an
    hour, errors only 10 minutes, everything else 30.

    ``F.session_window`` takes a COLUMN gap, so the per-row gap is a
    ``when`` expression and the whole thing stays one stateful
    operator — the tinymr equivalent is a hand-written reducer over
    (ts, type) pairs.  The oracle is gaps-and-islands generalized to
    variable windows: an event joins the running session iff the
    cumulative max of previous window-ends reaches its timestamp.

    Scale notes: same per-key state as the fixed-gap session window —
    the gap expression is evaluated row-side, not stored.
    """
    events = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit("1 hour"))
        .when(F.col("event_type") == "error", F.lit("10 minutes"))
        .otherwise(F.lit("30 minutes"))
    )
    sw = F.session_window("ts", gap)
    return (
        events.groupBy(sw.alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
        )
    )


_SJOIN_FULL_ORACLE = """
SELECT
  p.event_id,
  p.user_id AS p_user,
  p.ts,
  c.user_id AS c_user,
  c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


@register("streaming_join_full_live", _SJOIN_FULL_ORACLE)
def streaming_join_full_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — both sides' unmatched rows emit.

    Completes the streaming join matrix (inner, left-outer, full):
    clicks with no qualifying purchase AND purchases with no
    qualifying click both surface as NULL-extended rows, each only
    after the OTHER side's watermark proves no match can arrive.
    Both sides therefore need the sentinel finalization; sentinel
    rows (negative user ids on either side) are excluded from the
    materialized sink — in-plan filters would be pushed below the
    watermark nodes.
    """
    joined = join_live_frame(
        lambda: staged_events_stream(spark, sf_dir, watermark_sentinel=True), "full_outer"
    )
    result = run_to_memory(
        spark, joined, "stream_join_full",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )
    # sentinels can surface from EITHER side; both id columns are
    # NULL-safe checked against the negative sentinel range
    return result.filter(
        (F.coalesce(F.col("p_user"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("c_user"), F.lit(0)) >= 0)
    )


@register("streaming_incremental_mv", _SSINK_ORACLE)
def streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view: per-type totals merged batch by batch.

    The production streaming-rollup shape the complete-mode sink
    can't give you at scale: complete mode rewrites the WHOLE
    aggregate every trigger, which dies when the aggregate itself is
    large.  Here each micro-batch computes only its PARTIAL aggregate
    and ``foreachBatch`` merges it into a versioned parquet view
    (read version b−1, union, re-aggregate, write version b) — work
    per trigger is O(batch + view), not O(stream).  The events file
    is staged as three chunks with ``maxFilesPerTrigger=1``, so the
    merge provably runs across three distinct micro-batches; exact
    fixed-point cent sums make the merge associative, so the final
    view equals the batch aggregate bit-for-bit (the oracle).
    Versioned outputs keep restarts effectively-once: a replayed
    batch b rewrites exactly version b.
    """
    import os
    import shutil
    import tempfile
    import uuid

    from mr_python_spark.session import ensure_session

    ensure_session(spark)
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    stage_dir = os.path.join(
        tempfile.gettempdir(),
        f"mrps_stream_chunks_{os.path.basename(sf_dir)}_{st.st_size:x}_{st.st_mtime_ns:x}",
    )
    if not os.path.isdir(stage_dir):
        # three-way split by event_id residue, staged as Spark jobs
        # (no driver materialization) — ANY deterministic 3-way
        # partition works: the merge is associative and the oracle is
        # the batch aggregate over the union, so chunk membership only
        # decides micro-batch boundaries, not the final view.  Raw
        # spark.read (not load_table): the chunks must carry the
        # source's own columns — this query never touches ts.
        raw = spark.read.parquet(src)
        _stage_chunks(
            stage_dir,
            [raw.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)],
            "chunk",
        )

    schema = spark.read.parquet(os.path.join(stage_dir, "chunk0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    mv_root = os.path.join(tempfile.gettempdir(), f"mrps_mv_{uuid.uuid4().hex[:8]}")

    def merge(batch_df, batch_id: int):
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        prev = os.path.join(mv_root, f"v{batch_id - 1}")
        if batch_id > 0 and os.path.isdir(prev):
            merged = (
                batch_df.sparkSession.read.parquet(prev)
                .unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("cents").alias("cents"),
                )
            )
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(os.path.join(mv_root, f"v{batch_id}"))

    run_foreach_batch(
        stream, merge, os.path.join(mv_root, "_ckpt"), "streaming_incremental_mv"
    )
    versions = sorted(
        int(d[1:]) for d in os.listdir(mv_root) if d.startswith("v")
    )
    final = spark.read.parquet(os.path.join(mv_root, f"v{versions[-1]}"))
    rows = (
        final.select(
            "event_type",
            "n_events",
            (F.col("cents").cast("double") / 100.0).alias("sum_value"),
        )
        .collect()
    )
    shutil.rmtree(mv_root, ignore_errors=True)
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, out_schema)


_SCMS_ORACLE = """
WITH hashed AS (
  SELECT user_id, i,
         ('0x' || substr(md5(chr(CAST(48 + i AS INTEGER)) || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT % 256 AS b
  FROM events, (SELECT unnest(range(0, 4)) AS i)
),
counters AS (
  SELECT i, b, CAST(COUNT(*) AS BIGINT) AS c FROM hashed GROUP BY i, b
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_events FROM events GROUP BY user_id
),
est AS (
  SELECT h.user_id, MIN(c.c) AS cms_estimate
  FROM (SELECT DISTINCT user_id, i, b FROM hashed) h
  JOIN counters c USING (i, b)
  GROUP BY h.user_id
)
SELECT e.user_id, est.cms_estimate, e.exact_events,
       est.cms_estimate - e.exact_events AS overcount
FROM exact e JOIN est USING (user_id)
ORDER BY est.cms_estimate DESC, e.user_id
LIMIT 12
"""


def _cms_bucket(i: int):
    """Seeded md5 bucket column for CMS row ``i`` (bit-identical across
    engines and partitionings — the same family as the batch twin)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(chr(48 + i)), F.col("user_id").cast("string"))
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 256
    )


def cms_counter_frame(stream):
    """The streaming Count-Min counter aggregate (d·w = 1024 rows of
    state total, any volume).  Extracted so the rate/state probe
    drives the identical unbounded plan under a multi-batch trigger."""
    hashed = stream.select(
        "user_id",
        F.posexplode(F.array(*[_cms_bucket(i) for i in range(4)])).alias("i", "b"),
    )
    return hashed.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))


@register("streaming_cms_hitters", _SCMS_ORACLE)
def streaming_cms_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch maintained BY THE STREAM: heavy-hitter users.

    The streaming half of :func:`~mr_python_spark.operators.stats.
    cms_heavy_hitters`: the sketch counters ARE the streaming state —
    a complete-mode groupBy(row, bucket) count over the event stream,
    d·w = 1024 rows of state TOTAL regardless of stream volume or key
    cardinality (the reason production pipelines sketch instead of
    counting: per-key streaming state grows unboundedly, sketch state
    doesn't).  Spark keeps every counter incrementally current per
    micro-batch; the heavy-hitter probe then reads the materialized
    sketch batch-side (streaming forbids a second aggregation in the
    same query — and a production probe IS a point-in-time lookup).
    The exact-count audit column is the evaluation tier, same as the
    batch twin; the seeded md5 family makes sketch and estimates
    bit-identical across engines and under any partitioning.
    """
    counters = cms_counter_frame(staged_events_stream(spark, sf_dir))
    sketch = run_to_memory(
        spark, counters, "stream_cms", output_mode="complete",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )
    bucket = _cms_bucket

    events = load_table(spark, sf_dir, "events")
    batch_hashed = events.select(
        "user_id",
        F.posexplode(F.array(*[bucket(i) for i in range(4)])).alias("i", "b"),
    )
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_events"))
    est = (
        batch_hashed.distinct()
        .join(F.broadcast(sketch), ["i", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "cms_estimate",
            "exact_events",
            (F.col("cms_estimate") - F.col("exact_events")).alias("overcount"),
        )
        .orderBy(F.desc("cms_estimate"), "user_id")
        .limit(12)
    )


_CDC_APPLY_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders
), changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 110, 0) AS BIGINT) / 100.0 AS o_totalprice,
         'U' AS op, 1 AS seq
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM base), o_custkey, 'N',
         o_totalprice, 'I', 2
  FROM base WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 120, 0) AS BIGINT) / 100.0, 'U', 2
  FROM base WHERE o_orderkey % 20 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, NULL, 'D', 3
  FROM base WHERE o_orderkey % 13 = 0
), log AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'U' AS op, 0 AS seq
  FROM base
  UNION ALL
  SELECT * FROM changes
), latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM log) WHERE rn = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM latest WHERE op <> 'D'
"""


@register("streaming_cdc_apply", _CDC_APPLY_ORACLE)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE CDC apply: an ordered change stream merged onto a base
    snapshot through ``foreachBatch`` — the streaming half of the CDC
    family (``merge_upsert_orders`` is the single-batch MERGE; this is
    the continuous Debezium/Kafka-feed shape every lakehouse ingest
    runs).

    The change log (sequenced U/I/D records derived deterministically
    from ``orders``, staged as one parquet chunk per sequence tier and
    streamed with ``maxFilesPerTrigger=1`` so the merge provably spans
    three micro-batches) applies onto a seeded snapshot version by
    version: each batch keeps its per-key max-``seq`` record, merges
    it against version b−1 by per-key max-``seq`` again, and writes
    version b.  Deletes are retained as TOMBSTONES while the stream
    runs — a delete at seq 3 must beat an update at seq 2 that arrives
    in a LATER micro-batch, so a CDC apply that drops deletes eagerly
    is order-dependent and wrong; tombstones make the merge a
    commutative per-key argmax and the final snapshot independent of
    how the file source batches the log.  They are filtered only at
    read time.  Versioned outputs keep restarts effectively-once (a
    replayed batch rewrites exactly its own version — the
    ``streaming_incremental_mv`` recipe).

    Work per trigger is O(batch + snapshot), like the incremental MV;
    a production deployment on a table format partition-prunes the
    rewrite to touched partitions and compacts tombstones on a
    schedule.  The final snapshot equals the batch oracle (base ∪ log,
    per-key max-seq, tombstones dropped) bit-for-bit.
    """
    import os
    import shutil
    import tempfile

    from mr_python_spark.session import ensure_session

    ensure_session(spark)
    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    stage_dir = os.path.join(
        tempfile.gettempdir(),
        f"mrps_cdc_log_{os.path.basename(sf_dir)}_{st.st_size:x}_{st.st_mtime_ns:x}",
    )
    if not os.path.isdir(stage_dir):
        # Stage the change log DISTRIBUTIVELY: the derivation is plain
        # filter/project over orders, so it runs as Spark jobs — no
        # full-table driver materialization at any SF (a real CDC feed
        # arrives pre-segmented anyway; _stage_chunks handles the
        # one-file-per-tier contract and the concurrent-process race).
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        # one scalar to the driver — bounded, keyed by source identity
        max_key = base.agg(F.max("o_orderkey")).collect()[0][0]
        key = F.col("o_orderkey")

        def tier(df, op: str, seq: int):
            return df.withColumn("op", F.lit(op)).withColumn(
                "seq", F.lit(seq).cast("int")
            )

        # F.floor(x*f + 0.5) == HALF_UP cents rounding == DuckDB
        # round(x, 0) for positive prices — the merge_upsert_orders idiom
        def cents(f: int):
            return (
                F.floor(F.col("o_totalprice") * f + F.lit(0.5)).cast("long")
                / F.lit(100.0)
            ).alias("o_totalprice")

        u1 = tier(
            base.filter(key % 10 == 0).withColumn("o_totalprice", cents(110)),
            "U",
            1,
        )
        ins = tier(
            base.filter(key % 97 == 0)
            .withColumn("o_orderkey", key + F.lit(max_key))
            .withColumn("o_orderstatus", F.lit("N")),
            "I",
            2,
        )
        u2 = tier(
            base.filter(key % 20 == 0).withColumn("o_totalprice", cents(120)),
            "U",
            2,
        )
        dl = tier(
            base.filter(key % 13 == 0).select(
                "o_orderkey",
                F.lit(None).cast("long").alias("o_custkey"),
                F.lit(None).cast("string").alias("o_orderstatus"),
                F.lit(None).cast("double").alias("o_totalprice"),
            ),
            "D",
            3,
        )
        _stage_chunks(stage_dir, [u1, ins.unionByName(u2), dl], "log")

    schema = spark.read.parquet(os.path.join(stage_dir, "log0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )

    # snapshot root keyed by (session, source identity) and REUSED
    # across calls — a fresh uuid per call would leak 4 orders-table
    # copies into /tmp on every invocation (bench best-of-3, sweeps).
    # Within a session, a re-invocation finds the checkpoint complete,
    # streams zero new files, and serves the already-built versions —
    # the incremental no-op a real CDC apply does when the log has no
    # new segments; separate sessions get separate roots so concurrent
    # runs never contend on one checkpoint.
    snap_root = os.path.join(
        tempfile.gettempdir(),
        "mrps_cdc_snap_"
        f"{spark.sparkContext.applicationId}_{st.st_size:x}_{st.st_mtime_ns:x}",
    )
    # best-effort cleanup: snap roots are reused only within their own
    # session (the appId key), so roots from other apps untouched for
    # >2h belong to finished sessions and just accumulate in /tmp.
    # Worst case a live-but-idle session loses its root — its next call
    # rebuilds seed+versions from scratch, which is correct, just slower.
    try:
        import time

        cutoff = time.time() - 7200
        me = f"mrps_cdc_snap_{spark.sparkContext.applicationId}_"
        for d in os.listdir(tempfile.gettempdir()):
            if d.startswith("mrps_cdc_snap_") and not d.startswith(me):
                p = os.path.join(tempfile.gettempdir(), d)
                if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    os.makedirs(snap_root, exist_ok=True)
    # seed: the base snapshot as seq-0 upserts — the CDC log then fully
    # determines every later version; written once (the _SUCCESS marker
    # gates against a partial write from a crashed earlier run)
    seed = os.path.join(snap_root, "seed")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.lit("U").alias("op"),
            F.lit(0).cast("int").alias("seq"),
        ).write.mode("overwrite").parquet(seed)

    from pyspark.sql import Window

    def latest_per_key(df):
        w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
        return df.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        ).drop("rn")

    def merge(batch_df, batch_id: int):
        prev = os.path.join(snap_root, f"v{batch_id - 1}")
        if not (batch_id > 0 and os.path.isdir(prev)):
            prev = seed
        merged = latest_per_key(
            batch_df.sparkSession.read.parquet(prev).unionByName(
                latest_per_key(batch_df)
            )
        )
        merged.write.mode("overwrite").parquet(os.path.join(snap_root, f"v{batch_id}"))

    run_foreach_batch(
        stream, merge, os.path.join(snap_root, "_ckpt"), "streaming_cdc_apply"
    )
    versions = sorted(
        int(d[1:]) for d in os.listdir(snap_root) if d.startswith("v") and d != "_ckpt"
    )
    final = spark.read.parquet(os.path.join(snap_root, f"v{versions[-1]}"))
    return final.filter(F.col("op") != "D").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
