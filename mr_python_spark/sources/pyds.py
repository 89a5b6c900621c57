"""Spark 4 Python Data Source API: a custom batch source, end to end.

The reference's only "source" is whatever iterable the caller passes
(tinymr.py:156; docs demo ``open()`` on text files, docs.rst:343-347).
Spark 4 generalizes that idea properly: a pure-Python ``DataSource``
declares a schema, plans ``InputPartition``s, and yields rows per
partition on executors — the modern equivalent of handing the engine a
custom iterable, but distributed, schema'd, and optimizer-visible.

``CalendarDataSource`` generates one row per day of a date range, one
input partition per YEAR (so the scan parallelizes and the partition
planning path is actually exercised), entirely deterministically —
which is what makes it DuckDB-oracle-able (``generate_series``).

Scale notes: generator sources like this are how big pipelines
materialize dimension frames (calendars, buckets, key ranges) without
shipping files; each partition yields independently on its executor,
so the source scales with partition count like any scan.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from mr_python_spark.registry import register
from mr_python_spark.session import bind, load_table, with_conf


class _YearPartition(InputPartition):
    def __init__(self, year: int):
        self.year = year


class CalendarReader(DataSourceReader):
    def __init__(self, options):
        self.start = dt.date.fromisoformat(options.get("start", "1995-01-01"))
        self.end = dt.date.fromisoformat(options.get("end", "1996-12-31"))

    def partitions(self):
        return [
            _YearPartition(y) for y in range(self.start.year, self.end.year + 1)
        ]

    def read(self, partition: _YearPartition):
        d = max(self.start, dt.date(partition.year, 1, 1))
        stop = min(self.end, dt.date(partition.year, 12, 31))
        one = dt.timedelta(days=1)
        while d <= stop:
            # (day-iso, year, month, iso weekday 1=Mon..7=Sun)
            yield (d.isoformat(), d.year, d.month, d.isoweekday())
            d += one


class CalendarDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pycalendar"

    def schema(self) -> str:
        return "day string, year int, month int, isodow int"

    def reader(self, schema):
        return CalendarReader(self.options)


#: data-source registrations already performed, keyed by
#: (applicationId, source class name) — a process-global BOOLEAN would
#: survive a stopped SparkSession and skip re-registration on the next
#: session in the same Python process, making reads of the custom
#: format fail with data-source-not-found (same session identity
#: :func:`~mr_python_spark.session.corpus_cache` keys on).
_registered_sources: set = set()


def _ensure_source(spark: SparkSession, cls) -> None:
    key = (spark.sparkContext.applicationId, cls.__name__)
    if key not in _registered_sources:
        spark.dataSource.register(cls)
        _registered_sources.add(key)


def calendar_frame(spark: SparkSession, start: str, end: str) -> DataFrame:
    """The custom source as a DataFrame (registers it once per session)."""
    _ensure_source(spark, CalendarDataSource)
    return (
        spark.read.format("pycalendar").option("start", start).option("end", end).load()
    )


_PYDS_ORACLE = """
SELECT
  EXTRACT(year FROM d)::INT AS year,
  EXTRACT(month FROM d)::INT AS month,
  COUNT(*) AS n_days,
  CAST(SUM(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend
FROM generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY) t(d)
GROUP BY 1, 2
"""


@register("pyds_calendar_scan", _PYDS_ORACLE)
def pyds_calendar_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom Python Data Source: days + weekend days
    per (year, month).  The scan itself runs the DataSource API's full
    path — registration, schema, per-year partition planning, and
    executor-side row generation."""
    cal = calendar_frame(spark, "1995-01-01", "1996-12-31")
    return cal.groupBy("year", "month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("isodow") >= 6, 1).otherwise(0)).alias("n_weekend"),
    )


# --- streaming Python data source -------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402

#: fixed replay range: 3 micro-batches x 1000 ticks
TICKS_TOTAL = 3000
TICKS_PER_BATCH = 1000


class TickStreamReader(SimpleDataSourceStreamReader):
    """Deterministic replay stream: ticks 0..TICKS_TOTAL-1 in
    TICKS_PER_BATCH micro-batches.

    The simple-reader protocol is offset-dict based: ``read(start)``
    returns (rows, next_offset) and must simply return (no rows,
    same offset) once drained — which is what lets an
    ``availableNow`` run terminate.  ``readBetweenOffsets`` replays a
    committed range deterministically (the exactly-once contract on
    driver restart)."""

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = start["i"]
        if i >= TICKS_TOTAL:
            return iter([]), start
        end = min(i + TICKS_PER_BATCH, TICKS_TOTAL)
        return self._rows(i, end), {"i": end}

    def readBetweenOffsets(self, start, end):
        return self._rows(start["i"], end["i"])

    @staticmethod
    def _rows(i, end):
        # (tick, bucket, value) — value in exact quarter steps so
        # double sums are exact at any accumulation order.  A LIST
        # iterator, not a generator: the prefetching wrapper
        # (datasource_internal.PrefetchedCacheEntry) copy.copy()s the
        # iterator when planning partitions, and generators are not
        # copyable.
        return iter([(j, j % 10, j * 0.25) for j in range(i, end)])


class TickStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyticks"

    def schema(self) -> str:
        return "tick bigint, bucket int, value double"

    def simpleStreamReader(self, schema):
        return TickStreamReader()


def ticks_stream(spark: SparkSession) -> DataFrame:
    _ensure_source(spark, TickStreamDataSource)
    return spark.readStream.format("pyticks").load()


_PYDS_STREAM_ORACLE = f"""
SELECT
  CAST(i % 10 AS INTEGER) AS bucket,
  COUNT(*) AS n_ticks,
  SUM(i * 0.25) AS sum_value,
  CAST(MAX(i) AS BIGINT) AS last_tick
FROM generate_series(0, {TICKS_TOTAL - 1}) t(i)
GROUP BY 1
"""


@register("pyds_stream_ticks", _PYDS_STREAM_ORACLE)
def pyds_stream_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a custom PYTHON STREAMING data source (Spark 4
    ``SimpleDataSourceStreamReader``): per-bucket count / sum / max of
    a deterministic 3-micro-batch tick replay, run availableNow into a
    memory sink.

    Completes the Python Data Source surface (batch:
    :func:`pyds_calendar_scan`) on the streaming side: offset
    planning, per-batch row generation, drained-source termination,
    and offset-range replay are all exercised.  The replay is a pure
    function of the offset range, so the streaming result is gated by
    the same exact SQL oracle as a batch query — the strongest check a
    streaming source can get.  At scale this source shape is the
    driver-side generator for replaying numbered shards/ticks;
    per-partition parallelism comes from the downstream shuffle, and
    state is one tiny offset dict.
    """
    import uuid

    agg = (
        ticks_stream(spark)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("value").alias("sum_value"),
            F.max("tick").alias("last_tick"),
        )
    )
    # python streaming sources don't support Trigger.AvailableNow (the
    # JVM side logs a single-batch fallback that would stop after the
    # FIRST micro-batch); processAllAvailable() is the blocking drain
    # that actually steps all micro-batches until the offset stops
    # advancing — test-scoped by contract, like the other memory sinks
    sink = f"pyds_ticks_{uuid.uuid4().hex[:8]}"
    # state keys = |buckets|, a small constant by the source contract,
    # so 4 state partitions bound ALL state at any scale — each extra
    # partition is one more near-empty store paying a per-micro-batch
    # commit (this source steps MANY micro-batches); parallelism at
    # scale comes from the downstream shuffle, not the state store.
    # The count is set on a session clone the stream starts from (the
    # caller's conf is never written); the sink's temp view lives in
    # that clone, so its plan is bound back onto the caller's session.
    agg = with_conf(agg, {"spark.sql.shuffle.partitions": 4})
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return bind(agg.sparkSession.table(sink), spark)


# --- Python data source WRITER (custom sink + commit protocol) --------

from dataclasses import dataclass  # noqa: E402

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage  # noqa: E402


@dataclass
class _JsonlCommit(WriterCommitMessage):
    filename: str
    tmp_name: str
    n_rows: int


class JsonlWriter(DataSourceWriter):
    """Executor-side task writer with the standard commit protocol.

    Each task ATTEMPT writes its partition to a temporary file scoped
    by (partition id, task attempt id) — attempt-scoped names are what
    make speculative/retried attempts of the same partition unable to
    interleave writes, the same reason Hadoop committers use
    attempt-scoped paths.  ``commit()`` (driver, after ALL tasks
    succeed) renames exactly the WINNING attempts' files into place and
    writes the ``_SUCCESS`` manifest via write-temp-then-rename, so a
    manifest reader sees either nothing or the complete file list —
    never a truncated one.  ``abort()`` removes whatever temporaries
    exist; failed tasks report ``None`` commit messages (pyspark
    contract), so cleanup sweeps the directory rather than trusting
    the message list.
    """

    def __init__(self, options, overwrite: bool):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyjsonl sink requires option 'path'")
        self.overwrite = overwrite
        #: job token: generated once on the driver, shipped to every
        #: task by serialization — temp names carry it so commit/abort
        #: sweeps touch ONLY this job's temporaries, never a concurrent
        #: append job's in-flight files
        self.job_id = uuid.uuid4().hex[:12]

    def write(self, iterator):
        import json as _json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        name = f"part-{pid:05d}.jsonl"
        tmp_name = f"{name}.{self.job_id}.{ctx.taskAttemptId()}.inprogress"
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(os.path.join(self.path, tmp_name), "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
                n += 1
        return _JsonlCommit(filename=name, tmp_name=tmp_name, n_rows=n)

    def commit(self, messages) -> None:
        import glob
        import json as _json
        import os

        manifest = {}
        for m in messages:
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, m.filename),
            )
            manifest[m.filename] = m.n_rows
        # losing speculative attempts left no message; sweep THIS job's
        # temps only (the job token scopes the glob)
        for stray in glob.glob(
            os.path.join(self.path, f"*.{self.job_id}.*.inprogress")
        ):
            os.remove(stray)
        tmp_manifest = os.path.join(self.path, "_SUCCESS.inprogress.manifest")
        with open(tmp_manifest, "w") as f:
            _json.dump(manifest, f, sort_keys=True)
        os.replace(tmp_manifest, os.path.join(self.path, "_SUCCESS"))

    def abort(self, messages) -> None:
        import glob
        import os

        # failed tasks contribute None messages — don't dereference them;
        # the job-token-scoped temp names make this sweep safe next to a
        # concurrent append job
        for stray in glob.glob(
            os.path.join(self.path, f"*.{self.job_id}.*.inprogress")
        ):
            try:
                os.remove(stray)
            except FileNotFoundError:
                pass


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyjsonl"

    def writer(self, schema, overwrite: bool):
        return JsonlWriter(self.options, overwrite)


def _ensure_sink(spark: SparkSession) -> None:
    _ensure_source(spark, JsonlSinkDataSource)


_PYDS_SINK_ORACLE = """
SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey,
       length(n_name) AS name_len
FROM nation
"""


@register("pyds_sink_roundtrip", _PYDS_SINK_ORACLE)
def pyds_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through the custom PYTHON SINK (Spark 4 ``DataSourceWriter``),
    then read the committed files back — the write side of the Python
    Data Source API: per-task temp files, commit-message collection,
    driver-side rename + ``_SUCCESS`` manifest, abort cleanup.

    The read-back parses the manifest first and reads exactly the
    files it lists (never a stray or half-written file), validating
    the atomicity contract, then returns the round-tripped rows —
    gated by the direct SQL oracle over the source table.  Scale
    notes: this is the committer pattern every distributed sink uses —
    task parallelism on write, one tiny driver commit; manifest size
    grows with task count, not data.
    """
    import json as _json
    import os
    import tempfile
    import uuid

    _ensure_sink(spark)
    # unique directory per invocation: a shared fixed path would let a
    # concurrent run's cleanup delete this run's committed files out
    # from under the lazily-evaluated read-back frame.  Stale dirs from
    # PRIOR runs (>1 h old — no live frame still reads them) are swept
    # here so repeated sweeps/benches don't accumulate copies forever.
    import glob as _glob
    import shutil
    import time as _time

    cutoff = _time.time() - 3600
    for stale in _glob.glob(os.path.join(tempfile.gettempdir(), "pyds_sink_nation_*")):
        try:
            if os.path.getmtime(stale) < cutoff:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    out = os.path.join(tempfile.gettempdir(), f"pyds_sink_nation_{uuid.uuid4().hex[:8]}")
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        F.length("n_name").alias("name_len"),
    )
    src.write.format("pyjsonl").option("path", out).mode("append").save()
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest = _json.load(f)
    files = [os.path.join(out, name) for name in sorted(manifest)]
    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint, name_len int"
    ).json(files)
    return back


# --- streaming write side of the Python Data Source API ------------------

from pyspark.sql.datasource import DataSourceStreamWriter  # noqa: E402


class JsonlStreamWriter(DataSourceStreamWriter):
    """Streaming sink via Spark 4's ``DataSourceStreamWriter`` — the
    fourth quadrant of the Python Data Source matrix (batch read,
    stream read, batch write, and now stream write).

    The batch committer's attempt-scoped-temp + driver-rename protocol
    is reused PER MICRO-BATCH, with two streaming-specific twists:
    file names carry the batch id (``part-<batch>-<pid>.jsonl``), so a
    batch REPLAYED after a checkpoint restart overwrites exactly its
    own files — the sink is idempotent per batch id, which is what
    "effectively once" means for a file sink — and each commit writes
    a ``_SUCCESS_<batch>`` manifest listing only that batch's files,
    so a reader materializes the union of manifests and never sees a
    torn batch.
    """

    def __init__(self, options):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyjsonl_stream sink requires option 'path'")
        self.job_id = uuid.uuid4().hex[:12]

    def write(self, iterator):
        import json as _json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # the batch id is not exposed to write(); commit() renames into
        # batch-scoped names, so the temp name only needs attempt scope
        tmp_name = f"part-{pid:05d}.{self.job_id}.{ctx.taskAttemptId()}.inprogress"
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(os.path.join(self.path, tmp_name), "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
                n += 1
        return _JsonlCommit(filename=f"part-{pid:05d}", tmp_name=tmp_name, n_rows=n)

    def commit(self, messages, batchId: int) -> None:
        import glob
        import json as _json
        import os

        manifest = {}
        for m in messages:
            if m is None:
                continue  # failed/retried task: its attempt temp is swept below
            final = f"{m.filename}-b{batchId}.jsonl"
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, final),
            )
            manifest[final] = m.n_rows
        for stray in glob.glob(
            os.path.join(self.path, f"*.{self.job_id}.*.inprogress")
        ):
            os.remove(stray)
        tmp = os.path.join(self.path, f"_SUCCESS_{batchId}.inprogress")
        with open(tmp, "w") as f:
            _json.dump(manifest, f, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, f"_SUCCESS_{batchId}"))

    def abort(self, messages, batchId: int) -> None:
        import glob
        import os

        for stray in glob.glob(
            os.path.join(self.path, f"*.{self.job_id}.*.inprogress")
        ):
            try:
                os.remove(stray)
            except FileNotFoundError:
                pass


class JsonlStreamSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyjsonl_stream"

    def streamWriter(self, schema, overwrite: bool):
        return JsonlStreamWriter(self.options)


_PYDS_STREAM_SINK_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_fp
FROM events
GROUP BY event_type
"""


@register("pyds_stream_sink_roundtrip", _PYDS_STREAM_SINK_ORACLE)
def pyds_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events through the custom PYTHON STREAMING SINK and read
    the per-batch manifests back — Spark 4 ``DataSourceStreamWriter``
    end-to-end: per-task attempt-scoped temps, per-batch driver
    commit + ``_SUCCESS_<batch>`` manifest, batch-id-scoped file names
    (idempotent replay after checkpoint restart).

    The read-back unions exactly the files the committed manifests
    list, so a torn batch is unreadable by construction, then rolls
    the rows up per event type — gated by the direct SQL oracle over
    the source table.  Scale: write parallelism is the stream's
    partitioning; each commit is one tiny driver rename pass; manifest
    count grows with batch count, not data.
    """
    import glob as _glob
    import json as _json
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from mr_python_spark.streaming import staged_events_stream

    _ensure_source(spark, JsonlStreamSinkDataSource)

    cutoff = _time.time() - 3600
    for stale in _glob.glob(
        os.path.join(tempfile.gettempdir(), "pyds_stream_sink_*")
    ):
        try:
            if os.path.getmtime(stale) < cutoff:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    out = os.path.join(
        tempfile.gettempdir(), f"pyds_stream_sink_{uuid.uuid4().hex[:8]}"
    )
    ckpt = out + "_ckpt"

    stream = staged_events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_fp"),
    )
    q = (
        stream.writeStream.format("pyjsonl_stream")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("pyds stream sink did not finish in 180s")

    files: list[str] = []
    for man in sorted(_glob.glob(os.path.join(out, "_SUCCESS_*"))):
        with open(man) as f:
            files.extend(os.path.join(out, name) for name in _json.load(f))
    if not files:
        raise RuntimeError("stream sink committed no batches")
    rows = spark.read.json(files).select(
        "event_type", F.col("v_fp").cast("long").alias("v_fp")
    )
    return rows.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_fp").cast("long").alias("value_fp"),
    )
