"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a production deployment would set
cluster-wide: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for the Python boundary, shuffle
partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import atexit
import os
import threading

# Python workers must hash strings identically for groupByKey on string
# keys; set before any worker is forked so every interpreter agrees.
os.environ.setdefault("PYTHONHASHSEED", "0")

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "mr_python_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-minded defaults.

    On a real cluster the ``master`` and memory settings come from
    spark-submit; everything under ``spark.sql.*`` here is what we would
    ship in the cluster conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Python workers must be able to import this package even when it is
    # used from a source checkout rather than a pip install.  Local-mode
    # workers inherit the driver environment, so extend PYTHONPATH before
    # the JVM (and the worker daemon) starts.  On a real cluster the same
    # is achieved with --py-files; see ship_package().
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions by SIZE, not default
        # parallelism (the Spark docs' recommendation for busy
        # clusters): big stages keep their parallelism from the 64 MB
        # advisory size, while the small intermediate frames every
        # multi-stage query produces stop paying ``shuffle.partitions``
        # tasks of scheduling latency per stage
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # the coalescing target is a per-core work quantum, so it must
        # scale with per-executor data, not stay at the 64 MB cluster
        # default: at local bench scales 64 MB folds mid-size CPU-bound
        # stages (TPC-H joins, block-grid GEMMs) into one or two
        # partitions and serializes them (measured 3-4x at sf1), while
        # 4 MB keeps them parallel AND still collapses the byte-tiny
        # frames whose scheduling latency the parallelismFirst=false
        # setting exists to remove.  A 100 TB deployment ships the
        # 64-256 MB guidance (docs/SCALE.md) on the session it brings
        # to ``ensure_session`` — stage inputs there dwarf the advisory
        # so coalescing never binds.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the events table stores TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pyspark's worker calls importlib.invalidate_caches() before
        # every task (pyspark/worker_util.py:144), and on Python 3.11
        # each zipimporter re-parses its whole archive for it: 138-249 ms
        # a task on a 4-core box.  worker_daemon re-reads an archive
        # only when its file identity changes: 0.1-0.2 ms a task.
        .config("spark.python.daemon.module", "mr_python_spark.worker_daemon")
        # Python workers talk to the JVM over Unix domain sockets, not
        # loopback TCP.  On TCP a reused worker waits ~40 ms between a
        # task's command and its first data batch (nothing in Spark's
        # Python runner sets TCP_NODELAY: Nagle against delayed ACK):
        # 42-43 ms from a trivial task's first read to its return,
        # against 1.0-1.1 ms over a Unix socket, on a 4-core box.  The
        # daemon and the accumulator server bind ``<dir>/.<uuid>.sock``,
        # <dir> being ``spark.python.unix.domain.socket.dir`` or else
        # the driver JVM's java.io.tmpdir: the directory plus 43
        # characters must fit AF_UNIX's 107 bytes.
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    spark = builder.getOrCreate()
    _remove_socket_at_exit(spark.sparkContext)
    spark.sparkContext.setLogLevel("WARN")
    # The repo's only unpartitioned windows run over frames bounded by
    # construction (≤ VOCAB_SIZE / ≤ distinct-key rows) — asserted per
    # plan by tools/explain_audit.py's ``unpartitioned_windows`` specs.
    # WindowExec still logs its generic single-partition warning on
    # every such plan, burying real warnings in bench/check logs, so
    # that one logger is raised to ERROR; the audit, not the log line,
    # polices the property.
    try:
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 runtime: keep the (harmless) warning
    return spark


#: accumulator-server socket files already set to be removed at exit
_SOCKETS: set[str] = set()


def _remove_socket_at_exit(sc) -> None:
    """Remove the accumulator server's socket file when Python exits.

    Only ``SparkContext.stop()`` removes it, so a process that exits
    without stopping its session (a test run, a script) would leave one
    empty ``.<uuid>.sock`` file behind.  The daemon's socket needs
    nothing: the daemon removes it when it shuts down.
    """
    path = getattr(sc._accumulatorServer, "server_address", None)  # noqa: SLF001
    if isinstance(path, str) and path not in _SOCKETS:  # a TCP server's is a tuple
        _SOCKETS.add(path)
        atexit.register(_remove_quietly, path)


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:  # stop() removed it already
        pass


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors as a zip (for real clusters).

    Local mode relies on the PYTHONPATH propagation in :func:`get_spark`;
    on a multi-node cluster call this once after session creation (or
    pass the zip via ``spark-submit --py-files``).
    """
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # per-process build dir: a FIXED /tmp path raced when concurrent
    # processes (bench + sweep chunks) rebuilt it — the archive includes
    # __pycache__, whose .pyc contents differ per interpreter run, so
    # executors fetching mid-rewrite hit Spark's "exists and does not
    # match contents" error.  A unique dir per process removes the
    # shared file entirely; the basename stays canonical because
    # addPyFile keys the executor-side copy on it (per session).
    build_dir = tempfile.mkdtemp(prefix="mrps_pkg_")
    base = os.path.join(build_dir, "mr_python_spark_pkg")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "mr_python_spark")
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


#: application ids whose sessions have been prepared by ensure_session
_PREPARED: set[str] = set()


def ensure_session(spark: SparkSession) -> None:
    """Make a FOREIGN SparkSession able to run this engine's queries.

    The driver harness builds its own session, so nothing from
    :func:`get_spark` can be assumed.  Everything needed at runtime is
    applied here (idempotent, once per application): the
    nano-timestamp parquet setting (events.ts), UTC session time
    (oracle SQL assumes it), Arrow for the pandas surfaces, and the
    package zip so executor Python workers can unpickle functions
    defined in these modules.

    It cannot give the session :func:`get_spark`'s worker daemon
    (``spark.python.daemon.module``) or its Unix domain sockets
    (``spark.python.unix.domain.socket.enabled``): both are fixed when
    the SparkContext starts.  A foreign session's Python tasks keep
    pyspark's stock daemon, so they still re-read the zip archives on
    every task and collect an unfrozen heap after it (see
    :mod:`mr_python_spark.worker_daemon`), and they keep loopback TCP
    sockets with their ~40 ms wait per task (see :func:`get_spark`).

    The confs are set on the session itself, so the clones that
    :func:`with_conf` makes of it inherit them.
    """
    key = spark.sparkContext.applicationId
    if key in _PREPARED:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    ship_package(spark)
    _PREPARED.add(key)


def bind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark``: optimized,
    planned and run under ``spark``'s conf, whatever session built it."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(  # noqa: SLF001
        spark._jsparkSession, df._jdf.queryExecution().analyzed()  # noqa: SLF001
    )
    return DataFrame(jdf, spark)


#: guards the process-global ``RDD.toDF`` while a clone is wrapped
_WRAP_LOCK = threading.Lock()


def with_conf(df: DataFrame, conf: dict) -> DataFrame:
    """``df`` bound to a clone of its session that has ``conf`` set.

    A query that needs its own conf (a planner switch, a stream's
    state-partition count) returns this frame: it carries the conf to
    whatever action runs it — ``collect``, a write, a stream start —
    and the caller's session is never written, so queries planned on
    other threads keep seeing the caller's conf.

    The clone comes from ``cloneSession()``, not ``newSession()``: a
    new session starts from the SparkContext's conf and drops the
    runtime confs set on the caller, such as the ones
    :func:`ensure_session` sets on a foreign session.  A clone keeps
    them, and the caller's temp views too.  The plan is bound once it
    is built, never built on the clone: :func:`load_table` keys its
    scans per session, and a scan loaded on a clone would evict the
    caller's.

    Both ``cloneSession`` and ``classic.Dataset.ofRows`` are internal
    JVM API (Spark 4.x classic, not Spark Connect).
    """
    clone = df.sparkSession._jsparkSession.cloneSession()  # noqa: SLF001
    for k, v in conf.items():
        clone.sessionState().conf().setConfString(k, str(v))
    with _WRAP_LOCK:
        # constructing a SparkSession repoints RDD.toDF at it
        to_df = RDD.toDF
        session = SparkSession(df.sparkSession.sparkContext, clone)
        RDD.toDF = to_df
    return bind(df, session)


def _checkpoint_rdd(df: DataFrame):
    """The RDD that holds ``df``'s rows if ``df`` is a local checkpoint
    (a ``LogicalRDD`` leaf over a checkpointed RDD), else ``None``."""
    plan = df._jdf.queryExecution().logical()  # noqa: SLF001
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return plan.rdd()
    return None


def _pin(df: DataFrame) -> DataFrame:
    """``df`` stored as an eager local checkpoint.

    The checkpoint's leaf is a lineage-free ``LogicalRDD`` that no
    other plan contains, so Spark's CacheManager never substitutes a
    registry frame into a later plan: a consumer plans the same
    ``Scan ExistingRDD`` read whatever ran before it.  The leaf does
    not keep an adaptive plan's output partitioning, so a consumer
    that needs the rows clustered by a key re-shuffles them.  A frame
    that already is a checkpoint (the components loop pins its result
    before releasing its loop frames) is stored as it is."""
    return df if _checkpoint_rdd(df) is not None else df.localCheckpoint(eager=True)


def _evict_frame(df: DataFrame) -> None:
    """Release the blocks of a stored checkpoint.

    ``SparkContext.unpersistRDD`` rather than ``RDD.unpersist``: the
    latter logs a warning for every locally checkpointed RDD, and the
    bench evicts the registry before each query."""
    rdd = df._jdf.queryExecution().logical().rdd()  # noqa: SLF001
    rdd.context().unpersistRDD(rdd.id(), False)


#: (name, applicationId, table realpath, mtime_ns) → (value, keys of
#: the entries whose build looked this entry up); see corpus_cache
_CORPUS: dict[tuple[str, str, str, int], tuple[object, set]] = {}
#: keys of the corpus_cache builds in progress, innermost last
_BUILDING: list[tuple[str, str, str, int]] = []
#: re-entrant: builds nest, and the lock is held across them
_CORPUS_LOCK = threading.RLock()


def corpus_cache(name: str, spark: SparkSession, sf_dir: str, build, *,
                 table: str = "documents"):
    """THE cache for values derived from one corpus table.

    One entry per (``name``, application, table realpath, mtime_ns);
    ``build()`` runs on a miss.  Three rules hold by construction:

    * a lookup made inside another entry's build records that entry as
      built on this one, and :func:`evict` removes an entry together
      with everything built on it, transitively;
    * a lookup that sees a new mtime for a table (a regenerated
      dataset) evicts every entry built on the table's old identity,
      with its dependents;
    * one re-entrant lock guards the store and is held across builds,
      so concurrent callers of one name build it once.

    A ``DataFrame`` that a build returns is stored as an eager local
    checkpoint (:func:`_pin`), so builds end in no ``.cache()`` of
    their own, and eviction releases the checkpoint's blocks
    (:func:`_evict_frame`).  Any other value is stored and dropped as
    it is.
    """
    path = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    key = (name, spark.sparkContext.applicationId, path, os.stat(path).st_mtime_ns)
    with _CORPUS_LOCK:
        if key not in _CORPUS:
            _drop([k for k in _CORPUS if k[1:3] == key[1:3] and k[3] != key[3]])
            _BUILDING.append(key)
            try:
                value = build()
                if isinstance(value, DataFrame):
                    value = _pin(value)
                _CORPUS[key] = (value, set())
            finally:
                _BUILDING.pop()
        value, dependents = _CORPUS[key]
        if _BUILDING:
            dependents.add(_BUILDING[-1])
        return value


def evict(*names: str) -> None:
    """Evict every entry of the named caches (all sessions and file
    identities) and, transitively, every entry built on them."""
    with _CORPUS_LOCK:
        _drop([k for k in _CORPUS if k[0] in names])


def _drop(keys) -> None:
    for key in keys:
        if key in _CORPUS:
            value, dependents = _CORPUS.pop(key)
            if isinstance(value, DataFrame):
                _evict_frame(value)
            _drop(dependents)


#: (applicationId, id(session), table realpath, mtime_ns) → scan
#: DataFrame.  Building a parquet scan costs ~90 ms of driver time
#: (footer/schema read), paid by EVERY query build; DataFrames are
#: immutable, so the scan frame is reusable.  Keyed on the session
#: OBJECT too (not just applicationId): sibling sessions
#: (``newSession()``, ``cloneSession()``) share an applicationId but
#: resolve temp views / session confs separately, so a sibling must not
#: be served another session's frames.  Entries from other/stopped
#: sessions are evicted on insert, bounding the dict — which is why
#: :func:`with_conf` binds a finished plan to its clone instead of
#: loading scans there.
#:
#: PINNING INVARIANT (load-bearing for the ``id(session)`` key): every
#: cached DataFrame holds a strong reference to its SparkSession
#: (``df.sparkSession``), so while an entry exists its session object
#: cannot be garbage-collected and its ``id`` cannot be reused by a new
#: session.  If this cache ever stores weaker handles (plans, paths,
#: weakrefs), the key must switch to a per-session scoped dict or the
#: id-reuse race silently aliases frames across sessions.
_SCAN_CACHE: dict[tuple[str, int, str, int], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table (TESTDATA.md schema).

    ``events.ts`` is nano-precision parquet (read as long under
    ``nanosAsLong``); convert to a micro-precision timestamp the way
    DuckDB/Arrow do — truncation.
    """
    ensure_session(spark)
    path = os.path.realpath(os.path.join(sf_dir, f"{name}.parquet"))
    sess = (spark.sparkContext.applicationId, id(spark))
    key = (*sess, path, os.stat(path).st_mtime_ns)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    # list() copies the keys atomically, and pop tolerates a key that
    # a concurrent caller evicted first
    for stale in [
        k for k in list(_SCAN_CACHE) if k[:2] != sess or (k[2] == path and k != key)
    ]:
        _SCAN_CACHE.pop(stale, None)
    df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] parquet without a timezone loads as
            # TIMESTAMP_NTZ; the session timezone is pinned to UTC
            # (ensure_session), so casting to TIMESTAMP is
            # value-preserving and keeps withWatermark usable downstream.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _SCAN_CACHE[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str):
    """Load every driver table as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def spread(df, min_factor: int = 2, *, parts: int | None = None):
    """Repartition a narrow scan before CPU-heavy per-row work.

    Small single-row-group parquet files scan as ONE partition, which
    serializes everything downstream onto one core.  At real scale the
    scan already yields hundreds of partitions and this is a no-op
    (the check, not the shuffle, is what ships); locally it spreads
    the work across the cluster for the price of shuffling the input
    once.

    ``parts`` lets the caller supply the scan's partition count when it
    is already known (see :func:`scan_partitions`): the fallback
    ``df.rdd.getNumPartitions()`` probe converts the plan to an RDD on
    the driver — ~60 ms per call, paid on EVERY query build — while the
    decision it feeds depends only on the underlying scan, which narrow
    transformations preserve.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if parts is None:
        parts = df.rdd.getNumPartitions()
    if parts * min_factor <= parallelism:
        return df.repartition(parallelism)
    return df


def scan_partitions(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Partition count of a base-table scan, once per (session, file
    identity) — the :func:`spread` decision input.  Keyed like every
    other planning scalar: the count is a property of (file bytes,
    ``spark.sql.files.maxPartitionBytes``), not of any query, and a
    long-lived deployment derives it from table statistics rather than
    re-building an RDD per query call."""
    return corpus_cache(
        "session.scan_partitions",
        spark,
        sf_dir,
        lambda: load_table(spark, sf_dir, table).rdd.getNumPartitions(),
        table=table,
    )


def table_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Row count of a base table, once per (session, file identity).

    Adaptive-planning scalar (LSH band sizing, GEMM grid width): the
    cluster analogue is catalog statistics (ANALYZE / parquet row-group
    metadata), computed once per dataset — re-running the count job on
    every query build charged ~0.23 s of driver+job time per call at
    sf0.1.  Held by :func:`corpus_cache`, so a regenerated file can
    never serve a stale count."""
    return corpus_cache(
        "session.table_count",
        spark,
        sf_dir,
        lambda: load_table(spark, sf_dir, table).count(),
        table=table,
    )


def table_max(spark: SparkSession, sf_dir: str, table: str, column: str):
    """Column max of a base table, once per (session, file identity).

    Planning scalar for the CDC/MERGE family (insert-key offset): like
    :func:`table_count`, the cluster analogue is parquet column min/max
    statistics read from footers — not a full aggregate job per query
    build (~0.25 s of driver+job time per call at sf0.1).  Held by
    :func:`corpus_cache`."""
    return corpus_cache(
        f"session.table_max.{column}",
        spark,
        sf_dir,
        lambda: load_table(spark, sf_dir, table)
        .agg({column: "max"})
        .collect()[0][0],
        table=table,
    )
