"""The two workloads, their operations and their result checks.

An operation is one call into the engine's public entry points: a
registry query ``QUERIES[name](spark, dir)`` with its result fetched, or
one of :mod:`perfbench.mrjobs`'s ``MapReduce`` jobs called on the
corpus.  Every operation's result is checked against an expected value
computed once per seed, outside any timed span.
"""

from __future__ import annotations

import collections
import time
import traceback
from dataclasses import dataclass, field

from perfbench import datagen, mrjobs

#: Registry queries of the ``queries`` workload, in the fixed order they
#: run: relational reads, the write, then the text set.  Order matters
#: for the text set: ``dedup_cross_source_matrix`` materializes the
#: cached near-duplicate pairs, and Spark's CacheManager then answers the
#: later ``dedup_ngram_jaccard`` from that cache.  The traced run reports
#: which operations were cache reads.
RELATIONAL_READS = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "q8_market_share",
    "window_top3_per_customer",
]
RELATIONAL_WRITES = [
    "parquet_sink_roundtrip",
]
TEXT_QUERIES = [
    "dedup_cross_source_matrix",
    "dedup_ngram_jaccard",
    "ccnet_perplexity_buckets",
    "bpe_token_stats",
]

#: documents (and 40% as many embeddings) beside the sf0.1 star schema:
#: the duplicate-pair oracles are quadratic in DuckDB
TEXT_DOCS = 500

#: lines of the MapReduce corpus at the default scale (about 11k words).
#: Each call launches 5 Spark jobs, whose fixed cost dominates: a warm
#: call took about 2.6 s on 200 lines and 3.0-3.3 s on 8000 lines on a
#: 4-core box.
MR_LINES = 600


@dataclass
class OpResult:
    name: str
    layer: str
    kind: str
    phase: str
    wall_s: float
    ok: bool
    error: str | None = None
    # traced runs only
    spans: dict = field(default_factory=dict)


class QueryOp:
    """A registry query whose result is fetched into this process.

    The timed action is ``toPandas()``, not a ``noop`` write: the fetched
    frame is the one the check compares, so no query runs twice.  Every
    result here is small (aggregates, top-k, duplicate lists), so the
    fetch adds little beyond what a ``noop`` sink would execute.
    """

    def __init__(self, name: str, kind: str = "read"):
        from mr_python_spark import registry

        self.name, self.kind = name, kind
        self.fn = registry.QUERIES[name]
        self.layer = self.fn.__module__.removeprefix("mr_python_spark.")
        self.expected = None

    def expect(self, frame) -> None:
        from tools.check_correctness import normalize

        self.expected = frame
        self._expected_norm = normalize(frame)

    def run(self, spark, data_dir):
        t0 = time.perf_counter()
        pdf = self.fn(spark, data_dir).toPandas()
        return time.perf_counter() - t0, pdf

    def run_traced(self, spark, data_dir, probe):
        t0 = time.perf_counter()
        with probe.group(f"{self.name}.build") as build:
            df = self.fn(spark, data_dir)
        t1 = time.perf_counter()
        with probe.group(f"{self.name}.plan") as plan:
            plan_str = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        t2 = time.perf_counter()
        with probe.group(f"{self.name}.exec") as ex:
            pdf = df.toPandas()
        t3 = time.perf_counter()
        spans = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                 "build": build, "plan": plan, "exec": ex,
                 "cache_read": "InMemoryTableScan" in plan_str}
        return t3 - t0, pdf, spans

    def check(self, pdf) -> list[str]:
        """``tools/check_correctness.compare``'s rule, with the expected
        side normalized once instead of on every check."""
        from tools.check_correctness import compare, normalize

        if len(pdf) != len(self.expected) or sorted(pdf.columns) != sorted(self.expected.columns):
            return compare(self.name, pdf, self.expected)
        if normalize(pdf).equals(self._expected_norm):
            return []
        return compare(self.name, pdf, self.expected) or [f"{self.name}: values differ"]


class MrOp:
    """One ``MapReduce`` job called on the corpus through the Spark path."""

    layer = "core"
    kind = "mr"

    def __init__(self, name: str, job_cls, corpus: list[str], oracle_cls=None):
        self.name, self.job_cls, self.corpus = name, job_cls, corpus
        self.oracle_cls = oracle_cls or job_cls
        self.expected = None

    def run(self, spark, data_dir):
        t0 = time.perf_counter()
        out = self.job_cls()(self.corpus)
        return time.perf_counter() - t0, out

    def run_traced(self, spark, data_dir, probe):
        t0 = time.perf_counter()
        with probe.group(f"{self.name}.call") as call:
            out = self.job_cls()(self.corpus)
        wall = time.perf_counter() - t0
        return wall, out, {"call_s": wall, "call": call}

    def check(self, out) -> list[str]:
        if out != self.expected:
            return [f"{self.name}: result differs from the in-process run"]
        # the order of the returned dict is part of the contract
        if list(out) != list(self.expected):
            return [f"{self.name}: key order differs from the in-process run"]
        return []


def mr_expected(op: MrOp):
    """The same job through the caller-pooled in-process path, plus an
    independent ``Counter`` for word count."""
    expected = op.oracle_cls()(op.corpus, map=map)
    if op.oracle_cls is mrjobs.WordCount:
        counts = collections.Counter(w.lower() for line in op.corpus for w in line.split())
        if dict(counts) != expected:
            raise RuntimeError("pooled word count disagrees with collections.Counter")
    return expected


def oracle_frames(names: list[str], data_dir: str) -> dict:
    """Expected result of each query: its DuckDB oracle over the
    generated files, or the Python-UDF oracle where SQL needs one."""
    import duckdb

    from mr_python_spark import registry
    from tools.udf_oracles import register_udfs, udf_oracles

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    udf_sql = udf_oracles()
    out = {}
    for name in names:
        if name in registry.ORACLES:
            out[name] = con.sql(registry.ORACLES[name]).df()
        else:
            register_udfs(con)
            out[name] = con.sql(udf_sql[name]).df()
    con.close()
    return out


class Workload:
    """A fixed, ordered operation set over generated inputs: the registry
    queries ``queries``, each with its kind (``read`` or ``write``).

    ``refresh`` gives the inputs a fresh file identity, so the next pass
    misses every cache keyed on that identity.
    """

    name = ""
    default_sf = 0.1
    queries: list[tuple[str, str]] = []
    #: whether the inputs are files ``refresh`` can give a fresh identity
    refreshable = True

    def __init__(self, seed: int, data_dir: str, sf: float | None = None):
        self.seed, self.data_dir = seed, data_dir
        self.sf = self.default_sf if sf is None else sf
        self.ops: list = []

    def prepare(self) -> None:
        """Write the inputs and compute every expected result."""
        tables = datagen.make_tables(self.seed, self.sf, n_doc=TEXT_DOCS)
        datagen.write_tables(tables, self.data_dir)
        self.ops = [QueryOp(n, kind) for n, kind in self.queries]
        frames = oracle_frames([op.name for op in self.ops], self.data_dir)
        for op in self.ops:
            op.expect(frames[op.name])

    def refresh(self) -> None:
        datagen.refresh_identity(self.data_dir)


class MrParity(Workload):
    """The jobs get their input as a Python list and keep nothing between
    calls, so the only cold state is the session's: the first pass in a
    fresh session is the cold one."""

    name = "mr_parity"
    refreshable = False

    def prepare(self) -> None:
        # no table is read: the jobs get the corpus as a Python list
        lines = max(200, int(MR_LINES * self.sf / 0.1))
        corpus = datagen.zipf_corpus(self.seed, lines)
        self.ops = [MrOp(n, cls, corpus) for n, cls in mrjobs.JOBS.items()]
        for op in self.ops:
            op.expected = mr_expected(op)


class Queries(Workload):
    """Relational reads and a write at sf0.1, then the text set on
    ``TEXT_DOCS`` documents, all over one directory of generated files."""

    name = "queries"
    queries = ([(n, "read") for n in RELATIONAL_READS]
               + [(n, "write") for n in RELATIONAL_WRITES]
               + [(n, "read") for n in TEXT_QUERIES])


WORKLOADS = {w.name: w for w in (MrParity, Queries)}


def run_pass(workload: Workload, spark, phase: str, probe=None, on_op=None) -> list[OpResult]:
    """One pass over the workload's operations, in order.  Timing covers
    only the call; the result check runs after it."""
    results = []
    for op in workload.ops:
        spans, wall = {}, 0.0
        try:
            if probe is None:
                wall, out = op.run(spark, workload.data_dir)
            else:
                wall, out, spans = op.run_traced(spark, workload.data_dir, probe)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            problems = [f"{type(e).__name__}: {e}"]
        else:
            try:
                problems = op.check(out)
            except Exception as e:  # noqa: BLE001
                problems = [f"check raised {type(e).__name__}: {e}"]
        results.append(OpResult(op.name, op.layer, op.kind, phase, wall, not problems,
                                "; ".join(problems[:3]) or None, spans))
        if on_op is not None:
            on_op()
    return results
