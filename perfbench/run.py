#!/usr/bin/env python3
"""Benchmark for mr_python_spark: one command, two workloads.

    python3 perfbench/run.py --workload queries --seed 42 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` under ``perfbench/_work``,
starts a ``local[N]`` session (N = cores available), warms it up with one
pass over the workload's operations, then runs a cold pass (inputs given
a fresh file identity) and warm re-runs for ``--seconds``, from a single
closed-loop client.  Every result is
checked.  The last line of standard output is one JSON object; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of one more, traced, cold and warm pass.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "warm_s": "s",
}
#: printed in the summary only: 0 or absent on some workload, derived
#: (wall_s = cold_s + warm_s; failed_frac is the JSON line's
#: failed/attempted), or spread wider than the 0.25 bound between runs
#: on a 4-core box (cold_s, one pass a run; op_p50_s; peak_rss_mb)
REPORTED_ONLY = {"cold_s": "s", "op_p50_s": "s", "wall_s": "s", "op_p90_s": "s",
                 "write_p50_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
                 "cache_mb": "MB"}
#: warm passes every run makes, however short --seconds is: warm_s is a
#: median over passes, which a burst of load on the host moves less
MIN_WARM_PASSES = 2

CORE_FIELDS = ("jobs", "stages", "tasks", "shuffle_write_mb", "executor_cpu_s", "gc_s")
EXEC_FIELDS = ("tasks", "skipped_stages", "shuffle_write_mb", "spill_mb", "gc_s",
               "executor_cpu_s", "ungrouped_jobs")
#: modules whose executor CPU time is reported on its own: the cold path
#: of the text workload is CPU-bound there
CPU_MODULES = ("dedup", "functions.bpe")
#: build + plan + exec of a traced operation should match its untraced
#: wall within this share (the traced run reports how many did not)
LAYER_TOLERANCE = 0.25


def units_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def per_layer_names(modules) -> list[str]:
    names = [f"core.{f}" for f in ("call_s", *CORE_FIELDS)]
    for m in modules:
        names += [f"{m}.{f}" for f in ("build_s", "build_jobs", "plan_s", "exec_s", "stages")]
    names += [f"exec.{f}" for f in EXEC_FIELDS]
    names += [f"{m}.executor_cpu_s" for m in CPU_MODULES]
    names += ["cache.read_ops", "cache_mb", "mem.peak_rss_mb", "session.get_spark_s",
              "setup.warmup_s", "trace.overhead_frac", "trace.layer_gap_frac", "trace.ops_outside_tol"]
    return names


def layer_modules() -> list[str]:
    """Capability modules the workloads' queries live in."""
    from mr_python_spark import registry

    from perfbench import workloads as wl

    registry.load_all_modules()
    return sorted({registry.QUERIES[n].__module__.removeprefix("mr_python_spark.")
                   for w in wl.WORKLOADS.values() for n, _ in w.queries})


def latency_summary(samples: list[float]) -> dict:
    """Median, and p90 only when at least ten samples lie beyond it.  No
    samples (every operation failed) reads 0; ``failed`` reports why."""
    out = {"op_p50_s": statistics.median(samples) if samples else 0.0, "n": len(samples)}
    if len(samples) >= 2:
        p90 = statistics.quantiles(samples, n=10)[-1]
        if sum(s > p90 for s in samples) >= 10:
            out["op_p90_s"] = p90
    return out


def _configure_env(cpus: int) -> None:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
            "pyspark-shell"
        ),
    )


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _pass_sum(results) -> float:
    return sum(r.wall_s for r in results if r.ok)


def measure(args) -> dict:
    """Set up, run the timed window and, when tracing, one traced cycle."""
    from mr_python_spark import registry
    from mr_python_spark.session import get_spark

    from perfbench import probe as pb
    from perfbench import workloads as wl

    registry.load_all_modules()
    data_dir = os.path.join(WORK, "data")
    workload = wl.WORKLOADS[args.workload](args.seed, data_dir, args.sf)
    t = time.perf_counter()
    workload.prepare()  # inputs and expected results: not part of setup_s
    log(f"prepare (inputs + expected results) {time.perf_counter() - t:.1f} s")

    rss = pb.RssWatch()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    log(f"setup: get_spark {get_spark_s:.1f} s")

    def timed_pass(phase, probe=None):
        results = wl.run_pass(workload, spark, phase, probe, rss.sample)
        log(f"{phase} pass{' (traced)' if probe else ''}: {_pass_sum(results):.2f} s ("
            + ", ".join(f"{r.name} {r.wall_s:.2f}" for r in results) + ")")
        return results

    # warm-up: the first calls of every operation in the fresh session
    # pay class loading, code generation and JIT compilation; one whole
    # pass, not a time, so every run measures from the same point
    warmup = timed_pass("warmup")

    # cold: every operation once on inputs given a fresh file identity;
    # the MapReduce jobs keep nothing between calls, so their cold pass
    # is the session's first, the warm-up
    if workload.refreshable:
        workload.refresh()
        cold = [timed_pass("cold")]
    else:
        cold = [warmup]
    # warm: re-runs for --seconds, as many whole passes as fit judged by
    # the last one's length, and at least MIN_WARM_PASSES
    warm: list = []
    start = time.perf_counter()
    while True:
        began = time.perf_counter()
        warm.append(timed_pass("warm"))
        now = time.perf_counter()
        if len(warm) >= MIN_WARM_PASSES and now - start + (now - began) > args.seconds:
            break
    traced = []
    if args.trace:
        probe = pb.SparkProbe(spark)
        if workload.refreshable:
            workload.refresh()
            traced = timed_pass("cold", probe)
        traced += timed_pass("warm", probe)

    passes = [warmup] + (cold if workload.refreshable else []) + warm
    everything = [r for p in passes for r in p] + traced
    record = {
        "attempted": len(everything),
        "failed": sum(not r.ok for r in everything),
        "get_spark_s": get_spark_s,
        "warmup_s": _pass_sum(warmup),
        "peak_rss_mb": rss.peak_mb(),
        "cache_mb": pb.cache_mb(spark),
        "cold": cold,
        "warm": warm,
        "traced": traced,
        "failures": [(r.name, r.phase, r.error) for r in everything if not r.ok],
        "order": [op.name for op in workload.ops],
        "sf": workload.sf,
    }
    _stop(spark)
    return record


def _stop(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for them."""
    from perfbench.probe import process_tree

    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def _median_pass(passes) -> float:
    """The sum over operations of each one's median wall time across the
    passes: a pass as it typically ran, with each operation's slow
    outliers left out."""
    walls: dict = {}
    for p in passes:
        for r in p:
            if r.ok:
                walls.setdefault(r.name, []).append(r.wall_s)
    return sum(statistics.median(w) for w in walls.values())


def end_to_end(rec) -> dict:
    cold = _median_pass(rec["cold"])
    warm = _median_pass(rec["warm"])
    warm_ops = [r.wall_s for p in rec["warm"] for r in p if r.ok]
    writes = [r.wall_s for p in rec["cold"] + rec["warm"] for r in p
              if r.ok and r.kind == "write"]
    lat = latency_summary(warm_ops)
    m = {
        "setup_s": rec["get_spark_s"] + rec["warmup_s"],
        "cold_s": cold,
        "warm_s": warm,
        "op_p50_s": lat["op_p50_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "wall_s": cold + warm,
        "failed_frac": rec["failed"] / rec["attempted"],
        "cache_mb": rec["cache_mb"],
    }
    if "op_p90_s" in lat:
        m["op_p90_s"] = lat["op_p90_s"]
    if writes:
        m["write_p50_s"] = statistics.median(writes)
    m["_samples"] = {"cold_passes": len(rec["cold"]), "warm_passes": len(rec["warm"]),
                     "warm_ops": lat["n"], "write_ops": len(writes)}
    return m


def per_layer(rec, modules) -> tuple[dict, list]:
    """Per-layer numbers of the traced cycle (a cold pass after the inputs
    got a fresh identity, where they can, and a warm pass), plus the
    per-op table."""
    m = dict.fromkeys(per_layer_names(modules), 0.0)
    untraced_warm: dict = {}
    for p in rec["warm"]:
        for r in p:
            if r.ok:
                untraced_warm.setdefault(r.name, []).append(r.wall_s)
    rows, gaps = [], []
    for r in rec["traced"]:
        if not r.ok:
            continue
        s = r.spans
        if r.layer == "core":
            m["core.call_s"] += s["call_s"]
            for f in CORE_FIELDS:
                m[f"core.{f}"] += s["call"][f]
            span_sum = s["call_s"]
        else:
            L = r.layer
            m[f"{L}.build_s"] += s["build_s"]
            m[f"{L}.build_jobs"] += s["build"]["jobs"]
            m[f"{L}.plan_s"] += s["plan_s"]
            m[f"{L}.exec_s"] += s["exec_s"]
            m[f"{L}.stages"] += s["exec"]["stages"]
            for part in ("build", "plan", "exec"):
                for f in EXEC_FIELDS:
                    m[f"exec.{f}"] += s[part][f]
                if L in CPU_MODULES:
                    m[f"{L}.executor_cpu_s"] += s[part]["executor_cpu_s"]
            m["cache.read_ops"] += s["cache_read"]
            span_sum = s["build_s"] + s["plan_s"] + s["exec_s"]
        # the untraced cold pass ran in a fresh session, so only warm
        # operations have an untraced counterpart in the same state
        ref = untraced_warm.get(r.name) if r.phase == "warm" else None
        if ref:
            gaps.append(abs(span_sum - statistics.median(ref)) / statistics.median(ref))
        rows.append(r)
    m["cache_mb"] = rec["cache_mb"]
    m["mem.peak_rss_mb"] = rec["peak_rss_mb"]
    m["session.get_spark_s"] = rec["get_spark_s"]
    m["setup.warmup_s"] = rec["warmup_s"]
    traced_warm = _pass_sum(r for r in rec["traced"] if r.phase == "warm")
    plain_warm = _median_pass(rec["warm"])
    m["trace.overhead_frac"] = traced_warm / plain_warm - 1 if plain_warm else 0.0
    m["trace.layer_gap_frac"] = statistics.median(gaps) if gaps else 0.0
    m["trace.ops_outside_tol"] = sum(g > LAYER_TOLERANCE for g in gaps)
    return m, rows


def _trace_lines(rows) -> list[str]:
    lines = [f"{'op':32} {'phase':5} {'layer':22} {'build_s':>8} {'jobs':>4} "
             f"{'plan_s':>7} {'exec_s':>7} {'stages':>6} cache_read"]
    cache_reads: dict = {"cold": [], "warm": []}
    for r in rows:
        s = r.spans
        if r.layer == "core":
            lines.append(f"{r.name:32} {r.phase:5} {'core':22} {'':8} {s['call']['jobs']:4d} "
                         f"{'':7} {s['call_s']:7.3f} {s['call']['stages']:6d}")
            continue
        lines.append(
            f"{r.name:32} {r.phase:5} {r.layer:22} {s['build_s']:8.3f} {s['build']['jobs']:4d} "
            f"{s['plan_s']:7.3f} {s['exec_s']:7.3f} {s['exec']['stages']:6d} {s['cache_read']}"
        )
        if s["cache_read"] and s["build"]["jobs"] == 0:
            cache_reads[r.phase].append(r.name)
    for phase, names in cache_reads.items():
        lines.append(f"{phase} ops whose timing is a cache read (no build job, "
                     f"InMemoryTableScan in the plan): {', '.join(names) or 'none'}")
    return lines


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["mr_parity", "queries"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated inputs (default: the workload's own)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mr_python_spark", "core.py")):
        print("perfbench: mr_python_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    _configure_env(cpus)

    # Spark, its JVM and the Python workers write to fd 1 too; route all
    # of it to stderr so standard output carries only this report.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    rec = measure(args)
    lines = [f"perfbench workload={args.workload} seed={args.seed} sf={rec['sf']} "
             f"local[{cpus}] trace={args.trace}",
             "query order: " + ", ".join(rec["order"])]
    lines += [f"FAILED {n} ({phase}): {err}" for n, phase, err in rec["failures"]]
    e2e = end_to_end(rec)
    lines.append(f"samples: {e2e.pop('_samples')}")
    for k, v in e2e.items():
        lines.append(f"{k:14} {v:12.4f} {(END_TO_END | REPORTED_ONLY)[k]}")
    lines.append(f"setup_s = get_spark {rec['get_spark_s']:.2f} s + warm-up pass "
                 f"{rec['warmup_s']:.2f} s; cold_s / warm_s = {e2e['cold_s'] / e2e['warm_s']:.2f}")
    if args.trace:
        modules = layer_modules()
        metrics, rows = per_layer(rec, modules)
        lines += _trace_lines(rows)
        lines.append(f"tracing overhead vs untraced warm_s: {metrics['trace.overhead_frac']:+.3f}; "
                     f"ops whose build+plan+exec differs from the untraced wall by more than "
                     f"{LAYER_TOLERANCE:.0%}: {metrics['trace.ops_outside_tol']}")
        chosen = {k: (v, units_of(k)) for k, v in metrics.items()}
    else:
        chosen = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    result = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    out.write("\n".join(lines) + "\n" + json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
