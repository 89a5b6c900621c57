"""Skewed-fixture gate + probe for the salting operators.

``agg_salted_skew`` / ``join_salted_skew`` were previously verified
only on the driver fixtures, whose l_returnflag distribution is
near-uniform — correct, but silent on whether salting actually helps
under skew.  This tool builds a **pathologically skewed** lineitem
under ``<repo>/.data`` (sf0.1 facts replicated 10×, l_returnflag
reassigned 90% / 9% / 1% by a deterministic row hash — the hot-key
shape of a zipfian key at 3-key cardinality), then

1. **gates** both salted queries against their DuckDB oracles ON the
   skewed fixture (full hash compare, same harness as
   check_correctness), and
2. **probes** salted vs unsalted physical plans: the unsalted shuffle
   join is timed twice — with AQE skew-join splitting disabled (the
   pre-3.2 / RDD scenario the salting docstrings cite) and enabled
   (the modern default) — so the recorded ratios show both what
   salting buys and what AQE already recovers.  The aggregate pair is
   probed too; for ALGEBRAIC aggregates map-side partial aggregation
   already bounds skew, so ~parity there is the honest expected
   result (the salted-agg entry exists for the mechanics and for
   large-state aggregates), and the JSON records whatever is measured.

Writes ``docs/skew_probe.json``.  Usage::

    python tools/skew_probe.py   # generate (once per source and recipe) + gate + probe
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.probe import derived  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPLICAS = 10
N_SALT = 16
#: the skewed lineitem: the facts replicated REPLICAS times, with a
#: 90/9/1 hot-key reassignment on a deterministic row hash — the
#: worst-case grouped/join key at cardinality 3 (a zipfian head
#: compressed to three ranks)
LINEITEM = f"""
SELECT l_orderkey + i * {{offset}} AS l_orderkey,
       l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax,
       CASE WHEN hash(l_orderkey + i * {{offset}}, l_linenumber) % 100 < 90
            THEN 'N'
            WHEN hash(l_orderkey + i * {{offset}}, l_linenumber) % 100 < 99
            THEN 'A'
            ELSE 'R' END AS l_returnflag,
       l_linestatus, l_shipdate
FROM '{SRC}/lineitem.parquet' CROSS JOIN range({REPLICAS}) t(i)
"""
#: the skewed fixture, keyed by its source and the lineitem recipe
DST = derived(SRC, LINEITEM)


def generate(dst: str) -> None:
    import duckdb

    con = duckdb.connect()
    offset = con.sql(
        f"SELECT MAX(o_orderkey) + 1 FROM '{SRC}/orders.parquet'"
    ).fetchone()[0]
    con.sql(
        f"COPY ({LINEITEM.format(offset=offset)}) "
        f"TO '{dst}/lineitem.parquet' (FORMAT parquet)"
    )
    # the harness mounts all ten tables; copy the rest unchanged
    for tbl in (
        "region nation customer supplier part orders events documents embeddings"
    ).split():
        con.sql(
            f"COPY (SELECT * FROM '{SRC}/{tbl}.parquet') "
            f"TO '{dst}/{tbl}.parquet' (FORMAT parquet)"
        )


def gate() -> dict:
    """Hash-gate the two salted queries vs their oracles ON the skewed
    fixture, via the check_correctness harness."""
    import subprocess

    gate_path = os.path.join(DST, "gate.json")
    if os.path.exists(gate_path):
        os.remove(gate_path)  # never read a stale gate from a prior run
    env = dict(os.environ, SPARK_GRAFT_CHECK_SF=DST)
    out = subprocess.run(
        [sys.executable, "tools/check_correctness.py", "--json", gate_path,
         "agg_salted_skew", "join_salted_skew"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=1800,
    )
    # returncode first: a harness crash must surface its output, not a
    # FileNotFoundError from the missing gate.json
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    with open(gate_path) as f:
        rows = json.load(f)["queries"]
    return {k: v.get("hash_match") for k, v in rows.items()}


def probe() -> dict:
    from pyspark.sql import functions as F

    from mr_python_spark.operators.aggregates import agg_salted_skew, fixed_point
    from mr_python_spark.operators.joins import join_salted_skew
    from mr_python_spark.session import get_spark, load_table, with_conf

    spark = get_spark()

    def unsalted_join():
        li = load_table(spark, DST, "lineitem")
        weights = spark.createDataFrame(
            [("A", 2), ("N", 1), ("R", 3)], ["l_returnflag", "weight"]
        )
        return (
            li.select(
                "l_returnflag",
                F.round(F.col("l_quantity") * 100, 0).cast("long").alias("qty_fp"),
            )
            .join(weights.hint("shuffle_hash"), ["l_returnflag"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("qty_fp") * F.col("weight")).alias("weighted_qty_fp"),
            )
        )

    def unsalted_agg():
        li = load_table(spark, DST, "lineitem")
        return (
            li.select("l_returnflag", fixed_point(F.col("l_quantity"), 2).alias("qfp"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                (F.sum("qfp").cast("double") / 100.0).alias("sum_qty"),
            )
        )

    def best_of(fn, n=3, **conf):
        times = []
        for _ in range(n):
            t0 = time.time()
            with_conf(fn(), conf).collect()
            times.append(time.time() - t0)
        return round(min(times), 3)

    skew_off = {
        "spark.sql.adaptive.skewJoin.enabled": "false",
        # without this AQE re-coalesces the post-shuffle partitions and
        # the hot one still lands whole on one task either way; leave
        # coalescing on — it IS the modern default — but pin the skew
        # splitter specifically, which is the feature under test
    }
    results = {
        "join_salted": best_of(lambda: join_salted_skew(spark, DST)),
        "join_unsalted_no_aqe_skew": best_of(unsalted_join, **skew_off),
        "join_unsalted_aqe_skew": best_of(unsalted_join),
        "agg_salted": best_of(lambda: agg_salted_skew(spark, DST)),
        "agg_unsalted": best_of(unsalted_agg),
    }
    results["join_speedup_vs_no_aqe"] = round(
        results["join_unsalted_no_aqe_skew"] / results["join_salted"], 2
    )
    results["agg_ratio_salted_over_plain"] = round(
        results["agg_salted"] / results["agg_unsalted"], 2
    )
    # equality of salted and unsalted plans on the skewed data (the
    # oracle gate already pins salted == SQL; this pins salted ==
    # unsalted-Spark bit-for-bit)
    s = {tuple(r) for r in join_salted_skew(spark, DST).collect()}
    u = {tuple(r) for r in unsalted_join().collect()}
    assert s == u, "salted and unsalted join results diverge"
    return results


def main() -> None:
    import duckdb

    derived(SRC, LINEITEM, generate)
    stats = duckdb.sql(
        f"""
        SELECT l_returnflag, COUNT(*) AS n
        FROM '{DST}/lineitem.parquet' GROUP BY 1 ORDER BY n DESC
        """
    ).fetchall()
    total = sum(n for _, n in stats)
    print("gating on skewed fixture ...", flush=True)
    gates = gate()
    print("gate:", gates, flush=True)
    print("probing ...", flush=True)
    times = probe()
    report = {
        "fixture_rows": total,
        "flag_shares": {f: round(n / total, 4) for f, n in stats},
        "gate_hash_match": gates,
        "timings_sec_best_of_3": times,
    }
    out = os.path.join(REPO, "docs", "skew_probe.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
