"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, when an oracle exists, the
matching SQL on DuckDB over the same parquet tables; compares row
count, column names, and an order-insensitive value comparison (exact
for ints/strings/timestamps, exact-bits for doubles — our queries are
designed to be bit-deterministic cross-engine).

Queries whose oracles need Python UDFs (the xxhash64 pipelines) run
against tools/udf_oracles.py as a supplementary tier, recorded with
``"mode": "udf-oracle"``.

Usage::

    python tools/check_correctness.py              # all queries at sf0.01
    python tools/check_correctness.py q1 word_count
    python tools/check_correctness.py --json CHECK_FULL_r3.json   # write artifact
    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.001 python tools/check_correctness.py

The ``--json`` artifact uses the driver's CORRECTNESS_r*.json row
schema (rows_match/schema_match/hash_match/spark_rows/oracle_rows/err)
plus a ``mode`` field (oracle | udf-oracle | rows-only), so every
registered query — not just the driver's 50-entry window — has a
recorded verification row per round.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: one-shot flag so a broken plan-walk guard warns once, not per query
_GUARD_WARNED = False


def duck_connection():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows.

    Complex cells (list/ndarray/dict) are REJECTED, not stringified:
    the driver's harness sorts RAW values and crashes on unhashable
    numpy arrays (encode_tokens_to_ids, round 13) — a local gate that
    quietly canonicalizes them would pass queries the official grading
    cannot grade.  tests/test_plans.py guards the registry's output
    schemas; this guards whatever actually reaches a comparison.
    """
    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        # tuple covers pyspark.sql.Row (a tuple subclass): struct cells
        # arrive from toPandas as Row and must be rejected like
        # list/dict, not quietly stringified (r14 ADVICE)
        if isinstance(v, (list, tuple, np.ndarray, dict)):
            raise TypeError(
                "complex cell value reached the comparison — the driver's "
                "canonicalizer cannot sort/hash these; project the column "
                f"to a scalar (CSV-join or digest): {type(v).__name__}"
            )
        if v is None or v is pd.NaT:
            return "<NULL>"
        if isinstance(v, float):
            if np.isnan(v):
                return "<NULL>"
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.floating,)):
            return repr(float(v))
        return str(v)

    out = df.map(canon)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs oracle {len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns {s_cols} vs oracle {d_cols}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b).any(axis=1)
        idx = list(a.index[neq])[:3]
        for i in idx:
            problems.append(f"row diff @{i}: spark={a.loc[i].tolist()} oracle={b.loc[i].tolist()}")
    return problems


def main(argv: list[str]) -> int:
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    selected = argv

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from mr_python_spark.session import get_spark

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    from tools.udf_oracles import register_udfs, udf_oracles

    spark = get_spark("correctness-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    udf_sqls = udf_oracles()
    if selected:
        qs = {k: v for k, v in qs.items() if any(s in k for s in selected)}
    con = duck_connection()

    records: dict[str, dict] = {}
    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "mode": "oracle" if name in oracles else (
                "udf-oracle" if name in udf_sqls else "rows-only"
            ),
        }
        records[name] = rec
        try:
            sdf = fn(spark, SF_DIR)
            # registry-wide single-partition guard: an unpartitioned
            # WindowExec is allowed only when something below it bounds
            # the frame (LIMIT / grouped agg — see explain_audit's
            # unpartitioned_window_bounds); a corpus-scaling one fails
            # the sweep even if the values still match at this SF
            try:
                from explain_audit import unpartitioned_window_bounds

                unbounded = [
                    b for b in unpartitioned_window_bounds(sdf) if b == "UNBOUNDED"
                ]
            except Exception as guard_err:
                # the plan walk never blocks the value gate, but a
                # silent self-disable would turn default-deny into
                # default-allow with no evidence — say it once
                global _GUARD_WARNED
                if not _GUARD_WARNED:
                    _GUARD_WARNED = True
                    print(
                        "WARNING: single-partition window guard disabled "
                        f"({type(guard_err).__name__}: {guard_err}) — plan "
                        "checks skipped for this run"
                    )
                unbounded = []
            if unbounded:
                print(f"FAIL  {name}: {len(unbounded)} UNBOUNDED single-partition window(s)")
                rec["err"] = "unbounded single-partition window"
                n_fail += 1
                continue
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc(limit=4)
            rec["err"] = f"spark: {e}"
            n_fail += 1
            continue
        dt = time.time() - t0
        rec["spark_rows"] = len(spark_pdf)
        if rec["mode"] == "rows-only":
            print(f"rows  {name}: {len(spark_pdf)} rows ({dt:.1f}s) [rows-only]")
            n_rows_only += 1
            continue
        if rec["mode"] == "udf-oracle":
            # oracle needs Python UDFs the driver's connection can't host
            register_udfs(con)
        try:
            sql = oracles[name] if rec["mode"] == "oracle" else udf_sqls[name]
            duck_pdf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL raised: {e}")
            rec["err"] = f"oracle: {e}"
            n_fail += 1
            continue
        rec["oracle_rows"] = len(duck_pdf)
        problems = compare(name, spark_pdf, duck_pdf)
        rec["rows_match"] = len(spark_pdf) == len(duck_pdf)
        rec["schema_match"] = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        rec["hash_match"] = not problems
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems[:4]))
            rec["err"] = "; ".join(problems[:4])
            n_fail += 1
        else:
            tag = " [udf-oracle]" if rec["mode"] == "udf-oracle" else ""
            print(f"pass  {name}: {len(spark_pdf)} rows ({dt:.1f}s){tag}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_path:
        import json

        payload = {
            "sf_dir": SF_DIR,
            "n_pass": n_pass,
            "n_fail": n_fail,
            "n_rows_only": n_rows_only,
            "queries": records,
        }
        with open(json_path, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
