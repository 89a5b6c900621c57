"""Exercise the dedup verify-broadcast gate PAST its threshold.

``gated_verify_frame`` (mr_python_spark/dedup/__init__.py) broadcasts
the semi-join-pruned doc→shingles frame only while it is measured
under ``VERIFY_BROADCAST_MAX_DOCS`` (200k docs); past the gate the
frame is returned un-hinted and AQE picks the join.  Round 9 proved
the two paths bit-identical with the gate FORCED off, but never ran a
corpus that actually trips it — this probe does:

* fixture: ``BCAST_REPLICAS`` vocabulary-disjoint replicas of the
  sf0.1 documents table (``tools.probe.fixture``) → 225k docs, past
  the 200k gate, ~45× the sf0.1 shingle work.
* trip check: the gate's own counter must report > 200k docs and the
  executed plans must contain NO broadcast on the verification join
  input (the fixed-size postings/model broadcasts of other operators
  are not in these two queries' plans).
* correctness AT TRIPPED SCALE, exact and engine-independent: replica
  vocabularies are disjoint and each replica's shingle-df histogram
  equals the original's, so the result set must be EXACTLY the sf0.1
  result replicated with doc_id offsets (+ i·1_000_000).  A missed or
  phantom pair under the AQE path breaks set equality.

Usage::

    python tools/broadcast_gate_probe.py

Writes ``docs/broadcast_gate_probe.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.probe import SRC, fixture  # noqa: E402

#: 45 replicas x 5000 sf0.1 docs = 225k docs > VERIFY_BROADCAST_MAX_DOCS
BCAST_REPLICAS = 45
OFFSET = 1_000_000  # the fixture's per-replica doc_id offset

QUERIES = ("dedup_ngram_jaccard", "dedup_containment")


def main() -> None:
    from mr_python_spark.dedup import VERIFY_BROADCAST_MAX_DOCS, verify_frame_docs
    from mr_python_spark.session import get_spark

    import __spark_entry__ as entrymod

    dst = fixture(SRC, BCAST_REPLICAS, ("documents",))
    spark = get_spark("broadcast_gate_probe")
    qs = entrymod.queries()
    result: dict = {
        "replicas": BCAST_REPLICAS,
        "gate_max_docs": VERIFY_BROADCAST_MAX_DOCS,
    }

    # baseline pair sets at sf0.1 (the hinted, under-gate path)
    base: dict[str, set] = {}
    for name in QUERIES:
        df = qs[name](spark, SRC)
        a, b = df.columns[0], df.columns[1]
        base[name] = {(r[0], r[1]) for r in df.select(a, b).collect()}
        result[f"{name}_sf01_pairs"] = len(base[name])

    # tripped-scale runs: wall, plan, gate counter, exact set equality
    for name in QUERIES:
        df = qs[name](spark, dst)
        t0 = time.perf_counter()
        rows = df.collect()
        wall = time.perf_counter() - t0
        a, b = df.columns[0], df.columns[1]
        got = {(r[0], r[1]) for r in rows}
        expected = {
            (x + i * OFFSET, y + i * OFFSET)
            for i in range(BCAST_REPLICAS)
            for (x, y) in base[name]
        }
        plan = df._jdf.queryExecution().executedPlan().toString()
        result[name] = {
            "wall_sec": round(wall, 2),
            "rows": len(got),
            "expected_rows": len(expected),
            "exact_match_vs_replicated_sf01": got == expected,
            "plan_broadcast_nodes": plan.count("BroadcastHashJoin"),
            "plan_shuffled_joins": plan.count("ShuffledHashJoin")
            + plan.count("SortMergeJoin"),
        }

    # differential plan evidence, at the level where it is decisive:
    # the gate's hint survives optimization as a join-strategy hint
    # (strategy=broadcast), so the tripped optimized plan must carry
    # none while a forced re-plan carries it on the verify frame.
    # (Physical BroadcastHashJoin counts are NOT comparable across the
    # two — the tripped numbers are post-AQE executed plans where AQE
    # rightly broadcasts measured-small narrow frames like the ~3.6 MB
    # per-doc size tables, while executing the forced variant would be
    # the very corpus-scaling broadcast the gate exists to avoid.)
    import mr_python_spark.dedup as dedup_mod

    for name in QUERIES:
        df = qs[name](spark, dst)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        result[name]["tripped_logical_broadcast_hints"] = logical.count(
            "strategy=broadcast"
        )
    saved = dedup_mod.VERIFY_BROADCAST_MAX_DOCS
    try:
        dedup_mod.VERIFY_BROADCAST_MAX_DOCS = 10**9
        for name in QUERIES:
            df = qs[name](spark, dst)
            logical = df._jdf.queryExecution().optimizedPlan().toString()
            result[name]["forced_logical_broadcast_hints"] = logical.count(
                "strategy=broadcast"
            )
    finally:
        dedup_mod.VERIFY_BROADCAST_MAX_DOCS = saved

    # the gate's own measurement for this fixture
    result["sh_small_counts"] = {
        os.path.basename(d): verify_frame_docs(spark, d) for d in (SRC, dst)
    }
    big = result["sh_small_counts"][os.path.basename(dst)]
    result["gate_tripped"] = big > VERIFY_BROADCAST_MAX_DOCS

    print(json.dumps(result, indent=2))
    out = os.path.join(REPO, "docs", "broadcast_gate_probe.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=2)
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
