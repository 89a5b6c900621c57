"""Sweep STREAM_STATE_TARGET_ROWS at synthetic sf1 (r16 verdict #7).

``stream_state_partitions`` sizes a stateful stream's state-store
count to one partition per ``STREAM_STATE_TARGET_ROWS`` source rows,
clamped to [4, defaultParallelism].  At sf1 (10x events) the r16
clamp analysis claims the count saturates at defaultParallelism — this
sweep verifies the 12.5k default is not UNDER-parallelizing mid-size
streams (too few partitions = one state store per core idle) and not
over-parallelizing (per-partition commit overhead), by timing two
representative stateful streams at several target-row settings.

The sweep sets the module constant ``streaming.STREAM_STATE_TARGET_ROWS``
for each setting and restores it afterwards; each setting's effective
partition count is recorded beside the wall seconds.  Results land in
docs/stream_state_sweep_sf1.json and the conclusion goes to SCALE.md.

Usage::

    python tools/stream_state_sweep.py    # sweep at the 10x fixture of $SPARK_GRAFT_SF_DIR
    SPARK_GRAFT_SWEEP_SF=/path/to/sf0.1 python tools/stream_state_sweep.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.probe import SRC, fixture  # noqa: E402

#: the swept directory; unset, the 10x events fixture of ``SRC``
SWEEP_SF = os.environ.get("SPARK_GRAFT_SWEEP_SF")

#: target-rows settings to sweep (default 12500 in the middle);
#: sf1 has ~1M event rows, so these map to ~[200, 80, 40, 20, 8, 4]
#: partitions before the [4, cores] clamp
TARGETS = [5_000, 12_500, 25_000, 50_000, 125_000, 250_000]

#: representative stateful streams: the two-stream interval join
#: (heaviest state machinery: two watermarked sides, range condition)
#: and the sessionization aggregate (session windows + watermark)
QUERIES = ["streaming_join_full_live", "streaming_stateful_sessions"]


def main() -> int:
    sweep_sf = SWEEP_SF or fixture(SRC, 10, ("events",))

    import mr_python_spark.streaming as streaming
    from mr_python_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("stream_state_sweep")
    qs = entrymod.queries()
    names = [n for n in QUERIES if n in qs]

    # one untimed warm pass (codegen, source listing, sink machinery)
    for n in names:
        qs[n](spark, sweep_sf).write.format("noop").mode("overwrite").save()

    default = streaming.STREAM_STATE_TARGET_ROWS
    out: dict = {
        "sf_dir": sweep_sf,
        "default_target_rows": default,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "queries": names,
        "sweep": [],
    }
    try:
        for target in TARGETS:
            streaming.STREAM_STATE_TARGET_ROWS = target
            parts = streaming.stream_state_partitions(spark, sweep_sf)
            row = {"target_rows": target, "state_partitions": parts}
            for n in names:
                best = float("inf")
                for _ in range(2):  # best-of-2: streams are long enough
                    t0 = time.perf_counter()
                    qs[n](spark, sweep_sf).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                row[n] = round(best, 3)
            out["sweep"].append(row)
            print(json.dumps(row))
    finally:
        streaming.STREAM_STATE_TARGET_ROWS = default
    out["recorded_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    path = os.path.join(REPO, "docs", "stream_state_sweep_sf1.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
