#!/usr/bin/env python
"""Epoch-guarded ad-hoc query timer: times the named registry queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], min over
$SPARK_GRAFT_BENCH_REPS repeats, waiting through degraded host epochs with
bench.py's whole-stage-codegen control before every repeat (the control
samples are printed so the record carries its own epoch evidence).

Usage: python scripts/time_queries.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _wait_good_epoch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))


def main() -> None:
    names = sys.argv[1:]
    from terrakit_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    import terrakit_spark.operators  # noqa: F401

    from terrakit_spark.registry import QUERIES

    guard: dict = {}
    best: dict[str, float] = {}
    rows: dict[str, int] = {}
    for rep in range(REPS):
        for q in names:
            # guard every query: an epoch that degrades mid-rep must not
            # pollute the queries after it
            _wait_good_epoch(spark, CPUS, guard)
            t0 = time.time()
            rows[q] = QUERIES[q](spark, SF_DIR).count()
            dt = time.time() - t0
            best[q] = min(best.get(q, 1e18), dt)
            print(f"rep{rep} {q}: {dt:.2f}s rows={rows[q]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "cpus": CPUS,
                "queries": {q: round(t, 3) for q, t in best.items()},
                "rows": rows,
                "epoch_control": guard,
            }
        )
    )


if __name__ == "__main__":
    main()
