"""Supplementary scaling study on the HOTSPOT-ONLY scene subset.

Every synthetic scene id is a multiple of 5, and the hotspot scenes
(scene_id % 10 < 3, the dense region overlapping ~30% of all labels) are
exactly the even ids — so the %2 predicate selects the 10,000 hotspot
scenes and nothing else. This is the maximum-skew workload: every scene
carries the heaviest label burden the layer can produce (total burn work
comparable to the full mixed set despite half the scenes). Measures
whether the LPT cost striping + broadcast-label design keeps scaling when
ALL work is hot. Protocol otherwise identical to bench.py --scaling
(memoize_burns=False compute-bound configuration, min per level over
interleaved repeats)."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PRED = "(scene_id % 2) = 0"
REPS = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "1"))


def run_level(cores: int) -> float:
    from terrakit_spark.catalog import materialize_synth
    from terrakit_spark.pipeline import chip_pipeline
    from terrakit_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", app_name="scaling_large", shuffle_partitions=cores)
    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".work", f"bench_synth_{os.path.basename(SF_DIR)}")
    materialize_synth(spark, SF_DIR, work)
    t0 = time.time()
    n = chip_pipeline(spark, SF_DIR, scene_pred=PRED, shuffle_parts=cores * 4,
                      memoize_burns=False).count()
    dt = time.time() - t0
    spark.stop()
    return dt, n


def main() -> None:
    best = {8: 1e18, 32: 1e18}
    rows = 0
    for _ in range(REPS):
        for c in (8, 32):
            dt, rows = run_level(c)
            best[c] = min(best[c], dt)
    eff = (best[8] / best[32]) / 4.0
    print(json.dumps({
        "pred": PRED, "rows": rows,
        "local8_sec": round(best[8], 2), "local32_sec": round(best[32], 2),
        "speedup": round(best[8] / best[32], 3), "efficiency": round(eff, 3),
    }))


if __name__ == "__main__":
    main()
