"""Python worker start-up probe: times the cold (first) and warm job of each
Python-stage kind — pandas UDF, Arrow UDF, mapInPandas and an RDD map — on
1 and 4 partitions, under the engine daemon (`terrakit_spark.daemon`, the
get_spark default on a local master) and Spark's stock `pyspark.daemon`
(chosen through `spark.python.daemon.module` only). Every (daemon, kind,
partitions) cell runs on a fresh application, so its cold job pays the
daemon start and each worker's fork and first imports; warm is the fastest
of the next `--warm` runs. One untimed application runs every kind first,
so JVM class loading lands in no cell. Prints one JSON line.

    python scripts/worker_probe.py [--master "local[4]"] [--warm 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DAEMONS = ("terrakit_spark.daemon", "pyspark.daemon")
KINDS = ("pandas_udf", "arrow_udf", "map_in_pandas", "rdd_map")
ROWS = 4096


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def _plus_one_arrow(a: pa.Array) -> pa.Array:
    return pc.add(a, 1)


def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from it


def job(spark, kind: str, parts: int):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import arrow_udf, pandas_udf

    df = spark.range(0, ROWS, numPartitions=parts)
    if kind == "pandas_udf":
        return df.select(F.sum(pandas_udf(_plus_one, "long")("id"))).collect()
    if kind == "arrow_udf":
        return df.select(F.sum(arrow_udf(_plus_one_arrow, "long")("id"))).collect()
    if kind == "map_in_pandas":
        return df.mapInPandas(_batches, "id long").agg(F.sum("id")).collect()
    return spark.sparkContext.parallelize(range(ROWS), parts).map(lambda x: x + 1).sum()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    from terrakit_spark.session import get_spark

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--master", default="local[4]")
    p.add_argument("--warm", type=int, default=3)
    a = p.parse_args()

    def session(daemon: str):
        return get_spark(master=a.master, app_name="worker_probe", shuffle_partitions=4,
                         extra_conf={"spark.python.daemon.module": daemon})

    spark = session("pyspark.daemon")
    for kind in KINDS:
        job(spark, kind, 4)
    spark.stop()

    out = {}
    for daemon in DAEMONS:
        for kind in KINDS:
            for parts in (1, 4):
                spark = session(daemon)
                cold = timed(lambda: job(spark, kind, parts))
                warm = min(timed(lambda: job(spark, kind, parts)) for _ in range(a.warm))
                spark.stop()
                out.setdefault(daemon, {}).setdefault(kind, {})[str(parts)] = {
                    "cold_s": round(cold, 3), "warm_s": round(warm, 3)}
    print(json.dumps({"master": a.master, "warm_reps": a.warm, "rows": ROWS, "results": out}))


if __name__ == "__main__":
    main()
