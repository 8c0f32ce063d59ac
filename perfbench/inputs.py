"""Benchmark inputs, built once per checkout and slice and cached under
``.perfbench/``:

- the base tables: a seed-picked residue slice of the sf0.1 tables under
  ``data/`` (``events`` rows with ``event_id % SLICE_MOD == r`` and
  ``documents`` rows with ``doc_id % SLICE_MOD == r``; ``embeddings`` whole;
  the TPC-H tables, which no workload reads, as empty tables);
- the oracle answers: every checked query's ``(rows, hash)`` from its DuckDB
  oracle over the same slice, plus the chip job's expected counts;
- the synth tables: ``materialize_synth`` of the slice. It writes ~1,700
  partitioned files whatever the input size, so a run cannot afford it; its
  time is kept in ``_perfbench.json`` beside the tables.

The synth formulas key labels, scenes, hotspots, classes, dates and dims on
``event_id`` / ``doc_id`` modulo 2, 3, 5, 8, 10, 16, 25, 60, 67, 89, 97 and
340; ``SLICE_MOD`` is a prime outside that set, so every residue keeps the
same mix and the slices are equal-sized.

Run as a script, it prepares one slice (``python3 perfbench/inputs.py
<root> <residue>``): the benchmark runs it in a child process, so DuckDB's
memory never counts in the driver's peak RSS and every run's own Spark
application starts on a fresh JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

MASTER, CORES = "local[4]", 4
SLICE_MOD = 13
# Distinct slices a seed can pick. Each one costs a materialize_synth (about
# a minute) the first time a checkout runs it, so seeds cycle over few.
NSLICES = 2
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SLICED = {"events": "event_id", "documents": "doc_id"}
BASE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

# Canonical form of every output column, in SQL both engines read alike:
# integers and strings as-is, doubles scaled to an integer unit.
CANON = {
    "polygon_overlap_join": ("label_a", "label_b"),
    "tile_label_coverage": (
        "scene_id", "win_index", "n_labels",
        "CAST(round(label_area * 1e6) AS BIGINT)", "CAST(round(coverage * 4e6) AS BIGINT)",
    ),
}
CHIP_SUMMARY = ("scene_id", "scene_date_str", "n_chips", "data_sum", "label_mass")


def residue(seed: int) -> int:
    return seed % NSLICES


def cache_dir(root: str, *parts: str) -> str:
    return os.path.join(root, ".perfbench", *parts)


def base_dir(root: str, r: int) -> str:
    return cache_dir(root, "inputs", f"r{r}", "base")


def oracle_path(root: str, r: int) -> str:
    return cache_dir(root, "inputs", f"r{r}", "oracle.json")


def synth_dir(root: str, r: int) -> str:
    return cache_dir(root, "synth", f"r{r}")


def synth_record(root: str, r: int) -> str:
    return os.path.join(synth_dir(root, r), "_perfbench.json")


def row_hash(values) -> int:
    """Python twin of the Spark-side digest of one canonical row: the first
    40 bits of md5 over the '|'-joined text (NULLs skipped, as concat_ws)."""
    import hashlib

    text = "|".join(str(v) for v in values if v is not None)
    return int(hashlib.md5(text.encode()).hexdigest()[:10], 16)


def _digest(rows) -> dict:
    return {"rows": len(rows), "hash": sum(row_hash(r) for r in rows)}


def _write_slice(con, out: str, r: int) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in BASE_TABLES:
        src = os.path.join(DATA, f"{t}.parquet")
        if t in SLICED:
            key = SLICED[t]
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') WHERE {key} % {SLICE_MOD} = {r} ORDER BY {key}) "
                f"TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copyfile(src, os.path.join(tmp, f"{t}.parquet"))
    os.replace(tmp, out)


def _chip_oracle(con) -> dict:
    """Expected output of the staged chip job on the slice: stage row
    counts, per-split dataset rows, the per-scene chip summary digest and
    the band count of the stats side-car."""
    from terrakit_spark.cli import DEFAULT_PRED
    from terrakit_spark.dialect import DUCK
    from terrakit_spark.operators.pipeline_query import _pipeline_oracle
    from terrakit_spark.operators.split import split_case_sql
    from terrakit_spark.registry import ORACLES, with_synth

    summary = f"SELECT {', '.join(CHIP_SUMMARY)} FROM ({_pipeline_oracle(DEFAULT_PRED, rollup=False)}) _s"
    rows = con.sql(summary).fetchall()
    # win_index runs 0..n_chips-1 per scene; the store stage splits on
    # scene_id * 1000 + win_index
    con.execute(f"CREATE TEMP TABLE _chips AS {summary}")
    splits = dict(
        con.sql(
            f"SELECT {split_case_sql('k')} AS s, count(*) FROM ("
            "SELECT scene_id * 1000 + w AS k FROM "
            "(SELECT scene_id, unnest(generate_series(0, n_chips - 1)) AS w FROM _chips) _w) _k GROUP BY s"
        ).fetchall()
    )
    labels = con.sql(with_synth(DUCK, "SELECT count(*) FROM labels", tables=["labels"])).fetchone()[0]
    bboxes = con.sql(
        with_synth(DUCK, "SELECT count(*) FROM (SELECT DISTINCT datetime, labelclass FROM labels) _d", tables=["labels"])
    ).fetchone()[0]
    matched = con.sql(f"SELECT count(*) FROM ({ORACLES['asof_join']}) _a WHERE scene_date_str IS NOT NULL").fetchone()[0]
    bands = con.sql(
        with_synth(DUCK, f"SELECT max(bands) FROM scenes WHERE {DEFAULT_PRED}", tables=["scenes"])
    ).fetchone()[0]
    return {
        "labels_rows": labels,
        "bbox_rows": bboxes,
        "matched_rows": matched,
        "chips_rows": sum(r[2] for r in rows),
        "splits": splits,
        "summary": _digest(rows),
        "data_sum": sum(r[3] for r in rows),
        "bands": bands,
    }


def _oracle(base: str) -> dict:
    import duckdb

    import terrakit_spark.operators  # noqa: F401  (registers every query)
    from terrakit_spark.registry import ORACLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{base}.duckdb_tmp'")
    for t in BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')")
    out = {}
    for name, cols in CANON.items():
        canon = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        out[name] = _digest(con.sql(f"SELECT {canon} FROM ({ORACLES[name]}) _o").fetchall())
    out["chip_dataset"] = _chip_oracle(con)
    con.close()
    shutil.rmtree(f"{base}.duckdb_tmp", ignore_errors=True)
    return out


def prepare(root: str, r: int) -> None:
    base = base_dir(root, r)
    if not os.path.isdir(base):
        import duckdb

        os.makedirs(os.path.dirname(base), exist_ok=True)
        con = duckdb.connect()
        _write_slice(con, base, r)
        con.close()
    path = oracle_path(root, r)
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as fh:
            json.dump(_oracle(base), fh)
        os.replace(path + ".tmp", path)
    if not os.path.exists(synth_record(root, r)):
        _materialize(base, synth_dir(root, r))


def _materialize(base: str, out: str) -> None:
    import time

    from pyspark import SparkContext

    from terrakit_spark.operators.spatial_join import materialize_synth
    from terrakit_spark.session import get_spark

    spark = get_spark(master=MASTER, app_name="perfbench_build", shuffle_partitions=CORES)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    materialize_synth(spark, base, tmp)
    took = time.time() - t0
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.terminate()
    gateway.proc.wait(timeout=60)
    with open(os.path.join(tmp, "_perfbench.json"), "w") as fh:
        json.dump({"materialize_s": took}, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


if __name__ == "__main__":
    sys.path.insert(0, sys.argv[1])
    prepare(sys.argv[1], int(sys.argv[2]))
