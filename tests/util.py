"""Shared test helpers: run a Spark DataFrame and a DuckDB SQL string over
the same testdata + synthetic derivations and compare exactly (mirrors the
driver's row-count + schema + order-insensitive value-hash gate)."""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _sort_key(row):
    # rows may mix None/float/str across rows; sort on reprs (stable and
    # identical for identical values), compare actual values afterwards
    return tuple(repr(v) for v in row)


def rows_of_spark(df):
    cols = sorted(df.columns)
    return sorted((tuple(_norm(r[c]) for c in cols) for r in df.collect()), key=_sort_key), cols


def rows_of_duck(con, sql: str):
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(_norm(r[i]) for i in order) for r in rel.fetchall()), key=_sort_key)
    return rows, sorted(cols)


def assert_match(spark_df, con, duck_sql: str, approx: bool = False, tol: float = 1e-9):
    s_rows, s_cols = rows_of_spark(spark_df)
    d_rows, d_cols = rows_of_duck(con, duck_sql)
    assert s_cols == [c.lower() for c in d_cols] or s_cols == d_cols, f"schema mismatch: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            if approx and _approx_eq(a, b, tol):
                continue
            raise AssertionError(f"row {i} mismatch:\n  spark={a}\n  duck ={b}")


def _approx_eq(a, b, tol):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=tol, abs_tol=tol):
                return False
        elif x != y:
            return False
    return True


def job_ids_launched(spark, fn):
    """(fn(), ids of the Spark jobs fn launched), found by job group once
    the listener bus has recorded every job."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    out, ids = job_ids_launched(spark, fn)
    return out, len(ids)


def executed_plan(df) -> str:
    """The executed physical plan of df, after one action on it."""
    df.count()
    return df._jdf.queryExecution().executedPlan().toString()
