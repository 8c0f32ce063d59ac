"""Query registry: every implemented operator registers a Spark callable
(and, when SQL-expressible, a DuckDB oracle string). __spark_entry__.py
exposes these to the driver."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from terrakit_spark.catalog import ensure_base_views
from terrakit_spark.dialect import DUCK, SPARK
from terrakit_spark.synth import ALL_TABLES

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def with_synth(dialect: str, body: str, tables: list[str] | None = None, extra_ctes: str = "") -> str:
    """Prefix a SELECT body with the synthetic-table CTEs it needs."""
    tables = tables if tables is not None else list(ALL_TABLES)
    parts = [f"{n} AS ({ALL_TABLES[n](dialect)})" for n in tables]
    if extra_ctes:
        parts.append(extra_ctes)
    if not parts:
        return body
    stripped = body.lstrip()
    if stripped[:5].upper() == "WITH ":
        # merge the body's own CTE list into ours
        body = stripped[5:]
        return f"WITH {', '.join(parts)},\n{body}"
    return f"WITH {', '.join(parts)}\n{body}"


def register_sql(name: str, body_fn: Callable[[str], str], tables: list[str] | None = None) -> None:
    """Register an operator whose engine AND oracle are the same dual-dialect
    SQL template. body_fn(dialect) -> SELECT body (synth CTEs prepended here).
    The Spark side still executes distributed through Catalyst; the DuckDB
    side is the single-node oracle."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_base_views(spark, sf_dir)
        return spark.sql(with_synth(SPARK, body_fn(SPARK), tables))

    QUERIES[name] = run
    ORACLES[name] = with_synth(DUCK, body_fn(DUCK), tables)


def register_df(name: str, fn: Callable[[SparkSession, str], DataFrame], oracle: str | None = None) -> None:
    """Register a DataFrame/pandas-UDF operator; oracle optional (the driver
    falls back to a rows-only check when absent)."""
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle
