"""Query registry: every implemented operator registers a Spark callable
(and, when SQL-expressible, a DuckDB oracle string). __spark_entry__.py
exposes these to the driver."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from terrakit_spark.dialect import DUCK, SPARK
from terrakit_spark.synth import ALL_TABLES

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_BASE_TABLES = (
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

_active_base: dict[str, str] = {}  # applicationId -> sf_dir the views point at


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def read_parquet(spark: SparkSession, path: str, schema: dict | None = None) -> DataFrame:
    """spark.read.parquet(path). Given the schema Spark inferred from these
    files (a StructType.jsonValue()), read with it instead and list the
    files on the driver: no schema-inference job and no listing job. The
    listing threshold is raised for this read only; the file index keeps
    the listing, so later queries over the DataFrame do not list again."""
    if schema is None:
        return spark.read.parquet(path)
    old = spark.conf.get(_LISTING_THRESHOLD, None)
    spark.conf.set(_LISTING_THRESHOLD, str(2**31 - 1))
    try:
        return spark.read.schema(StructType.fromJson(schema)).parquet(path)
    finally:
        if old is None:
            spark.conf.unset(_LISTING_THRESHOLD)
        else:
            spark.conf.set(_LISTING_THRESHOLD, old)


def ensure_base_views(spark: SparkSession, sf_dir: str, schemas: dict | None = None) -> None:
    """Point the base-table views at sf_dir's parquet. `schemas` maps a
    table to the schema Spark inferred from its file (as materialize_synth
    records it); such a table is read with it, with no inference job, and
    any other table is inferred."""
    # applicationId, not id(spark): a GC'd session's id can be reused by a
    # new session, which would silently skip view registration. The memo is
    # "which sf_dir is ACTIVE", not "which was ever registered": a session
    # queried at sf A, then B, then A again must re-point the views each
    # switch (an ever-registered memo served B's tables to the A query).
    app = spark.sparkContext.applicationId
    if _active_base.get(app) == sf_dir:
        return
    schemas = schemas or {}
    for t in _BASE_TABLES:
        read_parquet(spark, f"{sf_dir}/{t}.parquet", schemas.get(t)).createOrReplaceTempView(t)
    _active_base[app] = sf_dir


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
