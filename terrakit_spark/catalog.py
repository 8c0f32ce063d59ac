"""Per-application state: the views the queries read (base tables and
stored synth tables), the work dirs an application materialized, and the
plan memo of layer pulls and planning probes. All of it keys on the
applicationId, not id(spark): a GC'd session's id can be reused."""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from terrakit_spark.dialect import SPARK
from terrakit_spark.synth import ALL_TABLES

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

_active_base: dict[str, str] = {}  # applicationId -> sf_dir the base views point at
_active_synth: dict[str, str] = {}  # applicationId -> sf_dir the synth views serve
_MATERIALIZED: dict[tuple[str, str], str] = {}  # (applicationId, sf_dir) -> work_dir

# Partition layout for the stored tables: (date column, lon column).
# Each partitioned table gets derived p_date + p_cx (30-degree lon band)
# partition keys alongside the unchanged data columns, so date-range and
# spatial-band predicates prune at the FILE level (Iceberg-style partition
# pruning on plain parquet; SURVEY §4). ~60 dates x 12 bands keeps the
# partition count bounded at any scale factor.
_PARTITION_SPEC: dict[str, tuple[str, str]] = {
    "scenes": ("scene_date_str", "xmin"),
    "labels": ("datetime", "cx"),
    "media": ("media_date_str", "mx"),
}

# materialize_synth's record of the views it registered: view name ->
# the schema Spark inferred on read-back (StructType.jsonValue()).
_CATALOG = "_catalog.json"

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
    # The memo is "which sf_dir is ACTIVE", not "which was ever registered":
    # a session queried at sf A, then B, then A again must re-point the
    # views each switch (an ever-registered memo served B's tables to the A
    # query).
    app = spark.sparkContext.applicationId
    if _active_base.get(app) == sf_dir:
        return
    schemas = schemas or {}
    for t in _BASE_TABLES:
        read_parquet(spark, f"{sf_dir}/{t}.parquet", schemas.get(t)).createOrReplaceTempView(t)
    _active_base[app] = sf_dir


def _read_catalog(work_dir: str | None) -> dict:
    """The work dir's catalog, or {} when there is none."""
    if work_dir is None:
        return {}
    try:
        with open(os.path.join(work_dir, _CATALOG)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    """Point the base AND derived-synth views at sf_dir. Memoized on the
    ACTIVE sf_dir per session (not ever-registered): a session that
    materialized one scale factor and is then queried at another must
    re-point, not silently serve the old tables (measured: an sf1 query
    returning sf0.1 rows). Switching back re-points at the already
    materialized parquet — no rewrite.

    An application that materialized sf_dir (`_MATERIALIZED`) attaches the
    stored tables from the work dir's catalog: the base views and each
    stored table are read with their recorded schemas, the stored tables
    with their files listed on the driver for that read only, so attaching
    launches no Spark job. A view missing from the catalog, or a work dir
    without one (written before the catalog existed), is inferred."""
    app = spark.sparkContext.applicationId
    if _active_base.get(app) == sf_dir and _active_synth.get(app) == sf_dir:
        return
    work = _MATERIALIZED.get((app, sf_dir))
    catalog = _read_catalog(work)
    # Base views FIRST, before the synth early-return: ensure_base_views is
    # called directly by other operator families (dedup/similarity/registry),
    # so the base views can have been re-pointed at another sf_dir since this
    # memo last ran — returning early on _active_synth alone would serve
    # synth views over mixed-scale base tables.
    ensure_base_views(spark, sf_dir, catalog)
    if _active_synth.get(app) == sf_dir:
        return
    if work is not None:
        for name in ALL_TABLES:
            read_parquet(spark, os.path.join(work, name), catalog.get(name)).createOrReplaceTempView(name)
    else:
        for name, fn in ALL_TABLES.items():
            spark.sql(fn(SPARK)).createOrReplaceTempView(name)
    _active_synth[app] = sf_dir


def materialize_synth(spark: SparkSession, sf_dir: str, work_dir: str) -> None:
    """Write the derived synthetic tables to parquet once and re-point the
    views at them — the bench measures the engine against stored tables
    (as a real deployment reads Iceberg), not the on-the-fly derivation.
    Tables in _PARTITION_SPEC are written partitionBy(p_date, p_cx).

    Last, it writes work_dir/_catalog.json, which maps every view it
    registered (the stored tables and the base tables) to the schema Spark
    inferred on read-back; _register_views attaches from it without a job.
    The catalog holds names and schemas only, no paths, so a renamed work
    dir stays valid. It is deleted first and written last (tmp +
    os.replace): a materialize that fails midway leaves no catalog, and a
    catalog never describes files rewritten after it."""
    catalog = os.path.join(work_dir, _CATALOG)
    if os.path.exists(catalog):
        os.remove(catalog)
    ensure_base_views(spark, sf_dir)
    schemas = {t: spark.table(t).schema.jsonValue() for t in _BASE_TABLES}
    for name, fn in ALL_TABLES.items():
        path = os.path.join(work_dir, name)
        df = spark.sql(fn(SPARK))
        if name in _PARTITION_SPEC:
            date_col, lon_col = _PARTITION_SPEC[name]
            df = df.withColumn("p_date", F.col(date_col)).withColumn(
                "p_cx", F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(30.0)).cast("int")
            )
            df.write.mode("overwrite").partitionBy("p_date", "p_cx").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        stored = spark.read.parquet(path)
        stored.createOrReplaceTempView(name)
        schemas[name] = stored.schema.jsonValue()
    # the tables were rewritten in place (same paths, same plans): anything
    # memoized over them before now would serve the old rows
    release_layers(spark)
    app = spark.sparkContext.applicationId
    _MATERIALIZED[(app, sf_dir)] = work_dir
    _active_synth[app] = sf_dir
    with open(catalog + ".tmp", "w") as fh:
        json.dump(schemas, fh)
    os.replace(catalog + ".tmp", catalog)


# ------------------------------------------------------------ the plan memo
_MEMO: OrderedDict = OrderedDict()  # (app, plan hashes..., args...) -> value
_MEMO_MAX = 16
_MEMO_LOCK = threading.RLock()


def memoized(plans: tuple[DataFrame, ...], args: tuple, compute: Callable[[], object]) -> object:
    """compute(), once per (application, each plan's analyzed semanticHash,
    args); `args` starts with a tag naming the caller. The key is the plan,
    not the data: inputs rewritten in place under a live application need
    release_layers. An insert drops other applications' entries (a stopped
    application's broadcasts went with it) and evicts the least recently
    used beyond _MEMO_MAX. compute runs under the lock, so concurrent
    callers pull a layer once."""
    app = plans[0].sparkSession.sparkContext.applicationId
    key = (app, *(p._jdf.queryExecution().analyzed().semanticHash() for p in plans), *args)
    with _MEMO_LOCK:
        if key not in _MEMO:
            _MEMO[key] = compute()
            for k in [k for k in _MEMO if k[0] != app]:
                del _MEMO[k]
            _evict(list(_MEMO)[: max(0, len(_MEMO) - _MEMO_MAX)])
        _MEMO.move_to_end(key)
        return _MEMO[key]


def _evict(keys) -> None:
    """Drop memo entries and unpersist their broadcasts (under the lock)."""
    for k in keys:
        bcast = getattr(_MEMO.pop(k), "bcast", None)
        if bcast is not None:
            bcast.unpersist()


def release_layers(spark: SparkSession) -> None:
    """Forget everything this application memoized — layers it pulled,
    cell sizes and salt fans it probed: its tables were rewritten in place,
    at the same plans."""
    app = spark.sparkContext.applicationId
    with _MEMO_LOCK:
        _evict([k for k in _MEMO if k[0] == app])
