"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow enabled for the pandas-UDF
hot path, shuffle partitions sized to cores (not the 200 default), UTC
session timezone so date/timestamp semantics match the DuckDB oracle.

PySpark's DataFrame call-site capture is off
(`spark.python.sql.dataFrameDebugging.enabled=false`). When on, every
`functions.*` and `Column` call records the caller's `file:line` for
DataFrame error contexts, and pays for it on the driver: about 5 py4j round
trips per call (active session, a JVM class lookup, a conf read, the origin
set and clear), plus a one-time `import IPython` when IPython is installed
(0.58 s measured on a 4-core box, and ~25 MB of driver RSS). Planning the
spatial joins makes hundreds of such calls. With capture off, an error
context names a JVM frame instead of the user's line. To get the line back,
pass `extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`
to get_spark or set it in spark-defaults.conf.

Python workers, on a local master only. Spark heads every worker's
`PYTHONPATH` with `pyspark.zip`, `py4j-*.zip` and the spark-core jar, so a
worker imports pyspark from the zip: compiled from source at every daemon
start, and each task's `importlib.invalidate_caches()` (pyspark's
`setup_spark_files`) re-reads every archive's directory, 0.11-0.25 s per
task on a 4-core box. get_spark therefore selects `terrakit_spark.daemon`
through Spark's own `spark.python.daemon.module`: it drops those archives
when the interpreter holds an installed pyspark of the zip's version and an
installed py4j (see that module), so workers import the driver's
byte-compiled pyspark. get_spark also puts the engine's root at the head of
`spark.executorEnv.PYTHONPATH` (merged with one given in `extra_conf`), so
workers import the engine, and the daemon, whatever the JVM's cwd. A
cluster master keeps Spark's daemon and worker path: its executors need not
hold the engine's root or an installed pyspark. For the stock daemon, pass
`extra_conf={"spark.python.daemon.module": "pyspark.daemon"}`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def iceberg_jar() -> str | None:
    """Path to an iceberg-spark-runtime jar if one is reachable, else None.

    Probe order: $SPARK_GRAFT_ICEBERG_JAR, then pyspark's bundled jars dir.
    The engine's snapshot layer (plans/snapshots.py) is a faithful stand-in
    when this returns None (this container ships no Iceberg jar); when a
    jar appears, get_spark wires the catalog so the same call sites can use
    `df.writeTo(...)` + snapshot reads."""
    env = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if env and os.path.exists(env):
        return env
    try:
        import glob

        import pyspark

        hits = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "iceberg-spark-runtime*.jar"))
        return hits[0] if hits else None
    except Exception:
        return None


def _driver_memory() -> str:
    """Half of physical RAM, capped at 48g: a heap sized past the box lets
    the driver JVM grow instead of collecting until the kernel kills it."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(ram_mb // 2, 48 << 10)}m"


def spark_conf(
    master: str,
    app_name: str = "terrakit_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The session conf get_spark builds for ``master``; ``extra_conf`` wins,
    except that a local master's ``spark.executorEnv.PYTHONPATH`` keeps the
    engine's root at its head."""
    if shuffle_partitions is None:
        # match parallelism of the master when local, else a cluster default
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() or 32 if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    conf = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
        "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "1073741824",
        # call-site capture off (see the module docstring); extra_conf can
        # turn it back on. PySpark reads the flag once per driver process,
        # on the first wrapped API call, and caches it: sessions built later
        # in the same process keep the first one's value.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    jar = iceberg_jar()
    if jar:
        # real Iceberg catalog (hadoop, warehouse under ./spark-warehouse or
        # $SPARK_GRAFT_ICEBERG_WAREHOUSE); the snapshot stand-in remains the
        # default path — callers opt in via writeTo("iceberg.<table>")
        conf.update(
            {
                "spark.jars": jar,
                "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
                "spark.sql.catalog.iceberg": "org.apache.iceberg.spark.SparkCatalog",
                "spark.sql.catalog.iceberg.type": "hadoop",
                "spark.sql.catalog.iceberg.warehouse": os.environ.get(
                    "SPARK_GRAFT_ICEBERG_WAREHOUSE", "spark-warehouse/iceberg"
                ),
            }
        )
    conf.update(extra_conf or {})
    if master.split("[")[0] == "local":
        # workers run on this host: they import the engine from its root
        # (whatever the JVM's cwd) and start from the engine daemon (see the
        # module docstring); a cluster keeps Spark's worker path and daemon
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        own = conf.get("spark.executorEnv.PYTHONPATH")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join([root, own] if own else [root])
        conf.setdefault("spark.python.daemon.module", "terrakit_spark.daemon")
    return conf


def get_spark(
    master: str | None = None,
    app_name: str = "terrakit_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster these configs ride along unchanged; only ``master``
    and memory sizing differ (spark-submit provides those).
    """
    # glibc tuning for the Arrow/numpy hot path: without it every large
    # numpy temp is mmap'd and munmap'd, paying first-touch page faults on
    # EVERY allocation (measured ~60x slowdown in sandboxed kernels). Must
    # be set before the JVM (and its python workers) are spawned.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = SparkSession.builder
    for k, v in spark_conf(master, app_name, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
