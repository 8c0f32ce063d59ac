"""get_spark's defaults, on the driver and in its Python workers. PySpark
reads the call-site capture flag once per driver process and caches it, and
a worker's path is fixed when its daemon starts, so each session case runs
in its own interpreter."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """\
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from terrakit_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={conf!r})
if {plan!r}:
    import terrakit_spark.operators
    from terrakit_spark.registry import QUERIES
    QUERIES["polygon_overlap_join"](spark, {sf_dir!r})
df = spark.range(1).select((F.col("id") + 1) / F.lit(0))
try:
    df.collect()
    msg = ""
except Exception as e:
    msg = str(e)
print(json.dumps({{"ipython": "IPython" in sys.modules, "error": msg}}))
"""
# the script's file and the line that builds the failing column
_SITE = "callsite.py:%d" % next(i for i, line in enumerate(_SCRIPT.splitlines(), 1) if "F.lit(0)" in line)


def _run(tmp_path, sf_dir, conf: dict, plan: bool) -> dict:
    script = tmp_path / "callsite.py"
    script.write_text(_SCRIPT.format(repo=REPO, conf=conf, plan=plan, sf_dir=sf_dir))
    out = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=300, check=True
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_call_site_capture_is_off_by_default(tmp_path, sf_dir):
    """Planning a spatial join never imports IPython (pyspark's call-site
    capture would), and an error context carries no Python call site."""
    got = _run(tmp_path, sf_dir, {}, plan=True)
    assert not got["ipython"]
    assert "DIVIDE_BY_ZERO" in got["error"] and _SITE not in got["error"]


def test_spark_conf_turns_call_site_capture_back_on(tmp_path, sf_dir):
    got = _run(tmp_path, sf_dir, {"spark.python.sql.dataFrameDebugging.enabled": "true"}, plan=False)
    assert "DIVIDE_BY_ZERO" in got["error"] and _SITE in got["error"], got["error"]


def test_driver_memory_defaults_within_ram():
    """With SPARK_GRAFT_DRIVER_MEM unset, the conf asks for half of physical
    RAM (capped at 48g) and the driver JVM's heap limit is within RAM."""
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from terrakit_spark.session import get_spark\n"
        "sc = get_spark(master='local[1]', shuffle_partitions=1).sparkContext\n"
        "print(sc.getConf().get('spark.driver.memory'), sc._jvm.java.lang.Runtime.getRuntime().maxMemory())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, check=True, env=env
    ).stdout
    conf, heap = out.strip().splitlines()[-1].split()
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert conf == f"{min(ram_mb // 2, 48 << 10)}m"
    assert int(heap) < ram_mb << 20


def _run_from(tmp_path, code: str) -> dict:
    """Run `code` in a fresh interpreter whose cwd is `tmp_path`, with the
    engine on the driver's sys.path only (no PYTHONPATH), and parse the
    JSON object it prints last."""
    script = tmp_path / "job.py"
    script.write_text(f"import json, sys\nsys.path.insert(0, {REPO!r})\n" + code)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_engine_udf_runs_outside_the_repo(tmp_path):
    """Local workers import the engine from its root, not from the JVM's
    cwd: a refine UDF works from a script run in another directory."""
    got = _run_from(
        tmp_path,
        "from pyspark.sql import functions as F\n"
        "from terrakit_spark.functions.geometry import pip_kernel, refine_udf\n"
        "from terrakit_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        "square = [0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0]\n"
        "df = spark.createDataFrame([(square, 1.0, 1.0), (square, 3.0, 3.0)], 'v array<double>, x double, y double')\n"
        "hit = df.filter(refine_udf(pip_kernel, 'boolean', [F.col('v')], F.col('x'), F.col('y')))\n"
        "print(json.dumps({'hits': hit.count()}))\n",
    )
    assert got == {"hits": 1}


def test_worker_imports_installed_pyspark(tmp_path):
    """Under the engine daemon a pandas-UDF worker imports pyspark from the
    installed package and holds no importer for Spark's archives."""
    got = _run_from(
        tmp_path,
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "from terrakit_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        "@pandas_udf('string')\n"
        "def probe(s: pd.Series) -> pd.Series:\n"
        "    import sys, zipimport, pyspark\n"
        "    zips = sorted({z.archive for z in sys.path_importer_cache.values() if isinstance(z, zipimport.zipimporter)})\n"
        "    return pd.Series([json.dumps([pyspark.__file__, zips])] * len(s))\n"
        "print(json.dumps(json.loads(spark.range(1).select(probe('id')).first()[0])))\n",
    )
    pyspark_file, zips = got
    assert os.path.isfile(pyspark_file), pyspark_file
    assert not [z for z in zips if "pyspark.zip" in z or "py4j" in z or z.endswith(".jar")], zips


def _fake_install(root, version: str | None, py4j: bool = True) -> str:
    """A site dir holding pyspark `version` (None: no pyspark) and py4j."""
    os.makedirs(root)
    if version is not None:
        os.makedirs(os.path.join(root, "pyspark"))
        open(os.path.join(root, "pyspark", "__init__.py"), "w").close()
        with open(os.path.join(root, "pyspark", "version.py"), "w") as f:
            f.write(f"__version__: str = {version!r}\n")
    if py4j:
        os.makedirs(os.path.join(root, "py4j"))
        open(os.path.join(root, "py4j", "__init__.py"), "w").close()
    return str(root)


def test_daemon_path_rule(tmp_path):
    """Spark's archives leave the path only for an installed pyspark of the
    zip's version plus an installed py4j; otherwise the path is unchanged."""
    import zipfile

    from terrakit_spark.daemon import worker_path

    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '9.9.9'\n")
    with zipfile.ZipFile(lib / "py4j-0.1-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (lib / "spark-core_2.13-9.9.9.jar").write_bytes(b"")
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.1-src.zip"), str(lib / "spark-core_2.13-9.9.9.jar")]
    cwd = str(tmp_path / "cwd")

    site = _fake_install(tmp_path / "same", "9.9.9")
    assert worker_path([cwd, *archives, site]) == [cwd, site]
    for site in (
        _fake_install(tmp_path / "other", "9.9.8"),
        _fake_install(tmp_path / "none", None),
        _fake_install(tmp_path / "no_py4j", "9.9.9", py4j=False),
    ):
        path = [cwd, *archives, site]
        assert worker_path(path) == path


def test_daemon_and_worker_path_only_for_local_masters():
    """A local master gets the engine daemon and the engine's root at the
    head of the workers' PYTHONPATH (merged with one already given); any
    other master keeps Spark's defaults. extra_conf picks the stock daemon."""
    from terrakit_spark.session import spark_conf

    local = spark_conf("local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "/elsewhere"})
    assert local["spark.python.daemon.module"] == "terrakit_spark.daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([REPO, "/elsewhere"])
    stock = spark_conf("local", extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
    assert stock["spark.python.daemon.module"] == "pyspark.daemon"
    assert stock["spark.executorEnv.PYTHONPATH"] == REPO
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        conf = spark_conf(master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf
