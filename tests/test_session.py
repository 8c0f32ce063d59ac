"""get_spark's driver-side defaults. PySpark reads the call-site capture
flag once per driver process and caches it, so each case runs in its own
interpreter."""

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
