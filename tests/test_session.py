"""get_spark() sizes a local session from the host when no env override is
set: local[N] over the CPUs this process may run on, and a driver heap that
fits in physical memory. Its Python workers import the package from any
working directory."""

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_CHILD = """
import sys
sys.path.insert(0, {root!r})
from etl_processes_spark.session import get_spark
s = get_spark("session_defaults")
conf = s.sparkContext.getConf()
for key in ("spark.master", "spark.driver.memory", "spark.ui.showConsoleProgress"):
    print("CONF", key, conf.get(key))


def package_file(_):
    import etl_processes_spark

    return etl_processes_spark.__file__


udf = s.udf.register("package_file", package_file)
print("WORKER", s.range(1).select(udf("id")).first()[0])
s.stop()
"""


def _bytes(size: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    size = size.strip().lower()
    return int(size[:-1]) * units[size[-1]] if size[-1] in units else int(size)


def test_get_spark_defaults_follow_host(tmp_path):
    env = dict(os.environ)
    for var in (
        "SPARK_GRAFT_CPUS",
        "SPARK_DRIVER_MEM",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "PYSPARK_SUBMIT_ARGS",
        "PYTHONPATH",
    ):
        env.pop(var, None)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(root=str(ROOT))],
        env=env,
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    conf = {
        ln.split()[1]: ln.split()[2] for ln in out.splitlines() if ln.startswith("CONF ")
    }
    assert conf["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    with open("/proc/meminfo") as f:
        mem_total = next(
            int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:")
        )
    assert _bytes(conf["spark.driver.memory"]) <= mem_total
    assert conf["spark.ui.showConsoleProgress"] == "false"
    worker = next(ln.split()[1] for ln in out.splitlines() if ln.startswith("WORKER "))
    assert Path(worker).resolve() == ROOT / "etl_processes_spark" / "__init__.py"
