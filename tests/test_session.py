"""Session defaults fit the host: driver heap from physical memory, and the
Python workers can import the package from any working directory."""

import os

from entity_matching_in_online_retail_spark import session as SE


def _mem_mb(value: str) -> int:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    value = value.strip().lower().rstrip("b")
    return int(float(value[:-1]) * units[value[-1]])


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
        "MemAvailable:   2048 kB\n"
    )
    return str(p)


def test_default_driver_memory_is_half_of_memtotal_capped_at_48g(tmp_path):
    assert SE.default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"
    assert SE.default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "49152m"
    assert SE.default_driver_memory(str(tmp_path / "missing")) == "49152m"


def test_session_driver_memory_fits_the_host(spark):
    got = _mem_mb(spark.conf.get("spark.driver.memory"))
    want = os.environ.get("SPARK_DRIVER_MEM") or SE.default_driver_memory()
    assert got == _mem_mb(want)
    if os.path.exists("/proc/meminfo") and not os.environ.get("SPARK_DRIVER_MEM"):
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        assert got <= total_kb // 1024 // 2


def test_python_workers_get_the_repo_on_pythonpath(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.udf(StringType())
    def worker_pythonpath(_):
        import os as worker_os

        return worker_os.environ.get("PYTHONPATH", "")

    got = spark.range(1).select(worker_pythonpath("id").alias("p")).first()["p"]
    assert SE.REPO_ROOT in got.split(os.pathsep)
