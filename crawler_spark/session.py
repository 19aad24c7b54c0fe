"""SparkSession factory.

One place to configure the execution profile so tests, bench and the
driver contract all run with the same settings:

- Arrow enabled: every Python-side kernel is a vectorized pandas UDF
  (input_hint: "no per-row Python").
- AQE enabled: runtime coalescing + skew-join splitting; at 100 TB the
  frontier's hot-host partitions are additionally salted explicitly
  (politeness.py), AQE handles residual join skew.
- shuffle.partitions defaults to the core count; bench overrides to
  match parallelism level (BASELINE.md protocol scales 8 -> 32).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(8g, half of MemAvailable): the heap below is pre-touched at JVM
    start, so a fixed 8g leaves no room for a second Spark process on a
    15 GB box.  SPARK_GRAFT_DRIVER_MEM, when set, wins."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError):
        return "8g"
    return f"{max(min(8 << 10, kib // 2 // 1024), 512)}m"


_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # deterministic across runs; corpus timestamps are synthetic UTC
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.ui.enabled": "false",
    "spark.driver.memory": _DRIVER_MEM,
    # Pre-commit + pre-touch the whole heap at JVM start.  Without this,
    # growing the heap under 32 allocation-heavy threads spends >50% of
    # all CPU in kernel page-fault handling (measured: a 2s decode stage
    # took 90-100s, system time 53%, user 7%).  One-time pretouch cost is
    # a few seconds; steady-state allocation then never faults.
    "spark.driver.extraJavaOptions": f"-Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch",
}

def _tmpfs_local_dir() -> str | None:
    """Shuffle/spill on tmpfs: the single VM disk (~0.7 GB/s) is a serial
    resource that caps multi-core scaling; on a real cluster each node
    brings its own NVMe, so tmpfs locally is the faithful analog.

    Gated: tmpfs is RAM — a big spill would fill it and pressure the OS
    into OOM instead of degrading to disk.  Enabled only when /dev/shm
    currently has >= 4 GiB free, and SPARK_GRAFT_TMPFS=0 force-disables
    (SPARK_GRAFT_TMPFS=1 force-enables for bench boxes that know their
    working set)."""
    flag = os.environ.get("SPARK_GRAFT_TMPFS", "")
    if flag == "0" or not os.path.isdir("/dev/shm"):
        return None
    if flag != "1":
        import shutil

        if shutil.disk_usage("/dev/shm").free < 4 << 30:
            return None
    return "/dev/shm/spark-graft-local"


_shm = _tmpfs_local_dir()
if _shm:
    _DEFAULTS["spark.local.dir"] = _shm


def get_spark(
    app_name: str = "crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on local[cores].

    ``cores=None`` -> local[*].  ``shuffle_partitions`` defaults to the
    core count so one scheduling round produces one wave of tasks.
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
