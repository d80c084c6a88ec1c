"""SparkSession factory tuned for the frontier engine.

Single place to set scale-relevant defaults:

- AQE on (runtime re-plan, skew-join splitting).
- Arrow on (all extraction UDFs are pandas/Arrow; no per-row Python).
- shuffle partitions sized to the local core count (on a real cluster
  this is set to ~2-3x total executor cores / handled by AQE coalesce).
- thread count and driver heap sized from the host (``host_sizing``).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors.

    The cluster path is ``spark-submit --py-files jwcs.zip`` (north_rule,
    BASELINE.json:14); when the session is built programmatically we zip
    the package once and ``addPyFile`` it — same mechanism, self-serve.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(tempfile.gettempdir(), f"{pkg_name}-pyfiles.zip")
    # rebuild whenever any source file is newer than the zip — a stale
    # zip would ship OLD code to executors while the driver runs new code
    src_mtime = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                src_mtime = max(src_mtime, os.path.getmtime(os.path.join(root, f)))
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_sizing() -> tuple[str, str]:
    """(local-mode thread count, driver heap) for the host running this
    process: every core (``os.cpu_count()``) and half of physical memory
    (/proc/meminfo MemTotal), at least 1 GiB. In local mode the driver
    JVM runs every task; the other half is left to the Python workers
    the Arrow UDFs fork (one per core) and to the OS.
    ``SPARK_GRAFT_CPUS`` (a count, or ``*``) and ``SPARK_DRIVER_MEM`` (a
    JVM size such as ``8g``) override either value."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{max(1024, _mem_total_bytes() // 2 >> 20)}m"
    return cpus, heap


def get_spark(
    app_name: str = "judyst-web-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, heap = host_sizing()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else os.cpu_count() or 1
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # documents carry whole page bodies; keep broadcast threshold sane
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
