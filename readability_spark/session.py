"""One local SparkSession, sized from the machine it runs on.

``bench.py``, ``scripts/verify_queries.py`` and ``scripts/cardinality_sweep.py``
build their session here. ``SPARK_GRAFT_CPUS`` overrides the core count (default:
the CPUs this process may run on) and ``SPARK_GRAFT_DRIVER_MEM`` the driver
memory (default: two fifths of physical memory, because the Python workers
live outside the JVM heap).
"""

from __future__ import annotations

import os


def local_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def build_spark(app_name: str):
    from pyspark.sql import SparkSession

    cpus = local_cpus()
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM",
        f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') * 2 // 5 >> 30}g",
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
