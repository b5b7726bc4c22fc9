"""SparkSession factory tuned for the engine.

Local-mode cores are the CPUs this process may run on and the driver heap
comes from physical RAM, so the same entrypoint works in tests on any box
and would carry to a real cluster (where most of these configs are
cluster-managed).
Scale notes:

- AQE on: runtime partition coalescing + skew-join splitting — the reference's
  data is heavily skewed (top 5.3% of products carry 79.9% of volume, see
  /root/reference/src/features/aggregation_features_engine.py:7-10), so
  adaptive skew handling is load-bearing at 100 TB, not a nicety.
- shuffle.partitions matches local cores here; on a 1000-executor cluster it
  should be ~2-3x total cores (or left to AQE initialPartitionNum).
- Arrow enabled: every pandas kernel (mapInPandas, applyInPandasWithState)
  ships columnar batches.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Half of physical RAM (MemTotal), capped at 16g.  In local mode the
    driver JVM is the whole engine; a heap cap at or above physical RAM
    lets the kernel OOM-kill it before Java's GC ever feels pressure, and
    the other half is left for Python workers and the page cache."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(total_mb // 2, 16 * 1024)}m"


def get_spark(app_name: str = "hackatonbigdata_spark") -> SparkSession:
    cpus = len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # no \r progress bars on stdout: they flood line-capture harnesses
        # (a bench's one-line JSON result got lost in them) and serve
        # nothing in a headless run
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
