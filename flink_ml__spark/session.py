"""SparkSession factory tuned for the local[N] test/bench environment.

The session settings are chosen to mirror what we would deploy on a real
multi-executor cluster: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), shuffle partitions sized to the core count rather
than the 200 default, Arrow enabled for the pandas-UDF slow path.

The session is sized to the host it runs on (:func:`host_size`): one
``local[N]`` slot per usable core and a driver heap of 20% of RAM,
clamped to 1–4 GiB. ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM``
override either.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

HEAP_SHARE = 0.2            # driver heap as a share of host memory
HEAP_MB = (1024, 4096)      # ... clamped to this range


def host_size() -> tuple[int, int]:
    """(usable cores, driver heap in MiB) for a session on this host:
    the cores this process may run on, and 20% of ``MemTotal`` clamped
    to 1–4 GiB (a local-mode driver heap also holds every executor's
    working memory, but the Python workers need the rest)."""
    cpus = (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
            else os.cpu_count() or 1)
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return cpus, HEAP_MB[0]
    heap = int(total_kb / 1024 * HEAP_SHARE)
    return cpus, max(HEAP_MB[0], min(HEAP_MB[1], heap))


def session_size() -> tuple[str, str]:
    """(local[N] width, driver memory) for :func:`get_spark`:
    ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` when set, else
    :func:`host_size`."""
    cpus, heap_mb = host_size()
    return (os.environ.get("SPARK_GRAFT_CPUS", str(cpus)),
            os.environ.get("SPARK_DRIVER_MEM", f"{heap_mb}m"))


def get_spark(
    app_name: str = "flink_ml__spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus, driver_mem = session_size()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Java-reference parity: degenerate arithmetic (x/0 on constant
        # columns) must propagate, not raise; non-ANSI division yields NULL,
        # which also matches DuckDB — keeping the oracle comparable.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
