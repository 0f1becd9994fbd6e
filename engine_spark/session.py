"""SparkSession builders tuned for the engine.

Defaults are sized for the local[N] test rig but the knobs are the ones that
matter at cluster scale: AQE (runtime re-planning, skew-join splitting,
partition coalescing), adaptive broadcast thresholds, and Arrow for any
Pandas-UDF hop. Nothing here is local-mode-specific — the same conf ships to
a 1000-executor cluster unchanged; only `master` and the shuffle-partition
count come from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Half of the host's ``MemTotal`` (``/proc/meminfo``), so the default
    heap never exceeds the machine; Spark's own 1g where that is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # kB → MB, halved
    except OSError:
        pass
    return "1g"


def get_spark(
    app_name: str = "engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting and
      dynamic broadcast-join conversion carry a plan tuned at sf0.01 to 100 TB.
    - Arrow on: every pandas UDF / toPandas hop is columnar-batched.
    - Shuffle partitions default to the core count locally; on a real cluster
      AQE coalesces from a deliberately-high initial number instead.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reference semantics are lenient, not ANSI: division by zero yields
        # NULL (executor/math/divide.rs:82-88), null operands propagate, and
        # failed conversions yield NULL rather than erroring. Spark 4 turned
        # ANSI on by default, which would CRASH a reference query on the
        # first zero divisor — pin the lenient mode the dialect promises.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver testdata stores TIMESTAMP(NANOS) which Spark 4 otherwise
        # refuses to scan (PARQUET_TYPE_ILLEGAL). Read nanos as long; the
        # Catalog converts to a real timestamp column (exact integer div).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_GRAFT_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
