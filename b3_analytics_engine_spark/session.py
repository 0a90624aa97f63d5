"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` (single JVM); production target is a
multi-executor cluster reading ~100 TB. The configs below are chosen so
the SAME logical plans scale: AQE re-plans shuffle partitioning at
runtime, skew-join splitting handles hot keys, and the session timezone
is pinned to UTC so timestamp semantics match the DuckDB oracle and are
cluster-location independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference behavior being preserved: the reference pipeline conflates
# timezones freely (naive UTC in Postgres, America/Sao_Paulo in the
# dashboard — see SURVEY.md §2.2 P11). We pin the session to UTC and
# convert explicitly at the edges.
SESSION_TZ = "UTC"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else the smaller
    of 16 GB and half the host's RAM (``MemTotal``), so the default
    never asks for more memory than the box has. 16 GB where the RAM
    cannot be read."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "b3_analytics_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are tuned for correctness-at-any-scale rather than a fixed
    cluster size:

    - AQE on (coalesce + skew-join): the static
      ``spark.sql.shuffle.partitions`` is only an upper bound; AQE
      right-sizes post-shuffle partitions from observed sizes, which is
      what makes one set of plans work from sf0.001 to 100 TB.
    - Arrow on for the pandas-UDF extension operators.
    - 128 MiB file split size: the Parquet scan parallelism knob that
      matters on a real cluster (here it just keeps small files in one
      task).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", SESSION_TZ)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else max(cpus, 8)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        # keep catalog state (bucketed-table metastore, warehouse dir)
        # out of the repo/cwd
        .config("spark.sql.warehouse.dir", "/tmp/b3_spark_warehouse")
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/b3_derby"
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # a partitioned overwrite replaces only the partitions present
        # in the written frame (sinks/files.overwrite_warehouse). The
        # E2 warehouse does not use it: each micro-batch adds one
        # top-level file, rewrites only the files whose rows change,
        # and commits them with a `_tail/` of per-symbol state through
        # a `_staging/_commit` record (sinks/files.commit_table)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
