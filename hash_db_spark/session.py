"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness tests on local[N] but are the same knobs
that matter on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold for dimension tables,
and Arrow for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory(cpus: int) -> str:
    """Local mode folds executors into the driver JVM, so the heap must
    be sized to the TASK SLOTS, not the Spark default (1g) or a flat
    constant: at 32 local cores an 8g heap leaves ~150 MB of execution
    memory per concurrent task once accumulated localCheckpoint /
    broadcast blocks occupy the storage pool — measured as suite-wide
    GC/eviction thrash (in-suite medians 2-8x the alone-warm time on
    memory-hungry queries; 179-query bench total 473 -> 391s single-pass
    just from 8g -> 24g). 0.75 GiB per slot, floor 8 GiB, capped at a
    quarter of box RAM so the JVM never squeezes the OS page cache or
    the Python workers. SPARK_DRIVER_MEMORY still overrides, and on a
    real cluster executor memory is its own knob — this default only
    governs local[N]."""
    gb = max(8, (3 * cpus) // 4)
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(
                next(l for l in fh if l.startswith("MemTotal")).split()[1]
            )
        gb = max(8, min(gb, total_kb // (4 * 1024 * 1024)))
    except Exception:
        pass
    return f"{gb}g"


def get_spark(
    app_name: str = "hash_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    At cluster scale ``shuffle_partitions`` should be ~2-3x total cores;
    AQE coalesces small post-shuffle partitions so erring high is safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join handling, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/supplier/...) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas_udf / mapInPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects by
        # default; read as long and convert in catalog.load_tables (µs
        # truncation matches DuckDB's ns→µs cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or _default_driver_memory(int(cpus)),
        )
        # A long-lived session accumulates localCheckpoint RDD blocks and
        # broadcasts whose cleanup rides on JVM GC (ContextCleaner uses
        # weak references); with a roomy heap full GCs are rare and the
        # default 30min periodic GC lets dead blocks pile up in storage.
        # 5min bounds the pile without measurable pause cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Tungsten pages of 1 MiB, Spark's floor. The default is sized
        # from the heap, 64 MiB at 8g on 4 cores, and
        # MemoryConsumer.allocatePage takes max(pageSize, required), so
        # the first row into any hash aggregate, hash-join build or
        # broadcast relation costs one whole page: on a KB-sized facade
        # op that is a 64 MiB allocation, and a humongous one under G1
        # (4 MiB regions), where 1 MiB stays under half a region.
        .config("spark.buffer.pageSize", "1m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
