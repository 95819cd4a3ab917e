"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config here is chosen to be
the right default on a real multi-executor cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast joins
enabled with a sane threshold, Arrow for any pandas-UDF exchange, and
shuffle partitions sized for the local fixture scale (overridable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram() -> str:
    """Half of this host's physical memory, capped at 32g, as a JVM size."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(total_mb // 2, 32 << 10)}m"


def get_spark(
    app_name: str = "hadoop-mapreduce-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd size this to ~2-3x total executor cores or simply rely
    on AQE coalescing, which is enabled here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    # Local mode runs driver + all 32 executor threads + every broadcast
    # build in ONE JVM whose heap defaults to 1g — that heap, not any
    # plan, is what falls over first as data grows (observed: broadcast
    # build OOM at 8x sf0.1). Size it like the single node it is: half
    # its physical memory, capped at 32g, so the heap cannot grow past
    # RAM; on a real cluster this maps to normal executor/driver memory
    # sizing.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_ram()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        # --- query optimization ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python/JVM data exchange (pandas UDFs) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic timestamps across engines ---
        .config("spark.sql.session.timeZone", "UTC")
        # keep the UI off in test/bench runs: less overhead, no port races
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# --- scoped operator caches -------------------------------------------------
# Operators that genuinely need a mid-plan materialisation (iterative CC,
# two-pass LM builds, candidate-pair reuse) persist through this registry
# instead of bare .persist(), so a long registry run (153 queries in one
# session) doesn't accumulate dead cached partitions in executor storage:
# harness code (bench.py, tools/oracle_check.py) calls release_caches()
# after each query's results are materialised.

_SCOPED_CACHES: list = []


def scoped_persist(df, storage_level=None):
    """Persist ``df`` (MEMORY_AND_DISK by default) and register it for
    :func:`release_caches`. Returns the persisted DataFrame."""
    from pyspark import StorageLevel

    df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _SCOPED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every DataFrame registered via :func:`scoped_persist`
    (blocking=False — eviction proceeds async). Safe to call at any
    point after the consuming query has materialised its result."""
    n = 0
    while _SCOPED_CACHES:
        df = _SCOPED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n
