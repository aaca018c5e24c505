"""SparkSession factory with scale-aware defaults.

Replaces the reference's ``Conf`` singleton (slipstream/core.py:137-208) —
instead of an asyncio event-loop registry, the "engine configuration" is a
tuned SparkSession. Defaults are chosen for correctness-vs-DuckDB oracles
(UTC timestamps, ANSI off for permissive casts) and for scale:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
- shuffle partitions sized to the local core count (on a real cluster this
  should be ~2-3x total executor cores — override via ``extra_conf``);
- Arrow enabled for every pandas-UDF boundary;
- RocksDB state store provider for streaming state (same storage engine the
  reference uses for its Cache, here managed by Spark per-partition);
- a generated-code cache of 1000 classes, not Spark's 100. Every catalog
  query and every stream trigger is an ordinary Spark SQL job that
  generates code; one pass over the six pinned benchmark queries
  generates 126 classes and one 300-row stream trigger about 215, so at
  100 the LRU recompiled 126 classes on every pass and about 430 on
  every two-trigger stream unit. At 1000 repeat passes compile 0 and
  later stream units 0-12 (counted with ``CodegenMetrics``; 4 vCPU,
  pyspark 4.1.2);
- a driver heap of half the host's physical memory (at most 16g) unless
  ``$SPARK_GRAFT_DRIVER_MEM`` sets it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical RAM,
    at most 16g: a heap larger than the host lets the JVM grow until
    the kernel kills it."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):  # the host does not report its memory
        return "16g"
    return f"{min(16 * 1024, phys_mb // 2)}m"


_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # At 100 TB the 10 MB default broadcast threshold is far too shy for
    # dimension tables (region/nation/supplier/part fit in executor memory
    # at any SF); 64 MB keeps star-schema joins broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Whole-table COUNT/MIN/MAX answered from parquet footer statistics
    # without reading row data — free for stats jobs over 100 TB tables.
    # Exact (footers are exact), so oracle parity is unaffected.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Streaming state on RocksDB, like the reference's Cache but managed.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Sized to the cores THIS session actually runs on (the bench drives
    # local[$SPARK_GRAFT_CPUS] at more than one core count): the machine's
    # physical count would leave a local[8] session planning 32-task
    # shuffles. On a real cluster override to ~2-3x total executor cores
    # via extra_conf; AQE coalescing adapts the effective count downward
    # per stage either way.
    "spark.sql.shuffle.partitions": str(
        int(os.environ["SPARK_GRAFT_CPUS"])
        if os.environ.get("SPARK_GRAFT_CPUS", "").isdigit()
        else (os.cpu_count() or 8)
    ),
    # A static conf, read once when the session starts. Sized at more
    # than twice the ~430 compiles of one two-trigger stream unit (see
    # the module docstring): below one unit the LRU evicts every class
    # before its reuse, and each pass recompiles and re-JITs them all.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
    "spark.driver.memory": _driver_memory(),
}


def get_spark(
    app_name: str = "slipstream_async_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return the shared SparkSession, creating it with tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). On a real cluster pass ``master=None`` with
    ``spark.master`` preconfigured, or an explicit URL.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
