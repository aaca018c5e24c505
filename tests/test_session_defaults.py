"""Session defaults sized to the work and to the host.

Every catalog query and stream trigger is an ordinary Spark SQL job, so
each one generates Java classes for its whole-stage-codegen stages. The
session's codegen cache (``spark.sql.codegen.cache.maxEntries``) must
hold one unit of work, or its LRU evicts every class before the next
pass reuses it and every pass pays Janino compilation plus JIT warm-up
again; counted through Spark's ``CodegenMetrics``, not timed. The
default driver heap must fit the host.
"""

from __future__ import annotations

import os

from conftest import SF_SMOKE

# One pass generates about 127 classes, more than Spark's default cache
# of 100 holds. The benchmark's pinned queries, less
# lineitem_exact_quantiles: its second run generates about 10 new
# classes in about one run of four (a plan variant that depends on
# timing), even when nothing is evicted; two TPC-H joins take its place.
PASS = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "q1_pricing_summary",
    "j1_asof_join",
    "sim_topk_bruteforce",
    "q5_region_revenue",
    "q8_market_share",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, fns) -> dict[str, int]:
    """Janino compiles per query over one pass into a noop sink."""
    out = {}
    for name in PASS:
        before = _compiles(spark)
        fns[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        out[name] = _compiles(spark) - before
    return out


def test_second_catalog_pass_compiles_nothing(spark):
    from slipstream_async_spark.plans.catalog import queries

    fns = queries()
    first = _run_pass(spark, fns)
    second = _run_pass(spark, fns)
    assert sum(second.values()) == 0, (first, second)


def test_driver_memory_default_fits_the_host(monkeypatch):
    from slipstream_async_spark.session import _driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = _driver_memory()
    assert mem.endswith("m") and 0 < int(mem[:-1]) <= phys_mb // 2
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
