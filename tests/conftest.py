from __future__ import annotations

import functools
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from slipstream_async_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    return con


_GROUPS = itertools.count()


def run_counting_jobs(spark, fn):
    """``(fn(), n)``, where n is the number of Spark jobs ``fn`` ran: they
    are tagged with a fresh ``setJobGroup`` and counted through the status
    tracker once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"counted:{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), Spark jobs fn ran)``."""
    return lambda fn: run_counting_jobs(spark, fn)


@pytest.fixture(scope="session")
def catalog_build(spark):
    """Every catalog query built once per session at sf0.001, in catalog
    order, without running it: name -> its formatted and simple plan
    strings and ``build_jobs``, the Spark jobs the build ran. The plan
    contracts, the plan audit and the build-job ledger all read it."""
    from slipstream_async_spark.plans.catalog import _QUERIES

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    built: dict[str, dict] = {}
    for name, fn in _QUERIES.items():
        df, jobs = run_counting_jobs(spark, functools.partial(fn, spark, SF_SMOKE))
        qe = df._jdf.queryExecution()
        built[name] = {
            "formatted": qe.explainString(mode.fromString("formatted")),
            "simple": qe.explainString(mode.fromString("simple")),
            "build_jobs": jobs,
        }
    return built
