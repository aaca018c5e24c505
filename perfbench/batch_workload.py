"""The ``catalog`` workload: a pinned list of catalog queries, run back
to back by one client and each written to a ``noop`` sink. An untimed
warm-up pass checks every result against the query's DuckDB oracle;
then timed passes repeat until the run's seconds have passed, at least
``MIN_PASSES`` times, and each query's wall and CPU time are its least
over the passes.

The minimum is taken because the noise is one-sided: a pass runs slow
when the JIT is still compiling the query's code or when the host takes
CPU away from the run (steal time), never fast. A burst of steal that
outlasts the whole timed window still shows in wall time: on a shared
four-core host one at about 13% steal made a run's passes 60-80%
slower. CPU time leaves stolen time out; it falls from pass to pass
while the JIT compiles, which the minimum also takes care of.

Two families share one pass so that one workload stresses both kinds of
catalog cost:

- dedup family: eager build-time jobs (cache fills, sizing counts,
  cutover collects) carry most of the time, and no query uses an
  ordered scan;
- relational family: final execution carries most of the time, and no
  query calls the dedup operators. One uses ordered-scan primitives
  (``exact_quantiles``, ``global_rank``); the others are an
  aggregation, an as-of join and a brute-force vector top-k.

The list is pinned here, never taken from ``queries()`` order (the
catalog rotates that order from whichever correctness files exist), and
the seed permutes it. The tables are the same in every run, like the
catalog's fixed test data, so a seed moves only the order.
"""

from __future__ import annotations

import gc
import random
import time
from concurrent.futures import ThreadPoolExecutor

from harness import PeakRss, cpu_s, median
from tables import TABLES, write_tables

DEDUP_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash",
)
RELATIONAL_QUERIES = (
    "lineitem_exact_quantiles",
    "q1_pricing_summary",
    "j1_asof_join",
    "sim_topk_bruteforce",
)
TABLE_SEED = 0
# one pass takes about 5.5 s on four cores; passes keep getting faster
# for about four passes after the warm-up while the JIT catches up
MIN_PASSES = 5


def family(name: str) -> str:
    return "dedup" if name in DEDUP_QUERIES else "relational"


def query_order(seed: int) -> list[str]:
    names = list(DEDUP_QUERIES + RELATIONAL_QUERIES)
    random.Random(seed).shuffle(names)
    return names


def _matches(spark_df, duck_df) -> str | None:
    """None when equal under the oracle gate's normalization, else why not."""
    from tools.check_oracle import _kinds, _normalize

    s, d = _normalize(spark_df), _normalize(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if _kinds(spark_df) != _kinds(duck_df):
        return "dtype kinds differ"
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    if len(s) and not s.equals(d):
        return "values differ"
    return None


class CatalogRun:
    def __init__(self, env, seed: int, seconds: int, log, t_start: float):
        self.env = env
        self.seed = seed
        self.seconds = seconds
        self.log = log
        self.t_start = t_start
        self.data = env.path("tables")
        self.order = query_order(seed)
        self.attempted = 0
        self.failed = 0

    def setup(self) -> float:
        """Fresh session and the tables on disk; returns the session's
        start-up seconds."""
        t0 = time.perf_counter()
        self.env.start_session()
        start_s = time.perf_counter() - t0
        write_tables(TABLE_SEED, self.data)
        return start_s

    def verify(self) -> None:
        """Untimed warm-up pass: every query against its DuckDB oracle.
        The oracles run on a second thread meanwhile (DuckDB releases the
        GIL), since a few of them take longer than the Spark side."""
        from slipstream_async_spark.plans.catalog import oracle_sql, queries

        fns = queries()
        with ThreadPoolExecutor(max_workers=1) as pool:
            expected = pool.submit(self._oracle_results, oracle_sql())
            got = {}
            for name in self.order:
                try:
                    t0 = time.perf_counter()
                    got[name] = fns[name](self.env.spark, self.data).toPandas()
                    self.log(f"verify {name} {time.perf_counter()-t0:.2f}")
                except Exception as exc:  # noqa: BLE001 - counted, run goes on
                    got[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
                self.env.spark.catalog.clearCache()
            expected = expected.result()
        for name in self.order:
            self.attempted += 1
            why = got[name] if isinstance(got[name], str) else _matches(got[name], expected[name])
            if why is not None:
                self.failed += 1
                self.log(f"catalog: {name} is wrong: {why}")

    def _oracle_results(self, oracles: dict[str, str]) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            t0 = time.perf_counter()
            out = {name: con.execute(oracles[name]).df() for name in self.order}
            self.log(f"oracles {time.perf_counter()-t0:.2f}")
            return out
        finally:
            con.close()

    def run_query(self, spark, fn, name: str, tracer=None) -> tuple[float, float] | None:
        """Build and run one query into a noop sink; its wall and CPU
        seconds, or None if it failed. With a tracer, build, planning and
        execution get their own spans under one ``catalog.query`` span."""
        self.attempted += 1
        c0 = cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                fn(spark, self.data).write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("catalog.query") as sid:
                    tracer.spans[sid]["attrs"].update(query=name, family=family(name))
                    with tracer.span("catalog.build"):
                        df = fn(spark, self.data)
                    with tracer.span("catalog.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("catalog.exec"):
                        df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            return wall, cpu_s() - c0
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            self.failed += 1
            self.log(f"catalog: {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        finally:
            # bench.py's rule: cached lineages would otherwise tax later
            # queries, so every query starts with an empty CacheManager
            spark.catalog.clearCache()
            gc.collect()

    def timed_passes(
        self, min_seconds: float, min_passes: int, tracer=None
    ) -> tuple[dict[str, float], dict[str, float]]:
        """Passes over the list until ``min_seconds`` have gone by, at
        least ``min_passes`` times. Returns each query's least wall seconds
        and least CPU seconds over the passes (a query that failed in every
        pass is left out)."""
        from slipstream_async_spark.plans.catalog import queries

        fns = queries()
        walls: dict[str, list[float]] = {name: [] for name in self.order}
        cpus: dict[str, list[float]] = {name: [] for name in self.order}
        t0 = time.perf_counter()
        passes = 0
        while passes < min_passes or time.perf_counter() - t0 < min_seconds:
            for name in self.order:
                got = self.run_query(self.env.spark, fns[name], name, tracer)
                if got is not None:
                    walls[name].append(got[0])
                    cpus[name].append(got[1])
            passes += 1
        self.log(f"catalog: {passes} passes, wall {walls}, cpu {cpus}")
        return (
            {name: min(ts) for name, ts in walls.items() if ts},
            {name: min(cs) for name, cs in cpus.items() if cs},
        )

    # -- the two kinds of run ----------------------------------------------

    def measure(self) -> tuple[dict[str, float], dict[str, float]]:
        self.setup()
        self.verify()
        setup_s = time.perf_counter() - self.t_start
        with PeakRss(self.env.spark) as rss:
            per_query, per_query_cpu = self.timed_passes(self.seconds, MIN_PASSES)
        metrics = {
            "setup_s": setup_s,
            "cpu_s": sum(per_query_cpu.values()),
            "peak_rss_mb": rss.peak_mb,
        }
        detail = {"total_s": sum(per_query.values()), "query_s_p50": median(per_query.values())}
        for fam in ("dedup", "relational"):
            detail[f"{fam}.total_s"] = sum(t for q, t in per_query.items() if family(q) == fam)
        return metrics, detail

    def trace(self) -> dict[str, float]:
        from slipstream_async_spark.operators import (
            aggregations, dedup, joins, packing, similarity,
        )
        from slipstream_async_spark.sources import readers

        import tracing as T

        start_s = self.setup()
        self.verify()
        untraced = sum(self.timed_passes(0, 1)[0].values())

        self.env.start_session(event_log=True)
        log_dir = self.env.event_log_dir
        with T.Tracer(self.env.spark.sparkContext, f"catalog-{self.seed}") as tr:
            tr.wrap_module(readers, "readers", ["load_table", "spread", "scoped_cache"])
            tr.wrap_module(dedup, "dedup")
            tr.wrap_module(aggregations, "aggregations")
            tr.wrap_module(packing, "aggregations", ["contiguous_pack"])
            tr.wrap_module(joins, "joins")
            tr.wrap_module(similarity, "similarity")
            traced = sum(self.timed_passes(0, 1, tracer=tr)[0].values())
            spans = tr.spans
        self.env.stop_session()
        jobs = T.read_event_log(log_dir)
        T.attribute_jobs(spans, jobs)
        return catalog_layers(spans, jobs, start_s, traced - untraced)


ORDERED_SCAN = (
    "global_rank", "global_prefix_sum", "global_running_max",
    "exact_quantiles", "contiguous_pack",
)
# the dedup operators the pinned dedup queries call
DEDUP_ENTRY_POINTS = ("dedup_minhash_lsh", "simhash_fingerprints")


def _family_of(span, by_id) -> str | None:
    """The query family of the ``catalog.query`` span above ``span``."""
    p = span["parent"]
    while p is not None and by_id[p]["name"] != "catalog.query":
        p = by_id[p]["parent"]
    return by_id[p]["attrs"]["family"] if p is not None else None


def catalog_layers(spans, jobs, start_s: float, overhead_s: float) -> dict[str, float]:
    import tracing as T

    def dur(s):
        return s["end"] - s["start"]

    out: dict[str, float] = {"session.start_s": start_s, "trace.overhead_s": overhead_s}
    roots = [s for s in spans if s["name"] == "catalog.query"]
    phase_ids = {
        p: T.under(spans, f"catalog.{p}") for p in ("build", "plan", "exec")
    }
    for p in ("build", "plan", "exec"):
        out[f"catalog.{p}_s"] = sum(dur(s) for s in spans if s["name"] == f"catalog.{p}")
    out["catalog.build_jobs"] = T.spark_work(jobs, phase_ids["build"])["jobs"]
    out["catalog.exec_jobs"] = T.spark_work(jobs, phase_ids["exec"])["jobs"]
    query_ids = T.under(spans, "catalog.query")
    out["catalog.driver_gap_s"] = sum(dur(s) for s in roots) - T.job_busy(jobs, query_ids)
    by_id = {s["id"]: s for s in spans}
    for fam in ("dedup", "relational"):
        for p in ("build", "exec"):
            out[f"catalog.{fam}.{p}_s"] = sum(
                dur(s) for s in spans
                if s["name"] == f"catalog.{p}" and by_id[s["parent"]]["attrs"]["family"] == fam
            )
    for p in ("build", "exec"):
        work = T.spark_work(jobs, phase_ids[p])
        for f in T.SPARK_FIELDS:
            out[f"catalog.{p}.{f}"] = work[f]

    def calls(name):
        return [s for s in spans if s["name"] == name and s["end"] is not None]

    out["readers.load_table_s"] = sum(dur(s) for s in calls("readers.load_table"))
    out["readers.spread_s"] = sum(dur(s) for s in calls("readers.spread"))
    out["readers.spread_calls"] = len(calls("readers.spread"))
    out["readers.scoped_cache_calls"] = len(calls("readers.scoped_cache"))
    for fn in DEDUP_ENTRY_POINTS:
        out[f"dedup.{fn}_s"] = sum(dur(s) for s in calls(f"dedup.{fn}"))
        out[f"dedup.{fn}_calls"] = len(calls(f"dedup.{fn}"))
    scans = [s for s in T.outermost(spans, "aggregations.") if s["name"].split(".")[1] in ORDERED_SCAN]
    out["aggregations.ordered_scan_s"] = sum(dur(s) for s in scans)
    out["aggregations.ordered_scan_calls"] = len(scans)
    for layer in ("dedup", "aggregations"):
        ids = {s["id"] for s in spans if T.layer_of(s["name"]) == layer}
        work = T.spark_work(jobs, ids)
        out[f"{layer}.jobs"] = work["jobs"]
        for f in T.SPARK_FIELDS:
            out[f"{layer}.{f}"] = work[f]
    # the families' separation, as counts that should read 0: dedup
    # operator calls in relational queries, ordered scans in dedup ones
    for fam, layer, spans_of in (
        ("relational", "dedup", T.outermost(spans, "dedup.")),
        ("dedup", "ordered_scan", scans),
    ):
        out[f"catalog.{fam}.{layer}_calls"] = sum(
            1 for s in spans_of if _family_of(s, by_id) == fam
        )
    for layer in ("joins", "similarity"):
        top = T.outermost(spans, f"{layer}.")
        out[f"{layer}_s"] = sum(dur(s) for s in top)
        out[f"{layer}_calls"] = len(top)
    for layer, secs in T.self_times(spans).items():
        out[f"self_s.{layer}"] = secs
    return out
