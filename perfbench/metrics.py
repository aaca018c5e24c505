"""Every metric the benchmark prints, with its unit. ``BENCHMARK.json``
lists the end-to-end and per-layer names; ``run.py`` prints exactly
these, and a per-layer metric of a layer the workload never enters
reads 0.

The end-to-end metrics are shared by both workloads. ``cpu_s`` is the
CPU time of one timed unit (a pass over the query list, summed from each
query's least CPU time over the passes, or the drain of one landed
backlog), counted over the client, the driver JVM and its Python
workers. ``DETAIL`` holds the metrics of one kind of workload, printed
on the line before the result, and the unit's wall time ``total_s``.

Wall time is not an end-to-end metric because on a shared host it
follows the neighbours' load: in two sets of ten runs of the same code
on four vCPUs, one in a quiet hour and one while the host took 10-20%
of the CPU away (steal time), the medians of ``total_s`` moved 25% on
the stream and the quartiles of one set spread a third of the median
apart on both workloads. The kernel leaves stolen time out of CPU time.
The per-operation medians are left out too: with six queries the
catalog's median query switches between queries from run to run, which
put its quartiles 24% of the median apart."""

from __future__ import annotations

_SPARK_WORK = (
    ("jobs", "count"), ("tasks", "count"), ("task_s", "s"), ("cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
)


def _work(prefix: str, with_jobs: bool = True) -> list[tuple[str, str]]:
    return [
        (f"{prefix}.{f}", u) for f, u in _SPARK_WORK if with_jobs or f != "jobs"
    ]


END_TO_END: list[tuple[str, str]] = [
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]

DETAIL: dict[str, str] = {
    "total_s": "s",
    "query_s_p50": "s",
    "dedup.total_s": "s",
    "relational.total_s": "s",
    "rows_per_s": "rows/s",
    "batch_s_p50": "s",
    "cdc_s": "s",
    "fail_rate": "ratio",
}

PER_LAYER: list[tuple[str, str]] = [
    ("host.nproc", "count"),
    ("host.driver_heap_mb", "MB"),
    ("session.start_s", "s"),
    ("trace.overhead_s", "s"),
    ("catalog.build_s", "s"),
    ("catalog.build_jobs", "count"),
    ("catalog.plan_s", "s"),
    ("catalog.exec_s", "s"),
    ("catalog.exec_jobs", "count"),
    ("catalog.driver_gap_s", "s"),
    ("catalog.dedup.build_s", "s"),
    ("catalog.dedup.exec_s", "s"),
    ("catalog.relational.build_s", "s"),
    ("catalog.relational.exec_s", "s"),
    ("catalog.relational.dedup_calls", "count"),
    ("catalog.dedup.ordered_scan_calls", "count"),
    *_work("catalog.build", with_jobs=False),
    *_work("catalog.exec", with_jobs=False),
    ("readers.load_table_s", "s"),
    ("readers.spread_s", "s"),
    ("readers.spread_calls", "count"),
    ("readers.scoped_cache_calls", "count"),
    *[
        (f"dedup.{fn}_{k}", u)
        for fn in ("dedup_minhash_lsh", "simhash_fingerprints")
        for k, u in (("s", "s"), ("calls", "count"))
    ],
    *_work("dedup"),
    ("aggregations.ordered_scan_s", "s"),
    ("aggregations.ordered_scan_calls", "count"),
    *_work("aggregations"),
    ("joins_s", "s"),
    ("joins_calls", "count"),
    ("similarity_s", "s"),
    ("similarity_calls", "count"),
    ("trigger.add_batch_s", "s"),
    ("trigger.planning_s", "s"),
    ("trigger.wal_commit_s", "s"),
    ("trigger.latest_offset_s", "s"),
    ("state.upsert_s_p50", "s"),
    ("state.upsert_s_max", "s"),
    ("state.commit_rows", "count"),
    ("state.bytes", "bytes"),
    ("state.versions", "count"),
    ("state.changelog_read_s", "s"),
    *_work("state"),
    ("dedup_flow.sink_s", "s"),
    ("dedup_flow.gate_maybe_rate", "ratio"),
    ("dedup_flow.neardup_sink_s", "s"),
    *[
        (f"dedup_flow.neardup_{k}_s", "s")
        for k in (
            "t_prep", "t_bucket_collect", "t_guard", "t_probe_build",
            "t_pairs_commit", "t_commit_wait", "t_corpus_commit", "t_group_commit",
        )
    ],
    *_work("dedup_flow"),
    ("neardup_index.candidates", "count"),
    ("neardup_index.pairs", "count"),
    ("neardup_index.pairs_per_candidate", "ratio"),
    ("neardup_index.postings_rows_scanned", "count"),
    ("neardup_index.bootstrap_s", "s"),
    *_work("neardup_index"),
    *[
        (f"self_s.{layer}", "s")
        for layer in (
            "catalog", "readers", "dedup", "aggregations", "joins", "similarity",
            "stream", "state", "dedup_flow", "neardup_index",
        )
    ],
    ("baseline_1core.total_s", "s"),
    ("baseline_1core.batch_s_p50", "s"),
]
