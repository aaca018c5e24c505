"""The ``stream`` workload: one seeded event stream through one composed
``foreachBatch`` sink, drained by a closed loop with one client.

Each row is a document event ``(doc_id, user, seq, text)``. User keys
are Zipf-skewed; a fixed share of texts repeat from a small payload pool
(exact duplicates) and another share are near copies of an earlier text.
Each trigger

1. upserts the latest text per user into a ``StateTable`` (overwrites,
   and compaction every ``max_chain`` commits),
2. runs ``bloom_gated_exact_dedup_sink`` (the persistent bloom gate in
   front of the fingerprint table),
3. runs ``indexed_incremental_dedup_sink`` over a ``NearDupPrefixIndex``
   whose postings grow during the run (append-only state, bucket-pruned
   reads).

The query starts on one warm-up batch, which pays the cold start (Python
workers, the first plans, the index's hot-shingle bootstrap) untimed.
Then each timed unit lands a backlog of ``N_BATCHES`` files at once and
waits for the last of them to commit; with ``maxFilesPerTrigger=1``
Spark takes the next file only after the previous trigger commits. After
the drain the state is checked against a reference computed in plain
Python from the same inputs, and the latest table's changelog is
drained into a memory sink and checked too.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import PeakRss, cpu_s, median

N_BATCHES = 2
ROWS_PER_BATCH = 300
N_USERS = 200
VOCAB = 5000
PAYLOADS = 40
DOC_WORDS = 30
THRESHOLD = 0.5
# the state is a few thousand rows; each bucket costs every commit a
# file write and a listing, and one bucket halved the trigger time
# against eight on four cores
N_BUCKETS = 1
# the latest-per-user table compacts on every third commit, so the
# second timed trigger covers the compaction path
LATEST_MAX_CHAIN = 2
SCHEMA = "doc_id string, user string, seq long, text string"


class Events:
    """The seeded event stream, one batch at a time."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.words = np.array([f"w{i}" for i in range(VOCAB)])
        self.payloads = [" ".join(self.rng.choice(self.words, 12)) for _ in range(PAYLOADS)]
        zipf = 1.0 / np.arange(1, N_USERS + 1) ** 1.1
        self.zipf = zipf / zipf.sum()
        self.originals: list[str] = []
        self.seq = 0

    def batch(self) -> list[dict]:
        rng, rows = self.rng, []
        for _ in range(ROWS_PER_BATCH):
            r = rng.random()
            if r < 0.15:
                text = self.payloads[int(rng.integers(PAYLOADS))]
            elif r < 0.30 and self.originals:
                toks = self.originals[int(rng.integers(len(self.originals)))].split()
                for _ in range(2):
                    toks[int(rng.integers(len(toks)))] = str(rng.choice(self.words))
                text = " ".join(toks)
            else:
                text = " ".join(rng.choice(self.words, DOC_WORDS))
                self.originals.append(text)
            rows.append({
                "doc_id": f"d{self.seq:07d}",
                "user": f"u{int(rng.choice(N_USERS, p=self.zipf)):04d}",
                "seq": self.seq,
                "text": text,
            })
            self.seq += 1
        return rows


# -- reference -----------------------------------------------------------------


def _fingerprint_key(text: str) -> str:
    norm = re.sub(r"[^0-9A-Za-z\s]", " ", text).lower()
    return " ".join(sorted({t for t in re.split(r"\s+", norm) if t}))


def _shingles(text: str, k: int = 3) -> frozenset:
    toks = [t for t in re.split(r"\s+", text) if t]
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def reference(batches: list[list[dict]]) -> dict:
    """Final state of every sink after ``batches``, one trigger each:
    latest text per user, duplicate -> canonical id, near-duplicate
    pairs by exact Jaccard at the index threshold, and the number of
    changelog rows of the latest table."""
    latest: dict[str, tuple[int, str]] = {}
    registry: dict[str, str] = {}
    dupes: dict[str, str] = {}
    changelog_rows = 0
    for rows in batches:
        for r in rows:
            if r["user"] not in latest or latest[r["user"]][0] < r["seq"]:
                latest[r["user"]] = (r["seq"], r["text"])
        changelog_rows += len({r["user"] for r in rows})
        fresh: dict[str, list[str]] = {}
        for r in rows:
            fp = _fingerprint_key(r["text"])
            if fp in registry:
                if registry[fp] != r["doc_id"]:
                    dupes[r["doc_id"]] = registry[fp]
            else:
                fresh.setdefault(fp, []).append(r["doc_id"])
        for fp, ids in fresh.items():
            canonical = min(ids)
            registry[fp] = canonical
            for d in ids:
                if d != canonical:
                    dupes[d] = canonical
    docs = [(r["doc_id"], _shingles(r["text"])) for rows in batches for r in rows]
    postings: dict[str, list[int]] = {}
    for i, (_, sh) in enumerate(docs):
        for s in sh:
            postings.setdefault(s, []).append(i)
    candidates = {
        (a, b) for ids in postings.values() for a in ids for b in ids if a < b
    }
    pairs = set()
    for a, b in candidates:
        sa, sb = docs[a][1], docs[b][1]
        inter = len(sa & sb)
        if inter / (len(sa) + len(sb) - inter) >= THRESHOLD:
            pairs.add(frozenset((docs[a][0], docs[b][0])))
    return {
        "latest": {u: t for u, (_, t) in latest.items()},
        "dupes": dupes,
        "pairs": pairs,
        "changelog_rows": changelog_rows,
    }


def _pair_of(key: str) -> frozenset:
    n, rest = key.split("|", 1)
    n = int(n)
    return frozenset((rest[:n], rest[n + 1:]))


# -- one drain -----------------------------------------------------------------


class Drain:
    """Fresh state tables and a fresh source directory under ``root``,
    one streaming query over them, then the checks."""

    def __init__(self, spark, root: str, seed: int, stats: bool = False, sink_wrap=None):
        from slipstream_async_spark.streaming.dedup_flow import (
            bloom_gated_exact_dedup_sink,
            indexed_incremental_dedup_sink,
        )
        from slipstream_async_spark.streaming.neardup_index import NearDupPrefixIndex
        from slipstream_async_spark.streaming.state import StateTable, foreach_batch_upsert

        self.spark, self.root = spark, root
        self.src = os.path.join(root, "source")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.events = Events(seed)
        self.batches: list[list[dict]] = []

        def table(name, **kw):
            return StateTable(spark, os.path.join(root, name), n_buckets=N_BUCKETS, **kw)

        self.latest = table("latest", max_chain=LATEST_MAX_CHAIN)
        fps, bloom, self.dupes = table("fps"), table("bloom"), table("dupes")
        corpus, self.pairs = table("corpus"), table("pairs")
        self.index = NearDupPrefixIndex(
            spark, os.path.join(root, "index"), threshold=THRESHOLD, n_buckets=N_BUCKETS
        )
        self.tables = [
            self.latest, fps, bloom, self.dupes, corpus, self.pairs,
            self.index.postings, self.index.sets, self.index.order, self.index.seen,
        ]
        # the sinks skip their accounting jobs when stats is None, so only
        # the traced run passes lists
        self.bloom_stats = [] if stats else None
        self.neardup_stats = [] if stats else None
        self.upsert = foreach_batch_upsert(self.latest, "latest")
        self.bloom_sink = bloom_gated_exact_dedup_sink(
            fps, bloom, self.dupes,
            # ~12 bits per standing fingerprint of the warm-up and the
            # first timed unit keeps the gate near 1% FPR
            words=max(16, (1 + N_BATCHES) * ROWS_PER_BATCH // 5),
            stats=self.bloom_stats,
        )
        self.neardup_sink = indexed_incremental_dedup_sink(
            corpus, self.pairs, self.index, stats=self.neardup_stats
        )
        self.commits = 0
        self.last_commit = 0.0
        self._sink = sink_wrap(self) if sink_wrap else self.sink
        self.query = None

    def sink(self, batch, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        latest = batch.groupBy("user").agg(F.max_by("text", "seq").alias("value"))
        self.upsert(latest.select(F.col("user").alias("key"), "value"), epoch_id)
        self.bloom_sink(batch, epoch_id)
        self.neardup_sink(batch, epoch_id)
        self.commits += 1
        self.last_commit = time.perf_counter()

    def _stage(self, n: int) -> list[str]:
        """Generate the next ``n`` batches and write them aside."""
        names = []
        for _ in range(n):
            rows = self.events.batch()
            name = f"part-{len(self.batches):05d}.parquet"
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(self.staging, name))
            self.batches.append(rows)
            names.append(name)
        return names

    def _land_and_wait(self, names: list[str]) -> tuple[float, float]:
        """Rename the staged files into the source (the source never
        lists a half-written file) and wait for their triggers to
        commit; wall seconds from landing to the last commit, and the
        CPU seconds the run used until the query reported it idle."""
        target = self.commits + len(names)
        c0 = cpu_s()
        t0 = time.perf_counter()
        for name in names:
            os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
        self.query.processAllAvailable()
        cpu = cpu_s() - c0
        if self.commits != target:
            raise RuntimeError(f"{self.commits} commits, expected {target}")
        return self.last_commit - t0, cpu

    def warm_up(self) -> None:
        """Start the query on one untimed batch."""
        names = self._stage(1)
        stream = (
            self.spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = (
            stream.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", os.path.join(self.root, "checkpoint"))
            .start()
        )
        self._land_and_wait(names)

    def timed(self, seconds: float) -> dict:
        """Units of ``N_BATCHES`` landed files until ``seconds`` have
        passed (at least one); wall and CPU seconds per unit and the
        progress of the timed triggers."""
        first = max(p.batchId for p in self.query.recentProgress if p.numInputRows > 0)
        walls, cpus = [], []
        while not walls or sum(walls) < seconds:
            names = self._stage(N_BATCHES)  # generation stays untimed
            wall, cpu = self._land_and_wait(names)
            walls.append(wall)
            cpus.append(cpu)
        self.query.stop()
        progress = [
            p for p in self.query.recentProgress
            if p.batchId > first and p.numInputRows > 0
        ]
        return {
            "walls": walls,
            "cpus": cpus,
            "triggers": [p.durationMs for p in progress],
            "rows": sum(p.numInputRows for p in progress),
        }

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def read_changelog(self) -> tuple[float, list]:
        """Drain the latest table's whole changelog into a memory sink."""
        name = f"perfbench_cdc_{abs(hash(self.root))}"
        t0 = time.perf_counter()
        q = (
            self.latest.changelog_stream(max_files_per_trigger=None)
            .writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", os.path.join(self.root, "cdc_checkpoint"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        secs = time.perf_counter() - t0
        rows = self.spark.table(name).select("key", "value", "version").collect()
        self.spark.catalog.dropTempView(name)
        return secs, rows

    def check(self, changelog: list) -> list[str]:
        """Names of the checks that failed against the reference of every
        batch landed."""
        ref = reference(self.batches)
        failed = []
        latest = {r["key"]: r["value"] for r in self.latest.snapshot().collect()}
        if latest != ref["latest"]:
            failed.append("latest value per user")
        dupes = {r["key"]: r["value"] for r in self.dupes.snapshot().collect()}
        if dupes != ref["dupes"]:
            failed.append("duplicate set")
        pairs = {_pair_of(r["key"]) for r in self.pairs.snapshot().collect()}
        if pairs != ref["pairs"]:
            failed.append("near-duplicate pairs")
        newest: dict[str, tuple[int, str]] = {}
        for r in changelog:
            if r["key"] not in newest or newest[r["key"]][0] < r["version"]:
                newest[r["key"]] = (r["version"], r["value"])
        if (
            len(changelog) != ref["changelog_rows"]
            or {k: v for k, (_, v) in newest.items()} != ref["latest"]
        ):
            failed.append("changelog")
        return failed


# -- the workload ---------------------------------------------------------------


class StreamRun:
    CHECKS = 4  # latest, duplicates, pairs, changelog

    def __init__(self, env, seed: int, seconds: int, log, t_start: float):
        self.env = env
        self.seed = seed
        self.seconds = seconds
        self.log = log
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.drains = 0

    def drain(self, stats: bool = False, sink_wrap=None, on_timed=None) -> tuple[Drain, dict]:
        """One checked drain on fresh tables; returns the drain and its
        timings (``cdc_s`` included). ``on_timed`` is called just before
        the first timed unit."""
        self.drains += 1
        d = Drain(
            self.env.spark, self.env.path(f"drain-{self.drains}"), self.seed, stats, sink_wrap
        )
        try:
            d.warm_up()
            if on_timed is not None:
                on_timed()
            out = d.timed(self.seconds)
            out["cdc_s"], changelog = d.read_changelog()
        except Exception as exc:  # noqa: BLE001 - counted as failed
            n = max(len(d.batches), 1) + self.CHECKS
            self.attempted += n
            self.failed += n
            self.log(f"stream: drain failed: {type(exc).__name__}: {str(exc)[:500]}")
            raise
        finally:
            d.stop()
        self.attempted += len(d.batches) + self.CHECKS
        bad = d.check(changelog)
        for name in bad:
            self.log(f"stream: wrong {name}")
        self.failed += len(bad)
        self.log(f"stream: units {out['walls']}, cpu {out['cpus']}, triggers {[t['triggerExecution'] for t in out['triggers']]}")
        return d, out

    def measure(self) -> tuple[dict[str, float], dict[str, float]]:
        self.env.start_session()
        marks = {}
        rss = PeakRss(self.env.spark)

        def on_timed():
            marks["setup_s"] = time.perf_counter() - self.t_start
            rss.__enter__()

        try:
            _, out = self.drain(on_timed=on_timed)
        finally:
            if marks:
                rss.__exit__()
        metrics = {
            "setup_s": marks["setup_s"],
            "cpu_s": median(out["cpus"]),
            "peak_rss_mb": rss.peak_mb,
        }
        detail = {
            "total_s": median(out["walls"]),
            "rows_per_s": out["rows"] / sum(out["walls"]),
            "batch_s_p50": median(t["triggerExecution"] for t in out["triggers"]) / 1e3,
            "cdc_s": out["cdc_s"],
        }
        return metrics, detail

    def trace(self) -> dict[str, float]:
        import tracing as T
        from slipstream_async_spark.operators import dedup
        from slipstream_async_spark.streaming import state
        from slipstream_async_spark.streaming.neardup_index import NearDupPrefixIndex

        t0 = time.perf_counter()
        self.env.start_session(cores=1)
        start_s = time.perf_counter() - t0
        # the single-threaded baseline goes first: it pays the process's
        # cold start, so the untraced and traced drains, whose difference
        # is the tracing overhead, both run on a warm JVM
        _, one = self.drain()
        self.env.start_session()
        _, untraced = self.drain()

        self.env.start_session(event_log=True)
        log_dir = self.env.event_log_dir
        with T.Tracer(self.env.spark.sparkContext, f"stream-{self.seed}") as tr:
            tr.wrap_method(
                state.StateTable, "upsert", "state.upsert",
                after=lambda args, _: {"rows": args[0].last_commit_rows},
            )
            tr.wrap_module(state, "state", ["upsert_group"])
            for m in ("probe", "freeze_order_from", "prefix_rows", "sets_of"):
                tr.wrap_method(NearDupPrefixIndex, m, f"neardup_index.{m}")
            tr.wrap_module(dedup, "dedup")

            def traced_sink(d):
                d.bloom_sink = T.wrap(d.bloom_sink, "dedup_flow.bloom_sink")
                d.neardup_sink = T.wrap(d.neardup_sink, "dedup_flow.neardup_sink")
                return T.wrap(d.sink, "stream.trigger")

            d, traced = self.drain(stats=True, sink_wrap=traced_sink)
            spans = tr.spans
        state_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(d.root)
            if "checkpoint" not in dp and "source" not in dp
            for f in fs
        )
        versions = sum(t.version + 1 for t in d.tables)
        self.env.stop_session()
        jobs = T.read_event_log(log_dir)
        T.attribute_jobs(spans, jobs)

        out = stream_layers(spans, jobs, traced, d)
        out.update({
            "session.start_s": start_s,
            "trace.overhead_s": sum(traced["walls"]) - sum(untraced["walls"]),
            "state.bytes": state_bytes,
            "state.versions": versions,
            "baseline_1core.total_s": median(one["walls"]),
            "baseline_1core.batch_s_p50": median(
                t["triggerExecution"] for t in one["triggers"]
            ) / 1e3,
        })
        return out


NEARDUP_TIMING = (
    "t_prep", "t_bucket_collect", "t_guard", "t_probe_build",
    "t_pairs_commit", "t_commit_wait", "t_corpus_commit", "t_group_commit",
)


def stream_layers(spans, jobs, traced: dict, d: Drain) -> dict[str, float]:
    """Per-layer metrics of the traced drain. The first ``stream.trigger``
    span is the warm-up trigger: its near-dup sink time is the index
    bootstrap, and the per-trigger figures leave it out."""
    import tracing as T

    triggers = sorted(s["start"] for s in spans if s["name"] == "stream.trigger")
    timed_from = triggers[1] if len(triggers) > 1 else float("inf")
    bootstrap = [
        s["end"] - s["start"] for s in spans
        if s["name"] == "dedup_flow.neardup_sink" and s["start"] < timed_from
    ]

    def durs(name):
        """Durations of the spans called ``name`` in the timed triggers."""
        return [
            s["end"] - s["start"] for s in spans
            if s["name"] == name and s["end"] and s["start"] >= timed_from
        ]

    out: dict[str, float] = {}
    for key, field in (
        ("add_batch", "addBatch"), ("planning", "queryPlanning"),
        ("wal_commit", "walCommit"), ("latest_offset", "latestOffset"),
    ):
        out[f"trigger.{key}_s"] = median(t.get(field, 0) for t in traced["triggers"]) / 1e3
    upserts = durs("state.upsert")
    out["state.upsert_s_p50"] = median(upserts)
    out["state.upsert_s_max"] = max(upserts, default=0.0)
    out["state.commit_rows"] = sum(
        s["attrs"].get("rows", 0) for s in spans if s["name"] == "state.upsert"
    )
    out["state.changelog_read_s"] = traced["cdc_s"]
    out["dedup_flow.sink_s"] = median(durs("dedup_flow.bloom_sink"))
    gate = d.bloom_stats or []
    n_batch = sum(s["n_batch"] for s in gate)
    out["dedup_flow.gate_maybe_rate"] = (
        sum(s["n_maybe"] for s in gate) / n_batch if n_batch else 0.0
    )
    neardup = durs("dedup_flow.neardup_sink")
    out["dedup_flow.neardup_sink_s"] = median(neardup)
    stats = (d.neardup_stats or [])[1:]
    for key in NEARDUP_TIMING:
        out[f"dedup_flow.neardup_{key}_s"] = median(
            s["timing"].get(key, 0.0) for s in stats
        )
    cands = sum(s.get("n_candidates") or 0 for s in stats)
    pairs = sum(s.get("n_pairs") or 0 for s in stats)
    out["neardup_index.candidates"] = cands
    out["neardup_index.pairs"] = pairs
    out["neardup_index.pairs_per_candidate"] = pairs / cands if cands else 0.0
    out["neardup_index.postings_rows_scanned"] = sum(
        s.get("postings_rows_scanned") or 0 for s in stats
    )
    out["neardup_index.bootstrap_s"] = sum(bootstrap)
    for layer in ("dedup", "state", "dedup_flow", "neardup_index"):
        work = T.spark_work(jobs, {s["id"] for s in spans if T.layer_of(s["name"]) == layer})
        out[f"{layer}.jobs"] = work["jobs"]
        for f in T.SPARK_FIELDS:
            out[f"{layer}.{f}"] = work[f]
    for layer, secs in T.self_times(spans).items():
        out[f"self_s.{layer}"] = secs
    return out
