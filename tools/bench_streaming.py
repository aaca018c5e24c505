"""Measured Structured-Streaming throughput at sf0.1 — the data point
behind the "Structured Streaming + stateful ops" claim (the streaming
surface is otherwise verified on micro-fixtures).

Two flows over the sf0.1 events table (~hundreds of thousands of rows),
split into N_CHUNKS parquet files and streamed with maxFilesPerTrigger=1
so the run exercises real micro-batch cadence, watermark advancement,
and state growth — not one giant batch:

1. ``windowed_agg`` — watermarked hourly tumbling count per event type
   (pure JVM stateful aggregation, the 100 TB scale path).
2. ``bloom_dedup`` — the bloom-gated exact-dedup foreachBatch sink
   (StateTable-backed persistent bitmap + fingerprint table), fed
   (event_id, props) as the doc stream.

Prints ONE JSON line and writes it to BENCH_STREAMING.json:
{"flows": {name: {rows, secs, rows_per_sec, ...}}, "sf": ..., ...}

Usage: PYTHONPATH=/root/repo python tools/bench_streaming.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CHUNKS = 8


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from pyspark.sql import functions as F

    from slipstream_async_spark.session import get_spark
    from slipstream_async_spark.sources.readers import load_table

    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="bench_stream_")
    src = os.path.join(work, "events")
    events = load_table(spark, sf_dir, "events").withColumn(
        # watermarks require TIMESTAMP; the testdata loads as NTZ
        "ts", F.col("ts").cast("timestamp")
    )
    n_rows = events.count()
    # N_CHUNKS files -> N_CHUNKS micro-batches under maxFilesPerTrigger=1
    events.repartition(N_CHUNKS).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    flows: dict[str, dict] = {}

    # -- flow 1: watermarked tumbling window aggregation (JVM state) --
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    t0 = time.time()
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("bench_windowed")
        .option("checkpointLocation", os.path.join(work, "ck1"))
        .start()
    )
    q.processAllAvailable()
    secs = round(time.time() - t0, 3)
    n_groups = spark.sql("SELECT COUNT(*) AS n FROM bench_windowed").first()["n"]
    n_batches = len(q.recentProgress)
    q.stop()
    flows["windowed_agg"] = {
        "rows": n_rows,
        "secs": secs,
        "rows_per_sec": round(n_rows / secs, 1),
        "micro_batches": n_batches,
        "out_groups": int(n_groups),
    }

    # -- flow 1b: watermarked SESSION window aggregation (A6, JVM
    # state with dynamic-gap merging — the stateful operator whose
    # batch twin is events_session_stats) --
    stream_s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = (
        stream_s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    t0 = time.time()
    qs = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("bench_sessions")
        .option("checkpointLocation", os.path.join(work, "ck1b"))
        .start()
    )
    qs.processAllAvailable()
    secs_s = round(time.time() - t0, 3)
    n_sessions = spark.sql(
        "SELECT COUNT(*) AS n FROM bench_sessions"
    ).first()["n"]
    n_batches_s = len(qs.recentProgress)
    qs.stop()
    flows["session_window_agg"] = {
        "rows": n_rows,
        "secs": secs_s,
        "rows_per_sec": round(n_rows / secs_s, 1),
        "micro_batches": n_batches_s,
        # append mode only emits sessions CLOSED by the watermark, so
        # this undercounts the batch twin's total by the tail sessions
        "closed_sessions": int(n_sessions),
    }

    # -- flow 2: bloom-gated exact dedup sink (StateTable state) --
    from slipstream_async_spark.streaming.dedup_flow import (
        bloom_gated_exact_dedup_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            F.col("event_id").alias("doc_id"),
            F.col("props").alias("text"),
        )
    )
    fps = StateTable(spark, os.path.join(work, "st_fps"))
    bloom = StateTable(spark, os.path.join(work, "st_bloom"))
    dupes = StateTable(spark, os.path.join(work, "st_dupes"))
    stats: list = []
    sink = bloom_gated_exact_dedup_sink(
        fps, bloom, dupes, text_col="text", id_col="doc_id", stats=stats
    )
    t0 = time.time()
    q2 = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "ck2"))
        .start()
    )
    q2.processAllAvailable()
    secs2 = round(time.time() - t0, 3)
    q2.stop()
    n_dupes = dupes.snapshot().count()
    flows["bloom_dedup"] = {
        "rows": n_rows,
        "secs": secs2,
        "rows_per_sec": round(n_rows / secs2, 1),
        "micro_batches": len(stats),
        "dupes_found": int(n_dupes),
        "gate_epochs": stats,
    }

    # -- flow 3: COMPOSED pipeline — source -> watermarked session
    # windows -> bloom-gated dedup sink over the closed sessions ->
    # changelog CDC read-back (the reference's correction-pipeline
    # composition, one measured end-to-end flow instead of three
    # isolated stages) --
    stream_c = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess_docs = (
        stream_c.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.length("props")).alias("payload_chars"),
        )
    )
    fps_c = StateTable(spark, os.path.join(work, "c_fps"))
    bloom_c = StateTable(spark, os.path.join(work, "c_bloom"))
    dupes_c = StateTable(spark, os.path.join(work, "c_dupes"))
    stats_c: list = []
    inner_sink = bloom_gated_exact_dedup_sink(
        fps_c, bloom_c, dupes_c, text_col="text", id_col="doc_id",
        stats=stats_c,
    )

    def composed_sink(batch_df, epoch_id):
        # closed sessions become documents: id = user|session-start,
        # content = the session's aggregate payload (identical session
        # shapes across users/replays dedup to one canonical)
        docs_b = batch_df.select(
            F.concat_ws(
                "|", "user_id", F.col("session_window.start").cast("string")
            ).alias("doc_id"),
            F.to_json(F.struct("n_events", "payload_chars")).alias("text"),
        )
        inner_sink(docs_b, epoch_id)

    t0 = time.time()
    q3 = (
        sess_docs.writeStream.outputMode("append")
        .foreachBatch(composed_sink)
        .option("checkpointLocation", os.path.join(work, "ck3"))
        .start()
    )
    q3.processAllAvailable()
    # CDC read-back: a downstream streaming query reacts to the dedup
    # verdicts (catch-up mode: drain the whole changelog)
    q4 = (
        dupes_c.changelog_stream(max_files_per_trigger=None)
        .writeStream.format("memory")
        .queryName("bench_cdc")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ck4"))
        .start()
    )
    q4.processAllAvailable()
    secs3 = round(time.time() - t0, 3)
    n_cdc = spark.sql("SELECT COUNT(*) AS n FROM bench_cdc").first()["n"]
    n_sess_docs = int(fps_c.snapshot().count() + dupes_c.snapshot().count())
    q3.stop()
    q4.stop()
    flows["composed_session_dedup_cdc"] = {
        "rows": n_rows,
        "secs": secs3,
        "rows_per_sec": round(n_rows / secs3, 1),
        "micro_batches": len(stats_c),
        "closed_sessions": n_sess_docs,
        "cdc_events_read_back": int(n_cdc),
    }

    # -- flow 4: streaming ANN enrichment — query vectors probe a
    # MATERIALIZED IVF index (write-once/probe-many read path), results
    # land in a StateTable --
    from slipstream_async_spark.operators.similarity import ivf_index_write
    from slipstream_async_spark.sources.readers import load_table as _lt
    from slipstream_async_spark.streaming.ann_flow import ann_enrich_sink

    emb = _lt(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    index_path = os.path.join(work, "ann_index")
    ivf_index_write(emb, index_path, n_lists=16)

    # Per-row probe flows are dominated by per-trigger FIXED cost at
    # small batches, so a single rows/s number conflates scheduling
    # overhead with actual probe work. Run at two granularities and
    # solve secs = fixed*batches + marginal*rows: the marginal rate is
    # what scales with data volume; the fixed cost amortizes away as
    # batches grow (at production batch sizes throughput approaches
    # 1/marginal).
    def _ann_run(n_chunks: int, tag: str) -> dict:
        q_src = os.path.join(work, f"ann_queries_{tag}")
        emb.select(
            F.col("vec_id").alias("query_id"), "embedding"
        ).repartition(n_chunks).write.mode("overwrite").parquet(q_src)
        q_schema = spark.read.parquet(q_src).schema
        res = StateTable(spark, os.path.join(work, f"ann_results_{tag}"))
        sink = ann_enrich_sink(index_path, res, k=5, n_probe=4)
        t0 = time.time()
        q = (
            spark.readStream.schema(q_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(q_src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, f"ck5{tag}"))
            .start()
        )
        q.processAllAvailable()
        secs = round(time.time() - t0, 3)
        n_enriched = res.snapshot().count()
        q.stop()
        return {
            "secs": secs,
            "micro_batches": len(q.recentProgress),
            "queries_enriched": int(n_enriched),
        }

    fine = _ann_run(N_CHUNKS, "a")
    coarse = _ann_run(2, "b")
    db = fine["micro_batches"] - coarse["micro_batches"]
    fixed = (
        round((fine["secs"] - coarse["secs"]) / db, 3) if db > 0 else None
    )
    marginal = (
        round(coarse["secs"] - fixed * coarse["micro_batches"], 3)
        if fixed is not None
        else None
    )
    flows["ann_ivf_enrich"] = {
        "rows": int(n_vecs),
        "secs": fine["secs"],
        "rows_per_sec": round(n_vecs / fine["secs"], 1),
        "micro_batches": fine["micro_batches"],
        "queries_enriched": fine["queries_enriched"],
        "coarse_secs_2_batches": coarse["secs"],
        "fixed_secs_per_trigger": fixed,
        "marginal_rows_per_sec": (
            round(n_vecs / marginal, 1)
            if marginal is not None and marginal > 0
            else None
        ),
    }

    # -- flow 5: incremental NEAR-dup dedup — each micro-batch is
    # probed against the PERSISTENT standing prefix index
    # (NearDupPrefixIndex postings StateTable, bucket-pruned reads) and
    # appended to it: per-trigger work is O(|batch| + candidates),
    # independent of standing-corpus size (r10's rebuild-per-trigger
    # sink was O(|corpus|)/trigger — the named scale-killer) --
    from slipstream_async_spark.streaming.dedup_flow import (
        indexed_incremental_dedup_sink,
    )
    from slipstream_async_spark.streaming.neardup_index import (
        NearDupPrefixIndex,
    )

    docs_tbl = _lt(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text")
    )
    n_docs = docs_tbl.count()

    def _dedup_run(n_chunks: int, tag: str) -> dict:
        d_src = os.path.join(work, f"inc_docs_{tag}")
        docs_tbl.repartition(n_chunks).write.mode("overwrite").parquet(d_src)
        d_schema = spark.read.parquet(d_src).schema
        corpus = StateTable(spark, os.path.join(work, f"inc_corpus_{tag}"))
        pairs = StateTable(spark, os.path.join(work, f"inc_pairs_{tag}"))
        index = NearDupPrefixIndex(
            spark, os.path.join(work, f"inc_index_{tag}"), threshold=0.5
        )
        sink = indexed_incremental_dedup_sink(corpus, pairs, index)
        t0 = time.time()
        q = (
            spark.readStream.schema(d_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d_src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, f"ck6{tag}"))
            .start()
        )
        q.processAllAvailable()
        secs = round(time.time() - t0, 3)
        n_pairs = pairs.snapshot().count()
        q.stop()
        return {
            "secs": secs,
            "micro_batches": len(q.recentProgress),
            "pairs_found": int(n_pairs),
        }

    fine6 = _dedup_run(N_CHUNKS, "a")
    coarse6 = _dedup_run(2, "b")
    db6 = fine6["micro_batches"] - coarse6["micro_batches"]
    fixed6 = (
        round((fine6["secs"] - coarse6["secs"]) / db6, 3) if db6 > 0 else None
    )
    marginal6 = (
        round(coarse6["secs"] - fixed6 * coarse6["micro_batches"], 3)
        if fixed6 is not None
        else None
    )
    # grown-corpus flatness: identical-shaped probe epochs against the
    # sf corpus and against a 10x corpus (the extra 9x lives in a
    # DISJOINT shingle space — every token salted — so candidate mass
    # stays constant and the measurement isolates what standing-state
    # SIZE does to a trigger). The persistent index must stay flat.
    def _salted(c: int) -> DataFrame:
        return docs_tbl.select(
            F.concat(F.lit(f"c{c}-"), F.col("doc_id")).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(F.lit(f"x{c}"), t),
                ),
                " ",
            ).alias("text"),
        )

    def _flatness(tag: str, n_buckets: int | None = None) -> dict:
        # min-of-2 probe epochs per corpus size: a one-shot trigger
        # timing is hostage to co-tenant bursts; the min of two
        # identical-shaped epochs is the comparable number
        rows = docs_tbl.collect()
        probe_n = min(100, max(len(rows) // 16, 1))
        seed = rows[: len(rows) - 4 * probe_n]
        cut = len(rows) - 4 * probe_n
        probes = [
            rows[cut + i * probe_n : cut + (i + 1) * probe_n]
            for i in range(4)
        ]
        grow = _salted(1)
        for c in range(2, 10):
            grow = grow.unionByName(_salted(c))
        corpus = StateTable(spark, os.path.join(work, f"flat_c_{tag}"))
        pairs = StateTable(spark, os.path.join(work, f"flat_p_{tag}"))
        stats: list = []
        index = NearDupPrefixIndex(
            spark,
            os.path.join(work, f"flat_i_{tag}"),
            threshold=0.5,
            n_buckets=n_buckets,
        )
        sink = indexed_incremental_dedup_sink(
            corpus, pairs, index, stats=stats
        )
        mk = lambda r: spark.createDataFrame(r, docs_tbl.schema)  # noqa: E731

        def timed(epoch: int, batch_rows) -> float:
            t0 = time.time()
            sink(mk(batch_rows), epoch)
            return round(time.time() - t0, 3)

        sink(mk(seed), 0)
        small = min(timed(1, probes[0]), timed(2, probes[1]))
        sink(grow, 3)  # grow the standing corpus ~10x
        large = min(timed(4, probes[2]), timed(5, probes[3]))
        out = {
            "probe_batch_rows": probe_n,
            "probe_secs_small_corpus": small,
            "probe_secs_10x_corpus": large,
            "grown_corpus_ratio": (
                round(large / small, 3) if small > 0 else None
            ),
            "pairs_found": int(pairs.snapshot().count()),
        }
        # growth ATTRIBUTION (r11 VERDICT #4): postings rows the
        # bucket-pruned probe physically scanned, per epoch, from
        # commit footers — separates inherent growth (the real
        # corpus shares shingle space, so probed buckets gain
        # postings as the corpus grows) from fixable overhead.
        # Epochs 1/2 probe the small corpus, 4/5 the 10x one.
        scanned = {
            s["epoch"]: s.get("postings_rows_scanned") for s in stats
        }
        out["postings_rows_scanned_small"] = min(
            (scanned.get(e) for e in (1, 2)), key=lambda v: v or 0
        )
        out["postings_rows_scanned_10x"] = min(
            (scanned.get(e) for e in (4, 5)), key=lambda v: v or 0
        )
        out["n_buckets"] = index.postings.n_buckets
        return out

    flat_indexed = _flatness("idx")
    # the same indexed measurement at 8x the postings buckets (default
    # is 64): if the grown-corpus ratio / scanned-rows drop, the
    # residual growth was bucket-pruning granularity (fixable by
    # sizing n_buckets up); if they hold, a 100-doc probe's shingle
    # set already touches every bucket and the growth is inherent
    # postings volume in the probed shingle space — pruning re-engages
    # only when |batch shingles| << n_buckets
    flat_indexed_512 = _flatness("idx512", n_buckets=512)

    flows["incremental_near_dup"] = {
        "rows": int(n_docs),
        "secs": fine6["secs"],
        "rows_per_sec": round(n_docs / fine6["secs"], 1),
        "micro_batches": fine6["micro_batches"],
        "pairs_found": fine6["pairs_found"],
        "coarse_secs_2_batches": coarse6["secs"],
        "fixed_secs_per_trigger": fixed6,
        "marginal_rows_per_sec": (
            round(n_docs / marginal6, 1)
            if marginal6 is not None and marginal6 > 0
            else None
        ),
        "flatness_indexed": flat_indexed,
        "flatness_indexed_512buckets": flat_indexed_512,
    }

    # -- flow 5b: the refresh dial's VALUE on a vocabulary-drifted
    # stream (r11 VERDICT #7). The frozen hot-shingle order bootstraps
    # from epoch 0's vocabulary; epochs 2+ deliver documents whose
    # token space is DISJOINT (every token re-salted), so the frozen
    # hot set covers none of their Zipf head and prefixes degrade
    # toward md5 order — candidates blow up (correctness holds; cost
    # doesn't). refresh_factor=2.0 re-freezes the order once the
    # corpus has doubled past the freeze point, adopting the drifted
    # head. The comparison number is candidate mass on the post-drift
    # epochs, same data both runs. --
    def _drift_run(refresh_factor: float | None, tag: str) -> dict:
        rows = [
            (str(r["doc_id"]), r["text"] or "")
            for r in docs_tbl.limit(1200).collect()
        ]
        mk = lambda r: spark.createDataFrame(  # noqa: E731
            r, "doc_id string, text string"
        )

        def drifted(batch):
            # one shared salt: the drifted docs form ONE new vocabulary
            # whose Zipf head is common across epochs — exactly what a
            # stale hot set fails to demote out of prefixes
            return [
                (f"d-{i}", " ".join(f"zqx{t}" for t in text.split(" ")))
                for i, text in batch
            ]

        corpus = StateTable(spark, os.path.join(work, f"dr_c_{tag}"))
        pairs = StateTable(spark, os.path.join(work, f"dr_p_{tag}"))
        index = NearDupPrefixIndex(
            spark, os.path.join(work, f"dr_i_{tag}"), threshold=0.5
        )
        stats: list = []
        sink = indexed_incremental_dedup_sink(
            corpus, pairs, index,
            refresh_factor=refresh_factor, stats=stats,
        )
        t0 = time.time()
        # epoch 0 freezes the order from the ORIGINAL vocabulary
        # (baseline 200 rows); epoch 1 lands 800 drifted-vocabulary
        # docs, pushing the corpus to 5x the freeze baseline — so
        # factor=2.0 re-freezes at epoch 2, BEFORE the probe epochs,
        # while factor=None keeps probing on the stale order. Probe
        # epochs 2-5 are drifted docs with FRESH ids (no redelivery).
        sink(mk(rows[:200]), 0)
        sink(mk(drifted(rows[:800])), 1)
        for e in range(2, 6):
            lo = 800 + (e - 2) * 100
            sink(mk(drifted(rows[lo: lo + 100])), e)
        post = [s for s in stats if s["epoch"] >= 2]
        return {
            "secs": round(time.time() - t0, 3),
            "refresh_factor": refresh_factor,
            "post_drift_candidates": sum(
                s.get("n_candidates") or 0 for s in post
            ),
            "candidates_by_epoch": {
                str(s["epoch"]): s.get("n_candidates") for s in stats
            },
            "pairs_found": int(pairs.snapshot().count()),
        }

    drift_stale = _drift_run(None, "n")
    drift_refresh = _drift_run(2.0, "r")
    flows["neardup_drift_refresh"] = {
        "frozen_order_stale": drift_stale,
        "refresh_factor_2": drift_refresh,
        "candidate_reduction": (
            round(
                drift_stale["post_drift_candidates"]
                / drift_refresh["post_drift_candidates"],
                2,
            )
            if drift_refresh["post_drift_candidates"]
            else None
        ),
    }

    payload = {
        "metric": "streaming_throughput",
        "unit": "rows/sec",
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "flows": flows,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_STREAMING.json",
    )
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
