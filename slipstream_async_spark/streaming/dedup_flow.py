"""Streaming dedup sinks: the nightly-ingest dedup story as actual
streaming queries.

Reference parity: the cookbook's cache-update-stream pattern
(docs/source/cookbook.rst:522-588) — a handler consumes a stream, looks
each arrival up against a standing RocksDB cache, emits what it learns,
and folds the arrival back into the cache for the next event. Here the
micro-batch is the unit instead of the single event, and the standing
cache is a :class:`~slipstream_async_spark.streaming.state.StateTable`.
Two sinks:

- :func:`indexed_incremental_dedup_sink` (near-dup): each arriving
  micro-batch probes a persistent
  :class:`~slipstream_async_spark.streaming.neardup_index.
  NearDupPrefixIndex` (bucket-pruned postings read + verification
  against stored shingle-hash arrays: batch x corpus and batch x batch
  pairs only — the corpus is never re-paired against itself, nor
  re-read or re-shingled). Discovered pairs land in a pairs StateTable
  (key ``len(id_a)|id_a|id_b`` — length-prefixed so ids containing the
  separator cannot collide; value jaccard), the operator's
  continuously-growing output; the batch's documents are then folded
  into the corpus table and the index, so the NEXT micro-batch dedups
  against them.
- :func:`bloom_gated_exact_dedup_sink` (exact): a persistent Bloom
  bitmap gates the standing fingerprint table, the reference cache's
  ``key_may_exist``-before-``get``.

Exactly-once: foreachBatch is at-least-once per epoch; every sink here
commits through the epoch fence all StateTable sinks share
(``state._EpochFence``), so a replayed epoch re-runs only the commits
that did not land. The writes are also idempotent upserts keyed
deterministically (same pair key -> same jaccard; same doc key -> same
text), so even the re-run commits converge to the same state.

Scale: per micro-batch cost is O(|batch| + candidates), never
O(|corpus|); the standing state is the copy-on-write StateTable, which
at 100 TB is the Delta/Iceberg MERGE pattern (state.py module
docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slipstream_async_spark.functions.text import text_fingerprint
from slipstream_async_spark.operators.membership import (
    bitmap_rows,
    bloom_fpr,
    bloom_probe,
    read_bitmap,
    warn_bloom_saturation,
)
from slipstream_async_spark.streaming.state import StateTable, _EpochFence


def _pair_rows(found: DataFrame) -> DataFrame:
    """Verified pairs as pairs-table rows. The key is length-prefixed:
    a bare 'id_a|id_b' concat is ambiguous when an id itself contains
    '|' ('a|b'+'c' == 'a'+'b|c'), which would let two distinct pairs
    overwrite one row."""
    return found.select(
        F.concat(
            F.length("id_a").cast("string"),
            F.lit("|"),
            F.col("id_a"),
            F.lit("|"),
            F.col("id_b"),
        ).alias("key"),
        F.col("jaccard").cast("string").alias("value"),
    )


def indexed_incremental_dedup_sink(
    corpus: StateTable,
    pairs: StateTable,
    index,
    text_col: str = "text",
    id_col: str = "doc_id",
    query: str = "incremental_dedup",
    refresh_factor: float | None = None,
    stats: list | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function wiring a persistent
    :class:`~slipstream_async_spark.streaming.neardup_index.
    NearDupPrefixIndex` between a streaming source and two StateTables
    (standing corpus + pair output). Use with ``foreach_batch_sink`` on
    a ``Pipeline`` flow::

        p.handle(stream, sink=[foreach_batch_sink(
            indexed_incremental_dedup_sink(corpus, pairs, index))])

    The corpus-side prefix index is PERSISTED, never rebuilt from the
    standing snapshot — per-trigger Spark work is the batch's own
    shingling + a bucket-pruned postings probe + candidate
    verification, independent of standing-corpus size.
    ``k``/``threshold`` come from the index (they parameterize the
    persisted prefix rows). Document ids are carried as strings
    (StateTable keys are strings); pair ordering ``id_a < id_b`` is
    therefore string order, stable across replays.

    Four fenced tables per epoch — pairs, corpus docs, the index
    postings, and the index verification sets. The postings + sets
    appends fold into ONE write job (:func:`~slipstream_async_spark.
    streaming.state.upsert_group` — both are pure O(|batch|) appends
    under the same epoch), and that group runs concurrently with the
    corpus commit and the probe (the epoch pays max, not sum, of the
    latencies); under partial replay only the table whose commit was
    lost re-runs, and the probe anti-joins the batch's ids out of
    EVERY standing side (postings and stored sets), so a replayed
    epoch probes exactly the pre-epoch corpus and no pair is silently
    lost.

    **Cross-epoch redelivery:** the postings/sets tables are
    append-only with unique keys, so a doc_id re-delivered in a LATER
    epoch (e.g. updated text) must not append again — the old rows
    would never be superseded and probes would verify against stale
    hash arrays forever. The guard is FIRST-WRITE-WINS: redelivered ids
    are dropped from the batch (the standing version keeps producing
    pairs; the new text is ignored), counted in stats as
    ``n_redelivered``. Cost shape at scale: a persistent per-id bloom
    (``index.seen``, read driver-side with no job) gates the check —
    bloom misses (the unique-id common case) cost no extra job, as the
    probe rides the postings-bucket collect; only bloom hits pay a
    bucket-pruned exact read of the corpus, filtered to rows committed
    in STRICTLY EARLIER epochs (the corpus rows carry their commit
    epoch in attrs), which keeps the drop decision deterministic under
    partial replay — this epoch's own landed corpus commit never reads
    as a redelivery. The sink
    warns loudly when the bloom saturates (``seen_words`` too small
    for the corpus — see membership.warn_bloom_saturation); a refresh
    rebuilds the bloom at the instance's current ``seen_words`` (a
    seen table written at another size raises until then).

    ``stats``, if given, collects per-epoch accounting dicts (n_batch /
    n_prefix_rows / buckets_read / n_candidates / n_corpus_candidates /
    n_pairs / n_redelivered / seen_fpr) — the candidate-count numbers
    that say whether the frozen order is still tight for this corpus
    (the refresh dial). Most come free from commit footers; skipped
    entirely on the production hot path when ``stats`` is None."""
    fence = _EpochFence(
        query,
        {
            "pairs": pairs,
            "corpus": corpus,
            "postings": index.postings,
            "sets": index.sets,
            "seen": index.seen,
        },
    )
    # standing-key estimate for the saturation warning: one parquet-
    # footer walk at start, then incremented from commit accounting —
    # footer_rows every epoch would re-open O(buckets x chain) files
    sat = {}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from time import monotonic

        timing: dict[str, float] = {}
        _t0 = monotonic()

        def _mark(name: str) -> None:
            # wall time since the previous mark — per-epoch cost
            # anatomy, surfaced through ``stats`` (negligible when off)
            nonlocal _t0
            now = monotonic()
            timing[name] = round(now - _t0, 3)
            _t0 = now

        e = int(epoch_id)
        todo = fence.pending(e)
        if not todo:
            return  # fully-committed epoch replayed — nothing to do
        raw = (
            batch_df.select(
                F.col(id_col).cast("string").alias(id_col), F.col(text_col)
            )
            .dropDuplicates([id_col])
            .cache()
        )
        batch = raw
        n_redelivered = 0

        def find_redelivered(hits, hit_buckets):
            """Cross-epoch redelivery guard, rare path (see docstring):
            bloom hits pay a bucket-pruned exact corpus read filtered
            to rows committed in STRICTLY EARLIER epochs — this epoch's
            own landed corpus commit (partial replay) must never read
            as a redelivery, or the replayed postings/sets appends
            would drop the whole batch and lose it forever. Returns
            the redelivered-ids frame, or None (bloom false positives
            resolve here: one more small job, whose count doubles as
            the cache materializer)."""
            prior = corpus.read_buckets(hit_buckets).filter(
                F.coalesce(
                    F.col("attrs").getItem("e").cast("long"), F.lit(-1)
                )
                < F.lit(e)
            )
            redelivered = (
                prior.select(F.col("key").alias(id_col))
                .join(F.broadcast(hits), id_col, "left_semi")
                .persist()
            )
            if redelivered.count() == 0:
                redelivered.unpersist()
                return None
            return redelivered

        try:
            # batch_sets is a narrow projection over the CACHED batch —
            # recomputing it per use is cheaper than materializing it;
            # bp is reused three ways (probe side, self-index union,
            # postings append) plus a bucket-id collect: materialize it
            # once (batch-sized by construction)
            batch_sets = index.sets_of(batch, text_col, id_col)
            if index.order.version < 0:
                # first-ever delivery: bootstrap the frozen hot-shingle
                # order from this batch (deterministic, so a replayed
                # epoch 0 freezes the identical set and the skip below
                # is consistent). Without a hot set the md5 order lets
                # Zipf-head shingles into prefixes and candidates
                # explode — see NearDupPrefixIndex.freeze_order_from.
                index.freeze_order_from(batch_sets)
            elif refresh_factor is not None:
                # opt-in geometric-cadence auto-refresh: re-freeze the
                # order and rebuild the index when the standing corpus
                # has grown refresh_factor-fold since the last freeze.
                # A stale order stays CORRECT at any staleness (prefix
                # completeness needs only consistency — tested), it
                # just bloats candidates when the corpus VOCABULARY
                # drifts away from the frozen head; for stationary
                # corpora the first-batch bootstrap already captures
                # the Zipf head and rebuilds are pure cost (measured),
                # hence opt-in. The no-op check is a driver-side footer
                # read; a refresh is O(|corpus|), amortized O(1) per
                # ingested doc by the geometric cadence.
                index.maybe_refresh(
                    corpus.snapshot().select(
                        F.col("key").alias(id_col),
                        F.col("value").alias(text_col),
                    ),
                    text_col=text_col,
                    id_col=id_col,
                    factor=refresh_factor,
                )
            # persist, not localCheckpoint: the combined bucket collect
            # below materializes the cache BEFORE the concurrent
            # consumers fork (or each would race to compute the same
            # window), and every reuse (probe side, self-index union,
            # postings append) reads the same cached rows.
            bp = index.prefix_rows(batch_sets, id_col).persist()
            # ONE bounded collect serves both the probe's postings
            # buckets AND the redelivery guard's bloom-hit corpus
            # buckets (the bitmap probe unioned into the same
            # distinct) — on the unique-id common path the guard costs
            # zero extra jobs. Result size <= postings.n_buckets +
            # corpus.n_buckets. The bitmap is read driver-side (no
            # job) and the probe is a projection fused into the
            # collect's scan stage; raw ids are already unique
            # (dropDuplicates above), so the per-row verdict IS the
            # hit-key set.
            seen = read_bitmap(
                index.seen,
                index.seen_words,
                rebuild="index.refresh(<the corpus documents>)",
            )
            hits = (
                bloom_probe(raw.select(id_col), id_col, seen)
                .filter(F.col("bloom_hit"))
                .select(id_col)
            )
            pb = bp.select(
                F.lit("p").alias("_t"),
                index.postings.bucket_expr_for("s").alias("_b"),
            ).unionByName(
                hits.select(
                    F.lit("c").alias("_t"),
                    corpus.bucket_expr_for(id_col).alias("_b"),
                )
            )
            _mark("t_prep")
            tagged = pb.distinct().collect()
            _mark("t_bucket_collect")
            buckets = [r["_b"] for r in tagged if r["_t"] == "p"]
            hit_buckets = [r["_b"] for r in tagged if r["_t"] == "c"]
            if "keys" not in sat:
                sat["keys"] = index.sets.footer_rows()
            warn_bloom_saturation(
                sat["keys"],
                words=index.seen_words,
                context=f"indexed_incremental_dedup_sink({query!r})",
            )
            redelivered = (
                find_redelivered(hits, hit_buckets) if hit_buckets else None
            )
            if redelivered is not None:
                # rare path: rebuild the batch-side frames without the
                # redelivered ids (first-write-wins — see docstring)
                n_redelivered = redelivered.count()  # cached: no job
                bp.unpersist()
                batch = raw.join(
                    F.broadcast(redelivered), id_col, "left_anti"
                ).cache()
                batch_sets = index.sets_of(batch, text_col, id_col)
                bp = index.prefix_rows(batch_sets, id_col).persist()
                buckets = index.probe_buckets(bp)
                redelivered.unpersist()
            # corpus rows carry their commit epoch: the redelivery
            # guard's "strictly earlier epoch" predicate reads it, so a
            # partially-replayed epoch never mistakes its OWN landed
            # corpus commit for a redelivery (rows without the attr —
            # legacy / other sinks — read as earlier, which they are)
            doc_rows = batch.select(
                F.col(id_col).alias("key"),
                F.col(text_col).alias("value"),
                F.create_map(
                    F.lit("e"), F.lit(str(e))
                ).alias("attrs"),
            )
            # the corpus/postings/sets commits depend only on the
            # batch, not on the probe result — launch them CONCURRENTLY
            # with the probe (the epoch pays max, not sum). This
            # overlap is safe precisely because the probe anti-joins
            # the batch's ids out of EVERY standing side: whether a
            # commit lands before or after the probe's read resolves
            # its manifest, the probe sees the same pre-epoch frame.
            # The postings + sets appends — both pure O(|batch|) rows
            # under the same epoch — FOLD into one upsert_group write
            # job (per-trigger fixed cost is dominated by the number of
            # driver actions, and two commits here bought nothing over
            # one); under partial replay the group contains only the
            # tables whose commit was lost.
            group = {
                "postings": index.posting_rows(bp, id_col),
                "sets": index._hset_rows(batch_sets, id_col),
            }
            if "seen" in todo:
                group["seen"] = bitmap_rows(seen, batch, id_col)
            _mark("t_guard")
            with fence.overlap(
                e,
                {"corpus": doc_rows},
                group,
                timing=timing,
                labels=("t_corpus_commit", "t_group_commit"),
            ):
                probe_stats: dict | None = {} if stats is not None else None
                # the probe returns the verification plan LAZY over
                # persisted candidate frames: the pairs commit's write
                # job below materializes it, and a fenced replay that
                # skips the pairs commit skips verification entirely
                found = index.probe(
                    bp, batch_sets, id_col, buckets, stats=probe_stats
                )
                _mark("t_probe_build")
                fence.commit(e, {"pairs": _pair_rows(found)})
                _mark("t_pairs_commit")
            _mark("t_commit_wait")
            index.finish_probe()
            if "sets" in todo:
                sat["keys"] += index.sets.last_commit_rows
            if stats is not None:
                # footer-based accounting (no extra jobs beyond the
                # candidate counts inside probe, over cached frames);
                # None where a partial replay skipped that table's
                # commit
                stats.append(
                    {
                        "epoch": epoch_id,
                        "n_redelivered": n_redelivered,
                        "seen_fpr": round(
                            bloom_fpr(sat["keys"], words=index.seen_words), 6
                        ),
                        "n_batch": (
                            corpus.last_commit_rows
                            if "corpus" in todo
                            else None
                        ),
                        "n_prefix_rows": (
                            index.postings.last_commit_rows
                            if "postings" in todo
                            else None
                        ),
                        "n_pairs": (
                            pairs.last_commit_rows
                            if "pairs" in todo
                            else None
                        ),
                        "timing": dict(timing),
                        **(probe_stats or {}),
                    }
                )
            bp.unpersist()
        finally:
            if batch is not raw:
                batch.unpersist()
            raw.unpersist()

    return sink


def bloom_gated_exact_dedup_sink(
    fingerprints: StateTable,
    bloom_state: StateTable,
    dupes: StateTable,
    text_col: str = "text",
    id_col: str = "doc_id",
    words: int = 16,
    stats: list | None = None,
    query: str = "bloom_dedup",
) -> Callable[[DataFrame, int], None]:
    """Exact-dedup streaming sink with a persistent Bloom gate in front
    of the standing fingerprint table — the reference cache's
    key_may_exist-before-get pattern (RocksDB answers "might this key
    exist" from its bloom blocks before touching the SSTs) lifted to
    the micro-batch level: the bitmap itself lives in a StateTable
    (one row per word) and is bit_or-merged with each batch's bitmap,
    so the gate survives restarts with the rest of the state.

    Per batch:

    - batch fingerprints probe the STANDING bitmap; bloom misses are
      definitely-new and never touch the fingerprint table — only the
      (few) bloom hits join it. At a standing table of N fingerprints
      and a mostly-novel stream, that turns a |batch| x N join into an
      |FPR x batch| x N join.
    - bloom hits that exact-match become (doc_id -> canonical_id) rows
      in ``dupes``; survivors plus the definite-new docs register
      their fingerprints (first doc_id per fingerprint becomes
      canonical — the LEXICOGRAPHIC min of the string-cast id, since
      ids of any source type are carried as strings in the
      StateTable; for numeric ids "10" sorts before "9") and fold
      into the bitmap.
    - rows whose fingerprint is NULL (e.g. null text) carry no dedup
      signal and would otherwise vanish silently from BOTH bloom
      branches (NULL matches neither ``filter(hit)`` nor
      ``filter(~hit)``); they are dropped explicitly up front and
      counted in ``stats`` as ``n_null_fp``.

    Replay-safe twice over: every write is an idempotent deterministic
    upsert and re-merging a batch's bits into the bitmap is a no-op
    (bit_or) — AND each table's commit is epoch-fenced (manifest-
    recorded (query, epoch), recovered across restarts), so a replayed
    epoch skips the tables whose commit already landed: the three
    changelogs are exactly-once, not merely convergent, even when a
    crash fell between two of an epoch's commits. The convergence
    argument still matters for the re-probe path: a partially-replayed
    batch probes an index that may contain itself, so self-matches are
    filtered on canonical_id != doc_id and the min-id canonical rule
    makes the dup verdict identical either way.

    ``stats``, if given, collects per-epoch gate accounting dicts
    (n_batch / n_maybe / n_dup / gate_fpr_est) — n_maybe is the
    measured gate selectivity, the number that says whether the bloom
    is sized right (words) for the standing key count.

    **Sizing ``words``:** the bitmap holds ``words * 62`` bits; ~10-15
    bits per standing fingerprint keeps FPR near 1% (``words >= n_keys
    / 5``). The default words=16 (992 bits) fits ~100 standing keys and
    SATURATES near ~1k — the sink estimates the FPR each epoch from the
    fingerprint table's footer row count (no Spark job) and warns
    loudly past 0.5 (the gate has silently degraded to the ungated join
    it exists to avoid). ``words`` is fixed once the bloom table is
    written: each epoch reads the bitmap driver-side (no Spark job) and
    raises ``ValueError`` if it was built at another size; rebuild it
    from the fingerprint table to resize."""

    fence = _EpochFence(
        query, {"dupes": dupes, "fps": fingerprints, "bloom": bloom_state}
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        todo = fence.pending(e)
        if not todo:
            return  # fully-committed epoch replayed — nothing to do
        keyed = (
            batch_df.select(
                F.col(id_col).cast("string").alias("doc"),
                # null text carries no content signal: fingerprint it
                # as NULL (diverted below) rather than md5('') — which
                # would silently declare every null-text doc a
                # duplicate of every other one
                F.when(
                    F.col(text_col).isNull(), F.lit(None).cast("string")
                )
                .otherwise(text_fingerprint(text_col))
                .alias("fp"),
            )
            .dropDuplicates(["doc"])
            .cache()
        )
        # NULL fingerprints match neither filter(hit) nor filter(~hit)
        # below — divert them explicitly so no input row is silently
        # lost from detection, registration, or the accounting.
        batch = keyed.filter(F.col("fp").isNotNull())
        probed = None
        try:
            # saturation watchdog: estimated FPR from the standing
            # fingerprint count (parquet-footer read, no Spark job) —
            # warns past 0.5, where the gate passes most absent keys
            gate_fpr = warn_bloom_saturation(
                fingerprints.footer_rows(),
                words=words,
                context=f"bloom_gated_exact_dedup_sink({query!r})",
            )
            standing = read_bitmap(
                bloom_state,
                words,
                rebuild=(
                    f"bloom_state.replace_all(bitmap_rows([0] * {words}, "
                    "fingerprints.snapshot(), 'key'))"
                ),
            )
            probed = bloom_probe(batch, "fp", standing).cache()
            maybe = probed.filter(F.col("bloom_hit")).select("doc", "fp")
            definite_new = probed.filter(~F.col("bloom_hit")).select(
                "doc", "fp"
            )
            fps = fingerprints.snapshot().select(
                F.col("key").alias("fp"), F.col("value").alias("canonical")
            )
            # only bloom hits probe the standing table (the gate)
            exact_hits = (
                maybe.join(fps, "fp")
                .filter(F.col("canonical") != F.col("doc"))
                .select("doc", "canonical")
            )
            survivors = maybe.join(fps, "fp", "left_anti")
            # fingerprints never seen by the standing table: register
            # min-id per fingerprint as canonical, rest are in-batch dups
            fresh = definite_new.unionByName(survivors)
            canon = fresh.groupBy("fp").agg(F.min("doc").alias("canonical"))
            internal = (
                fresh.join(canon, "fp")
                .filter(F.col("doc") != F.col("canonical"))
                .select("doc", "canonical")
            )
            all_dupes = exact_hits.unionByName(internal)
            if stats is not None:
                # stats-only actions, folded: ONE agg over the cached
                # probe (count + gate selectivity together) and one
                # count over keyed; n_dup comes free from the dupes
                # table's commit accounting below. Skipped entirely on
                # the production hot path.
                gate = probed.agg(
                    F.count("*").alias("nb"),
                    F.sum(F.col("bloom_hit").cast("long")).alias("nm"),
                ).first()
                n_batch, n_maybe = int(gate["nb"]), int(gate["nm"] or 0)
                n_keyed = keyed.count()
            # the three state writes hit three INDEPENDENT tables:
            # overlap their (driver-coordinated, two-job) commits so the
            # epoch pays max not sum of their scheduling latencies; each
            # commit is fenced, so under partial replay only the
            # table(s) whose commit was lost re-run
            fence.commit(
                e,
                {"dupes": all_dupes.select(
                    F.col("doc").alias("key"),
                    F.col("canonical").alias("value"),
                )},
                {"fps": canon.select(
                    F.col("fp").alias("key"),
                    F.col("canonical").alias("value"),
                )},
                {"bloom": bitmap_rows(standing, batch, "fp")},
            )
            if stats is not None:
                stats.append(
                    {
                        "epoch": epoch_id,
                        "n_batch": n_batch,
                        "n_maybe": n_maybe,
                        # all_dupes carries one row per doc, so the dupes
                        # table's committed delta row count IS the dup
                        # count — parquet-footer accounting, no extra
                        # job. None when a partial replay skipped the
                        # dupes commit (the count belongs to the
                        # original delivery's stats row).
                        "n_dup": (
                            dupes.last_commit_rows if "dupes" in todo else None
                        ),
                        "n_null_fp": n_keyed - n_batch,
                        "gate_fpr_est": round(gate_fpr, 6),
                    }
                )
        finally:
            if probed is not None:
                probed.unpersist()
            keyed.unpersist()

    return sink
