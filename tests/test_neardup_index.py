"""Persistent near-dup prefix index (streaming/neardup_index.py): the
O(|batch|)-per-trigger incremental dedup lane — result parity with the
rebuild-per-call operator, the probe-read scale contract, partial-replay
safety, and frozen-order/staleness exactness."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from slipstream_async_spark.operators.dedup import (
    dedup_incremental,
    dedup_incremental_frozen,
)
from slipstream_async_spark.streaming.dedup_flow import (
    indexed_incremental_dedup_sink,
)
from slipstream_async_spark.operators.membership import bitmap_rows, read_bitmap
from slipstream_async_spark.streaming.neardup_index import NearDupPrefixIndex
from slipstream_async_spark.streaming.state import StateTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _fixture_docs():
    random.seed(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (f"d{i}", " ".join(random.choice(vocab) for _ in range(8)))
        for i in range(30)
    ]
    # injected near-dups: in-epoch (d5/d17 would be cross-epoch with
    # epochs of 10) and cross-epoch chains
    docs[5] = ("d5", "p q r s t u")
    docs[17] = ("d17", "p q r s t v")
    docs[25] = ("d25", "p q r s t w")
    return docs


def test_indexed_sink_matches_rebuild_operator(spark, tmp_path):
    """End-to-end parity: streaming the corpus through the persistent-
    index sink yields EXACTLY the pair set the per-call rebuild
    operator (dedup_incremental) finds on the same epoch sequence —
    the frozen order changes candidate count, never the verified
    pairs."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    sink = indexed_incremental_dedup_sink(corpus, pairs, index)
    docs = _fixture_docs()
    epochs = [docs[0:10], docs[10:20], docs[20:30]]
    for e, rows in enumerate(epochs):
        sink(_mk(spark, rows), e)
    got = sorted(r["key"] for r in pairs.snapshot().collect())

    legacy = set()
    seen: list = []
    for rows in epochs:
        cdf = _mk(spark, seen) if seen else _mk(spark, [])
        for r in dedup_incremental(
            cdf, _mk(spark, rows), "text", "doc_id", k=3, threshold=0.5
        ).collect():
            legacy.add(f"{len(r['id_a'])}|{r['id_a']}|{r['id_b']}")
        seen.extend(rows)
    assert got == sorted(legacy), set(got) ^ legacy
    assert got, "fixture must actually produce pairs"
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_probe_reads_do_not_scale_with_corpus(spark, tmp_path):
    """THE per-trigger scale contract (the r10 VERDICT scale-killer,
    fixed): the probe reads ONLY the postings buckets its prefix
    shingles hash to — growing the standing corpus in other shingle
    space changes NOTHING the probe scans — and the per-epoch postings
    append commits exactly the batch's prefix rows (O(|batch|))."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    sink = indexed_incremental_dedup_sink(corpus, pairs, index)

    probe_batch = _mk(spark, [("B", "p q r s t u")])
    bsets = index.sets_of(probe_batch, "text", "doc_id")
    bp = index.prefix_rows(bsets, "doc_id")
    probe_shingles = [r[0] for r in bp.select("s").distinct().collect()]
    assert probe_shingles
    probe_buckets = {index.postings._bucket_of(s) for s in probe_shingles}

    def scanned_rows():
        return index.postings.read_buckets(sorted(probe_buckets)).count()

    # filler docs whose single shingle hashes OUTSIDE the probe buckets
    def filler(start, n):
        out, i = [], start
        while len(out) < n:
            text = f"a{i} b{i} c{i}"  # exactly one 3-shingle
            if index.postings._bucket_of(text) not in probe_buckets:
                out.append((f"f{i}", text))
            i += 1
        return out

    # epoch 0: small corpus + the probe's true partner P (shares the
    # probe's shingle space, so its prefix rows DO land in probe buckets)
    sink(_mk(spark, filler(0, 20) + [("P", "p q r s t z")]), 0)
    base = scanned_rows()
    assert base > 0, "partner P's prefix rows must be visible to the probe"
    total0 = index.postings.snapshot().count()

    # epoch 1: grow the standing corpus 10x in disjoint shingle space
    sink(_mk(spark, filler(1000, 200)), 1)
    assert index.postings.snapshot().count() >= total0 + 200
    assert scanned_rows() == base, (
        "probe scan volume must not grow with standing-corpus size"
    )

    # epoch 2: deliver the probe — the pair is found, and the postings
    # commit wrote exactly the batch's prefix rows
    n_bp = bp.count()
    sink(probe_batch, 2)
    assert index.postings.last_commit_rows == n_bp
    got = {r["key"] for r in pairs.snapshot().collect()}
    assert "1|B|P" in got, got
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_probe_collects_stay_bucket_bounded(spark, tmp_path):
    """The probe's driver-side collects are bounded by n_buckets EVEN
    when the candidate count dwarfs the batch (the r11-VERDICT weak
    item: collecting candidate IDS is O(candidates) driver memory,
    unbounded when the frozen order degrades). Candidates here ≫ batch:
    200 standing docs share the probe's shingle space, so a 2-doc probe
    generates hundreds of candidates — every row set pulled to the
    driver during probe() must still be <= max(n_buckets) rows."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    sink = indexed_incremental_dedup_sink(corpus, pairs, index)
    # DEGRADED-ORDER scenario (the unbounded-candidates shape): the
    # bootstrap freeze sees an unrelated first batch (empty hot set),
    # then the corpus floods with docs sharing one stem — the stale
    # order lets the stem shingles into every prefix, so a tiny probe
    # sharing the stem generates candidates ≫ batch
    sink(_mk(spark, [(f"z{i}", f"za{i} zb{i} zc{i} zd{i}") for i in range(5)]), 0)
    standing = [(f"s{i}", f"p q r s t u{i} v{i} w{i}") for i in range(200)]
    sink(_mk(spark, standing), 1)

    probe_batch = _mk(
        spark, [("B1", "p q r s t x y z"), ("B2", "p q r s t x y q")]
    )
    bsets = index.sets_of(probe_batch, "text", "doc_id")
    bp = index.prefix_rows(bsets, "doc_id").localCheckpoint()

    cap = max(index.postings.n_buckets, index.sets.n_buckets)
    collected: list[int] = []
    # patch the RUNTIME DataFrame class (pyspark 4's classic subclass
    # overrides the pyspark.sql.DataFrame facade's methods)
    dfcls = type(bp)
    orig = dfcls.collect

    def spying_collect(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    stats: dict = {}
    dfcls.collect = spying_collect
    try:
        found = index.probe(
            bp, bsets, "doc_id", buckets=index.probe_buckets(bp), stats=stats
        )
    finally:
        dfcls.collect = orig
    assert stats["n_candidates"] > 50, "fixture must swamp the batch"
    assert stats["n_corpus_candidates"] > 50
    assert collected, "probe must have made its bucket-id collects"
    assert max(collected) <= cap, (
        f"a probe collect pulled {max(collected)} rows to the driver "
        f"(cap {cap}): candidate ids must stay distributed"
    )
    # footer-based scan accounting is present and sane
    assert stats["postings_rows_scanned"] >= stats["buckets_read"]
    assert stats["sets_rows_scanned"] >= 0
    # and the probe still verifies correctly against the stored sets
    got = {(r["id_a"], r["id_b"]) for r in found.collect()}
    index.finish_probe()
    assert ("B1", "B2") in got  # the in-batch near-dup pair survives
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_indexed_partial_replay_finds_pairs(spark, tmp_path):
    """Partial replay with near-dups present: corpus AND postings
    commits landed, pairs commit lost. The replayed probe anti-joins
    the batch's ids out of both standing sides, so it sees the
    pre-epoch corpus and still finds every pair."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    sink = indexed_incremental_dedup_sink(corpus, pairs, index)
    sink(_mk(spark, [("c1", "p q r s t")]), 0)
    assert pairs.snapshot().count() == 0

    batch1 = _mk(
        spark,
        [
            ("b2", "p q r s u"),  # near-dup of c1 (jaccard 0.5)
            ("b3", "m n o v w"),  # in-batch near-dup pair
            ("b4", "m n o v y"),
        ],
    )
    # crash simulation: corpus + postings committed under the fence,
    # pairs lost
    corpus.upsert(
        batch1.select(
            F.col("doc_id").alias("key"), F.col("text").alias("value")
        ),
        fence=("incremental_dedup", 1),
    )
    bsets = index.sets_of(batch1, "text", "doc_id")
    index.postings.upsert(
        index.posting_rows(index.prefix_rows(bsets, "doc_id"), "doc_id"),
        fence=("incremental_dedup", 1),
    )
    vc, vx = corpus.version, index.postings.version

    sink2 = indexed_incremental_dedup_sink(corpus, pairs, index)
    sink2(batch1, 1)
    assert corpus.version == vc, "fenced corpus commit must not re-run"
    assert index.postings.version == vx, "fenced postings must not re-run"
    got = sorted(r["key"] for r in pairs.snapshot().collect())
    assert got == ["2|b2|c1", "2|b3|b4"], got
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_cross_epoch_redelivery_first_write_wins(spark, tmp_path):
    """A doc_id re-delivered in a LATER epoch (e.g. updated text) must
    not append again — the postings/sets tables are append-only with
    unique keys, so a second copy would leave stale verification rows
    probing forever (r11 ADVICE-medium). The guard is first-write-wins:
    the redelivered id is dropped from the batch, the standing (old)
    text keeps producing pairs, and in-batch novel docs still dedup."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    stats: list = []
    sink = indexed_incremental_dedup_sink(corpus, pairs, index, stats=stats)
    sink(_mk(spark, [("X", "p q r s t"), ("z0", "a b c d e")]), 0)
    sets_rows0 = index.sets.footer_rows()
    postings_rows0 = index.postings.footer_rows()

    # epoch 1: X re-delivered with COMPLETELY different text, plus a
    # new near-dup partner of X's ORIGINAL text
    sink(_mk(spark, [("X", "m n o v w"), ("Y", "p q r s u")]), 1)
    assert stats[1]["n_redelivered"] == 1
    # first-write-wins everywhere: one sets row and the ORIGINAL
    # postings for X; the corpus keeps the original text
    assert index.sets.footer_rows() == sets_rows0 + 1  # only Y appended
    assert (
        index.sets.snapshot().filter(F.col("key") == "X").count() == 1
    )
    assert corpus.get("X") == "p q r s t"
    # the pair is found against X's STANDING text (jaccard("pqrst",
    # "pqrsu") = 4/6 >= 0.5); X's new text would NOT have paired
    got = sorted(r["key"] for r in pairs.snapshot().collect())
    assert got == ["1|X|Y"], got
    # epoch 2: re-deliver X AND Y together with fresh texts — both drop,
    # nothing appends, no new pairs
    sink(_mk(spark, [("X", "k1 k2 k3 k4 k5"), ("Y", "k1 k2 k3 k4 k6")]), 2)
    assert stats[2]["n_redelivered"] == 2
    assert index.sets.footer_rows() == sets_rows0 + 1
    assert index.postings.footer_rows() >= postings_rows0
    assert sorted(r["key"] for r in pairs.snapshot().collect()) == ["1|X|Y"]
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_redelivery_guard_safe_under_partial_replay(spark, tmp_path):
    """Partial replay where the corpus AND seen-bloom commits landed
    but the postings/sets group was lost: the replayed batch's ids hit
    the bloom and ARE in the corpus — but with this epoch's own commit
    tag, so the strictly-earlier-epoch predicate keeps them and the
    postings/sets appends still run (dropping them would lose the
    batch from the index forever)."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    sink = indexed_incremental_dedup_sink(corpus, pairs, index)
    sink(_mk(spark, [("c1", "p q r s t")]), 0)

    batch1 = _mk(spark, [("b2", "p q r s u"), ("b3", "x y z w v")])
    # crash simulation: corpus (with the sink's epoch attr) and seen
    # committed under the fence; postings/sets/pairs lost
    corpus.upsert(
        batch1.select(
            F.col("doc_id").alias("key"),
            F.col("text").alias("value"),
            F.create_map(F.lit("e"), F.lit("1")).alias("attrs"),
        ),
        fence=("incremental_dedup", 1),
    )
    seen = read_bitmap(index.seen, index.seen_words, rebuild="-")
    index.seen.upsert(
        bitmap_rows(seen, batch1, "doc_id"), fence=("incremental_dedup", 1)
    )
    vx = index.postings.version
    stats: list = []
    sink2 = indexed_incremental_dedup_sink(corpus, pairs, index, stats=stats)
    sink2(batch1, 1)
    assert stats[0]["n_redelivered"] == 0, (
        "this epoch's own landed corpus commit must not read as a "
        "redelivery"
    )
    assert index.postings.version > vx, "postings append must re-run"
    assert (
        index.sets.snapshot().filter(F.col("key") == "b2").count() == 1
    )
    got = sorted(r["key"] for r in pairs.snapshot().collect())
    assert got == ["2|b2|c1"], got
    # ...and a GENUINE redelivery in a later epoch is still caught
    sink2(_mk(spark, [("b2", "totally different text")]), 2)
    assert stats[1]["n_redelivered"] == 1
    assert corpus.get("b2") == "p q r s u"
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_seen_gate_fails_closed_on_size_change(spark, tmp_path):
    """A seen gate written at one ``seen_words`` and probed at another
    would read most indexed ids as never seen (redelivered ids append
    again) or index past the bitmap: the sink raises, naming both sizes
    and ``refresh()``, until a refresh rebuilds the gate at the new
    size."""
    import pytest

    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=4)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    path = str(tmp_path / "idx")
    index = NearDupPrefixIndex(spark, path, n_buckets=4, seen_words=64)
    indexed_incremental_dedup_sink(corpus, pairs, index)(
        _mk(spark, [("a", "p q r s t"), ("b", "x y z w v")]), 0
    )
    grown = NearDupPrefixIndex(spark, path, n_buckets=4, seen_words=128)
    sink = indexed_incremental_dedup_sink(corpus, pairs, grown)
    batch = _mk(spark, [("a", "other text"), ("c", "p q r s u")])
    with pytest.raises(ValueError, match=r"words=64.*words=128.*refresh"):
        sink(batch, 1)
    grown.refresh(
        corpus.snapshot().select(
            F.col("key").alias("doc_id"), F.col("value").alias("text")
        )
    )
    stats: list = []
    indexed_incremental_dedup_sink(corpus, pairs, grown, stats=stats)(batch, 1)
    assert stats[0]["n_redelivered"] == 1
    assert corpus.get("a") == "p q r s t"
    corpus.destroy()
    pairs.destroy()
    grown.destroy()


def test_refresh_and_stale_hot_order_stay_exact(spark, tmp_path):
    """refresh() re-freezes the hot-shingle order and rebuilds the
    postings; ingesting MORE docs without refreshing (a stale hot set)
    must still find the exact pair set — staleness costs candidate
    count only, never recall (prefix-filter completeness needs just a
    consistent order)."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    path = str(tmp_path / "idx")
    index = NearDupPrefixIndex(spark, path, k=3, threshold=0.5, n_buckets=16)
    sink = indexed_incremental_dedup_sink(corpus, pairs, index)
    docs = _fixture_docs()
    sink(_mk(spark, docs[0:10]), 0)
    sink(_mk(spark, docs[10:20]), 1)

    # maintenance: re-freeze the order from the standing corpus, then
    # restart the sink with a FRESH index instance (the documented
    # contract: the order must not shift under a live probe)
    index.refresh(
        corpus.snapshot().selectExpr("key as doc_id", "value as text")
    )
    assert index.order.snapshot().count() >= 1, "hot set must be non-empty"
    index2 = NearDupPrefixIndex(spark, path, k=3, threshold=0.5)
    sink2 = indexed_incremental_dedup_sink(corpus, pairs, index2)
    # epoch 2 arrives AFTER the refresh; epoch 3 leaves the hot set
    # stale (no refresh in between)
    sink2(_mk(spark, docs[20:30]), 2)
    sink2(_mk(spark, [("d99", "p q r s t x")]), 3)
    got = sorted(r["key"] for r in pairs.snapshot().collect())

    legacy = set()
    seen: list = []
    for rows in [docs[0:10], docs[10:20], docs[20:30],
                 [("d99", "p q r s t x")]]:
        cdf = _mk(spark, seen) if seen else _mk(spark, [])
        for r in dedup_incremental(
            cdf, _mk(spark, rows), "text", "doc_id", k=3, threshold=0.5
        ).collect():
            legacy.add(f"{len(r['id_a'])}|{r['id_a']}|{r['id_b']}")
        seen.extend(rows)
    assert got == sorted(legacy), set(got) ^ legacy
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_frozen_batch_twin_matches_rebuild(spark):
    """dedup_incremental_frozen (the oracle-certifiable batch twin of
    the persistent probe lane) returns the SAME verified pairs as
    dedup_incremental, with and without a hot-shingle table."""
    docs = _fixture_docs()
    cdf = _mk(spark, docs[:20])
    bdf = _mk(spark, docs[20:])
    ref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup_incremental(cdf, bdf, "text", "doc_id").collect()
    }
    assert ref, "fixture must produce pairs"
    no_hot = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup_incremental_frozen(
            cdf, bdf, "text", "doc_id"
        ).collect()
    }
    assert no_hot == ref
    # fabricate a hot table from the corpus's own top shingles
    from slipstream_async_spark.functions.text import (
        shingles_of_tokens,
        tokens,
    )

    hot = (
        cdf.select(F.explode(shingles_of_tokens(tokens("text"), 3)).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 2)
        .orderBy(F.desc("freq"), F.asc("s"))
        .limit(16)
    )
    with_hot = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup_incremental_frozen(
            cdf, bdf, "text", "doc_id", hot=hot
        ).collect()
    }
    assert with_hot == ref


def test_partition_sep_bucketing_and_pruned_reads(spark, tmp_path):
    """StateTable partition_sep: keys co-locate by their first segment
    (the partition-key/clustering-key split), bare partition values
    hash to the same bucket as full keys, read_buckets prunes to the
    requested buckets, point ops still work, and the separator choice
    is frozen in the manifest (reopen adopts; mismatch raises)."""
    import pytest

    sep = "\x1f"
    path = str(tmp_path / "psep")
    t = StateTable(spark, path, n_buckets=8, partition_sep=sep)
    rows = [
        (f"s{i}{sep}doc{j}", f"v{i}{j}") for i in range(4) for j in range(3)
    ]
    t.upsert(spark.createDataFrame(rows, "key string, value string"))
    b = t._bucket_of(f"s1{sep}anything")
    assert b == t._bucket_of("s1")
    keys = {r["key"] for r in t.read_buckets([b]).collect()}
    assert {f"s1{sep}doc{j}" for j in range(3)} <= keys
    # pruning: rows outside the requested buckets are not returned
    all_keys = {r["key"] for r in t.snapshot().collect()}
    other = all_keys - keys
    assert other, "fixture must spread over several buckets"
    # point ops route through the partition bucket
    assert t.get(f"s2{sep}doc0") == "v20"
    assert f"s3{sep}doc1" in t
    # engine-side bucket expr for a bare partition value matches driver
    df = spark.createDataFrame([("s0",), ("s3",)], "s string")
    got = {
        r["s"]: r["b"]
        for r in df.select("s", t.bucket_expr_for("s").alias("b")).collect()
    }
    assert got == {"s0": t._bucket_of("s0"), "s3": t._bucket_of("s3")}
    # persistence: reopen adopts, conflicting sep raises
    t2 = StateTable(spark, path)
    assert t2.partition_sep == sep
    with pytest.raises(ValueError, match="partition_sep"):
        StateTable(spark, path, partition_sep="|")
    t.destroy()


def test_maybe_refresh_doubling_cadence(spark, tmp_path):
    """maybe_refresh fires only when the standing corpus grew by
    `factor` since the last freeze (driver-side footer check, no Spark
    job on the no-op path), persists the freeze watermark across
    instances, and never changes results — a stale order is correct,
    refresh is a candidate-count dial."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    path = str(tmp_path / "idx")
    index = NearDupPrefixIndex(spark, path, k=3, threshold=0.5, n_buckets=16)
    sink = indexed_incremental_dedup_sink(
        corpus, pairs, index, refresh_factor=2.0
    )
    docs = _fixture_docs()
    sink(_mk(spark, docs[0:10]), 0)  # bootstrap freeze (no watermark yet)
    corpus_docs = lambda: corpus.snapshot().selectExpr(  # noqa: E731
        "key as doc_id", "value as text"
    )
    # a bootstrap freeze without a watermark ADOPTS the current corpus
    # size as the baseline instead of refreshing unconditionally (a
    # missing marker is not baseline 0 — that would deviate from the
    # doubling cadence with a spurious full O(|corpus|) refresh here)
    assert index.maybe_refresh(corpus_docs()) is False
    assert index._rows_at_freeze == 10
    assert index.order.get(index.META_ROWS) == "10"  # marker persisted
    # no growth -> no-op, including from a FRESH instance (watermark is
    # persisted in the order table's meta row)
    assert index.maybe_refresh(corpus_docs()) is False
    index2 = NearDupPrefixIndex(spark, path, k=3, threshold=0.5)
    assert index2.maybe_refresh(corpus_docs()) is False
    # sink-driven: epochs 1-2 double the corpus; the sink refreshes
    # in-line and the final pair set still matches the rebuild operator
    sink2 = indexed_incremental_dedup_sink(
        corpus, pairs, index2, refresh_factor=2.0
    )
    sink2(_mk(spark, docs[10:20]), 1)
    sink2(_mk(spark, docs[20:30]), 2)
    sink2(_mk(spark, [("d99", "p q r s t x")]), 3)
    assert index2._rows_at_freeze >= 20, "doubling refresh must have run"
    got = sorted(r["key"] for r in pairs.snapshot().collect())
    legacy = set()
    seen: list = []
    for rows in [docs[0:10], docs[10:20], docs[20:30],
                 [("d99", "p q r s t x")]]:
        cdf = _mk(spark, seen) if seen else _mk(spark, [])
        for r in dedup_incremental(
            cdf, _mk(spark, rows), "text", "doc_id", k=3, threshold=0.5
        ).collect():
            legacy.add(f"{len(r['id_a'])}|{r['id_a']}|{r['id_b']}")
        seen.extend(rows)
    assert got == sorted(legacy), set(got) ^ legacy
    corpus.destroy()
    pairs.destroy()
    index.destroy()


def test_indexed_sink_stats_accounting(spark, tmp_path):
    """Per-epoch stats come from commit footers + one candidate count:
    batch size, appended prefix rows, buckets read, candidate counts,
    and committed pair rows — the observability that says whether the
    frozen order is still tight (the refresh dial)."""
    corpus = StateTable(spark, str(tmp_path / "corpus"), n_buckets=8)
    pairs = StateTable(spark, str(tmp_path / "pairs"), n_buckets=4)
    index = NearDupPrefixIndex(
        spark, str(tmp_path / "idx"), k=3, threshold=0.5, n_buckets=16
    )
    stats: list = []
    sink = indexed_incremental_dedup_sink(corpus, pairs, index, stats=stats)
    docs = _fixture_docs()
    sink(_mk(spark, docs[0:10]), 0)
    sink(_mk(spark, docs[10:20]), 1)
    assert len(stats) == 2
    s1 = stats[1]
    assert s1["epoch"] == 1 and s1["n_batch"] == 10
    assert s1["n_prefix_rows"] > 0
    assert s1["buckets_read"] >= 1
    assert s1["n_candidates"] >= s1["n_pairs"] >= 1  # d5/d17 pair
    assert s1["n_corpus_candidates"] >= 1
    # replayed epoch: no stats row is appended (nothing committed)
    sink(_mk(spark, docs[10:20]), 1)
    assert len(stats) == 2
    corpus.destroy()
    pairs.destroy()
    index.destroy()
