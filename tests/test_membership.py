"""Bloom-filter membership operator (operators/membership.py): the
no-false-negative contract, verdicts equal to a pure-Python model of
the hash scheme, a sane false-positive rate at the designed load,
mergeability, the degenerate empty-bitmap case, and the persistent
gate's job-free driver read.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from slipstream_async_spark.operators.membership import (
    bitmap_rows,
    bloom_build,
    bloom_merge,
    bloom_probe,
    collect_bitmap,
    read_bitmap,
)
from slipstream_async_spark.streaming.state import StateTable


def _keys(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def _model_positions(key: str, words: int) -> list[int]:
    return [
        int(hashlib.md5(f"{key}#{i}".encode()).hexdigest()[:8], 16)
        % (words * 62)
        for i in range(4)
    ]


def _model_bitmap(keys, words: int) -> list[int]:
    out = [0] * words
    for key in keys:
        for p in _model_positions(key, words):
            out[p // 62] |= 1 << (p % 62)
    return out


def _model_hit(key: str, bitmap: list[int]) -> bool:
    return all(
        bitmap[p // 62] >> (p % 62) & 1
        for p in _model_positions(key, len(bitmap))
    )


def _probe(df, key, bloom, words=16):
    return bloom_probe(df, key, collect_bitmap(bloom, words))


def test_no_false_negatives(spark):
    members = _keys(spark, 0, 200)
    probed = _probe(members, "k", bloom_build(members, "k"))
    assert probed.filter(~F.col("bloom_hit")).count() == 0


def test_false_positive_rate_in_range(spark):
    members = _keys(spark, 0, 200)
    bloom = bloom_build(members, "k")
    absent = _keys(spark, 10_000, 10_500)
    n_fp = _probe(absent, "k", bloom).filter(F.col("bloom_hit")).count()
    # theory: (1 - e^{-kn/m})^4 ~ 9% at n=200, m=992, k=4 -> ~47 of 500.
    # deterministic hashes make this exact per-build; the band just has
    # to show it is a real filter (some FPs, far from all-pass).
    assert 0 < n_fp < 150, n_fp


def test_merge_equals_union_build(spark):
    a, b = _keys(spark, 0, 100), _keys(spark, 100, 200)
    merged = {
        r["word"]: r["bm"]
        for r in bloom_merge(bloom_build(a, "k"), bloom_build(b, "k")).collect()
    }
    direct = {
        r["word"]: r["bm"] for r in bloom_build(_keys(spark, 0, 200), "k").collect()
    }
    assert merged == direct


def test_empty_bloom_rejects_everything(spark):
    empty = bloom_build(_keys(spark, 0, 0), "k")
    probed = _probe(_keys(spark, 0, 50), "k", empty)
    assert probed.filter(F.col("bloom_hit")).count() == 0


def test_probe_preserves_columns_and_rowcount(spark):
    df = _keys(spark, 0, 30).withColumn("payload", F.col("k"))
    out = _probe(df, "k", bloom_build(_keys(spark, 0, 10), "k"))
    assert set(out.columns) == {"k", "payload", "bloom_hit"}
    assert out.count() == 30


@pytest.mark.parametrize("words", [32, 4096])
def test_probe_matches_python_model(spark, words):
    """The build and the probe agree with a pure-Python model of the
    hash scheme (``int(md5(key + "#i")[:8], 16) % (words * 62)``, i in
    0..3) at a catalog-sized and a seen-gate-sized bitmap: the built
    bitmap equals the model's, every row's verdict equals the model's,
    payload columns and the row count survive, duplicate input rows
    each keep their own verdict, and an all-zero bitmap rejects
    everything."""
    members = [f"key-{i}" for i in range(120)]
    bitmap = collect_bitmap(bloom_build(_keys(spark, 0, 120), "k", words=words), words)
    assert bitmap == _model_bitmap(members, words)
    queries = _keys(spark, 60, 400).withColumn("payload", F.col("k"))
    queries = queries.unionByName(queries.limit(20))
    out = bloom_probe(queries, "k", bitmap).collect()
    assert len(out) == 360
    assert set(out[0].asDict()) == {"k", "payload", "bloom_hit"}
    assert all(r["bloom_hit"] == _model_hit(r["k"], bitmap) for r in out)
    assert all(r["bloom_hit"] for r in out if r["k"] in set(members))
    zero = bloom_probe(queries, "k", [0] * words)
    assert zero.filter(F.col("bloom_hit")).count() == 0


def test_probe_adds_no_job(spark, count_jobs):
    """Building the probe runs no job, and counting its hits runs the
    jobs counting the bare filter runs: the bitmap is a plan constant,
    so there is no collect and no broadcast of its own."""
    bitmap = collect_bitmap(bloom_build(_keys(spark, 0, 50), "k"), 16)
    queries = _keys(spark, 0, 300)
    probed, jobs = count_jobs(lambda: bloom_probe(queries, "k", bitmap))
    assert jobs == 0
    _, bare = count_jobs(lambda: queries.filter(F.col("k") != "").count())
    _, gated = count_jobs(lambda: probed.filter(F.col("bloom_hit")).count())
    assert gated == bare


def test_read_bitmap_equals_snapshot_without_a_job(spark, tmp_path, count_jobs):
    """A 4-bucket gate table after three commits and a compaction: the
    driver read of each bucket's newest file equals the table's full
    snapshot and the model bitmap of every committed key, and runs no
    Spark job."""
    words = 64
    table = StateTable(spark, str(tmp_path / "gate"), n_buckets=4)
    assert read_bitmap(table, words, rebuild="-") == [0] * words
    for lo in (0, 40, 80):
        standing = read_bitmap(table, words, rebuild="-")
        table.upsert(bitmap_rows(standing, _keys(spark, lo, lo + 40), "k"))
    table.compact()
    got, jobs = count_jobs(lambda: read_bitmap(table, words, rebuild="-"))
    assert jobs == 0
    snap = [0] * words
    for r in table.snapshot().collect():
        snap[int(r["key"])] = int(r["value"])
    assert got == snap == _model_bitmap([f"key-{i}" for i in range(120)], words)
    table.destroy()


def test_read_bitmap_fails_closed_on_size_change(spark, tmp_path):
    """A gate built at one size and read at another — or with no
    recorded size — raises, naming both sizes and the rebuild."""
    table = StateTable(spark, str(tmp_path / "gate"), n_buckets=2)
    table.upsert(bitmap_rows([0] * 16, _keys(spark, 0, 10), "k"))
    with pytest.raises(ValueError, match=r"words=16.*words=32.*REBUILD"):
        read_bitmap(table, 32, rebuild="REBUILD")
    assert any(read_bitmap(table, 16, rebuild="-"))
    table.upsert(spark.createDataFrame([("0", "1")], "key string, value string"))
    with pytest.raises(ValueError, match="words=unrecorded"):
        read_bitmap(table, 16, rebuild="-")
    table.destroy()


def test_bloom_fpr_and_saturation_warning():
    """bloom_fpr is the standard (1-e^{-Kn/m})^K — ~0 when empty,
    monotone in n, -> 1 at saturation; warn_bloom_saturation fires
    past FPR 0.5 and stays quiet below."""
    import warnings as _w

    import pytest as _pytest

    from slipstream_async_spark.operators.membership import (
        bloom_fpr,
        warn_bloom_saturation,
    )

    assert bloom_fpr(0, words=16) == 0.0
    assert bloom_fpr(100, words=16) < bloom_fpr(1000, words=16) < 1.0
    assert bloom_fpr(100_000, words=16) > 0.99
    # default 16 words (992 bits) saturates near ~1k standing keys —
    # the documented-but-silent dial VERDICT r11 flagged
    assert bloom_fpr(1000, words=16) > 0.5
    with _pytest.warns(RuntimeWarning, match="saturated"):
        warn_bloom_saturation(1000, words=16, context="t")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        fpr = warn_bloom_saturation(100, words=16, context="t")
    assert not rec and 0 < fpr < 0.5
