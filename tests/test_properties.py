"""Property-based tests (hypothesis): randomized inputs checked against
exact pure-Python models — coverage the reference's golden-value tests
can't reach (SURVEY §5 notes it has no property testing).

Spark sessions are expensive per example, so each property collects all
hypothesis examples first and submits them as ONE DataFrame per test run
where possible; otherwise max_examples is kept small with no deadline.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from fractions import Fraction

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE = datetime(2024, 1, 1)

_prop_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# as-of join vs exact model
# ---------------------------------------------------------------------------

# (key, minute, value) events; right side gets unique (key, minute) pairs
# because equal-timestamp right rows make any engine's as-of pick
# tie-ambiguous (DuckDB included).
_left_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=15,
)
_right_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),
)


def _model_asof(left, right, direction, by: bool, tol_min=None):
    """Exact per-row model of asof_join on (key, minute, value) tuples."""
    out = []
    for lk, lm, lv in left:
        if direction == "nearest":
            cands = [
                (rk, rm, rv) for rk, rm, rv in right if not by or rk == lk
            ]
        else:
            cands = [
                (rk, rm, rv)
                for rk, rm, rv in right
                if (rm <= lm if direction == "backward" else rm >= lm)
                and (not by or rk == lk)
            ]
        if cands:
            if direction == "nearest":
                # min absolute gap; tie -> the earlier (backward) row
                best = min(cands, key=lambda c: (abs(lm - c[1]), c[1]))
            else:
                best = (max if direction == "backward" else min)(
                    cands, key=lambda c: c[1]
                )
            gap = abs(lm - best[1])
            if tol_min is not None and gap > tol_min:
                best = None
        else:
            best = None
        out.append((lk, lm, lv, best[2] if best else None))
    return sorted(out, key=lambda r: (r[0], r[1], r[2], r[3] is None, r[3]))


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("use_by", [True, False])
@given(left=_left_rows, right=_right_rows)
@_prop_settings
def test_asof_join_matches_model(spark, direction, use_by, left, right):
    from pyspark.sql import functions as F

    from slipstream_async_spark.operators import asof_join

    schema = "k string, ts timestamp, v long"
    ldf = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for k, m, v in left], schema
    )
    rdf = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for k, m, v in right], schema
    )
    if not use_by:
        # without by-keys the right side must be globally time-unique
        seen, rr = set(), []
        for k, m, v in right:
            if m not in seen:
                seen.add(m)
                rr.append((k, m, v))
        right = rr
        rdf = spark.createDataFrame(
            [(k, BASE + timedelta(minutes=m), v) for k, m, v in right], schema
        )
        rdf = rdf.drop("k")

    got = asof_join(
        ldf, rdf, on="ts", by="k" if use_by else None, direction=direction
    ).collect()
    got_t = sorted(
        (
            (r["k"], int((r["ts"] - BASE).total_seconds() // 60), r["v"], r["v_right"])
            for r in got
        ),
        key=lambda r: (r[0], r[1], r[2], r[3] is None, r[3]),
    )
    assert got_t == _model_asof(left, right, direction, by=use_by)


@given(left=_left_rows, right=_right_rows)
@_prop_settings
def test_asof_join_tolerance(spark, left, right):
    from pyspark.sql import functions as F

    from slipstream_async_spark.operators import asof_join

    schema = "k string, ts timestamp, v long"
    ldf = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for k, m, v in left], schema
    )
    rdf = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for k, m, v in right], schema
    )
    got = asof_join(
        ldf, rdf, on="ts", by="k", tolerance=F.expr("INTERVAL 5 MINUTES")
    ).collect()
    got_t = sorted(
        (
            (r["k"], int((r["ts"] - BASE).total_seconds() // 60), r["v"], r["v_right"])
            for r in got
        ),
        key=lambda r: (r[0], r[1], r[2], r[3] is None, r[3]),
    )
    assert got_t == _model_asof(left, right, "backward", by=True, tol_min=5)


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup vs brute-force model
# ---------------------------------------------------------------------------

# Tiny vocabulary forces shared shingles; docs <= 24 tokens keep every
# pair's |union| < 128 so no Jaccard value can sit exactly on a 6-decimal
# rounding boundary and the exact-Fraction model is authoritative.
_vocab = ["red", "blue", "fox", "dog", "jumps", "runs", "over", "under"]
_docs = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=1, max_size=24).map(" ".join),
    min_size=2,
    max_size=12,
)


def _model_jaccard_pairs(texts: list[str], k=3, threshold=Fraction(1, 2)):
    def sh(t: str):
        toks = t.split()
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = [sh(t) for t in texts]
    out = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if union and Fraction(inter, union) >= threshold:
                out.add((i, j))
    return out


@given(texts=_docs)
@_prop_settings
def test_dedup_ngram_jaccard_matches_bruteforce(spark, texts):
    from slipstream_async_spark.operators.dedup import dedup_ngram_jaccard

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_ngram_jaccard(df, "text", "doc_id").collect()
    }
    assert got == _model_jaccard_pairs(texts)


# ---------------------------------------------------------------------------
# handler algebra: accumulate == prefix sums
# ---------------------------------------------------------------------------


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
@given(
    vals=st.lists(st.integers(min_value=-1000, max_value=1000), max_size=30)
)
@_prop_settings
def test_accumulate_is_prefix_sum(spark, vals):
    from slipstream_async_spark.operators import accumulate

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "seq long, v long")
    got = [
        r["total"]
        for r in accumulate(df, "v", "seq", out_col="total").orderBy("seq").collect()
    ]
    expect, acc = [], 0
    for v in vals:
        acc += v
        expect.append(acc)
    assert got == expect


# ---------------------------------------------------------------------------
# duplicate clustering vs union-find model
# ---------------------------------------------------------------------------


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
@_prop_settings
def test_duplicate_clusters_matches_union_find(spark, edges):
    from slipstream_async_spark.operators.dedup import duplicate_clusters

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    # both lanes: the default takes the driver union-find lane (at most
    # 25 edges, far under the cutover); driver_cutover=None pins the
    # distributed large-star/small-star lane
    for cutover in ({}, {"driver_cutover": None}):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in duplicate_clusters(pairs, **cutover).collect()
        }
        assert got == expect, cutover


@given(
    rates=st.dictionaries(
        st.sampled_from(["src0", "src1", "src2", "src3"]),
        st.floats(min_value=0.0, max_value=1.0),
        max_size=4,
    ),
    default_rate=st.floats(min_value=0.0, max_value=1.0),
)
@_prop_settings
def test_stratified_sample_model(spark, rates, default_rate):
    """deterministic_stratified_sample == the pure-python model: keep row
    iff hash_bucket(id) < per-stratum threshold; membership is a pure
    function of (id, salt), monotone in the stratum's rate."""
    import hashlib

    from slipstream_async_spark.operators.sampling import (
        _BUCKETS,
        deterministic_stratified_sample,
    )

    rows = [(i, f"src{i % 5}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        r["doc_id"]
        for r in deterministic_stratified_sample(
            df, "doc_id", "source", rates, default_rate, salt="s"
        ).collect()
    }

    def bucket(i: int) -> int:
        h = hashlib.md5(f"s{i}".encode()).hexdigest()[:8]
        return int(h, 16) % _BUCKETS

    want = {
        i
        for i, src in rows
        if bucket(i) < round(rates.get(src, default_rate) * _BUCKETS)
    }
    assert got == want


@given(left=_left_rows, right=_right_rows)
@_prop_settings
def test_interval_join_matches_model(spark, left, right):
    """interval_join == the quadratic model: (l, r) kept iff keys match
    and r.ts in [l.ts - lower, l.ts + upper]."""
    from slipstream_async_spark.operators.joins import interval_join

    ldf = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for k, m, v in left],
        "k string, lts timestamp, lv long",
    )
    rdf = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for k, m, v in right],
        "k string, rts timestamp, rv long",
    )
    out = interval_join(
        ldf.withColumnRenamed("k", "key"),
        rdf.withColumnRenamed("k", "key"),
        key="key", left_ts="lts", right_ts="rts",
        lower="INTERVAL 3 MINUTES", upper="INTERVAL 7 MINUTES",
    )
    got = {
        (r["key"], r["lts"].minute + 60 * r["lts"].hour, r["lv"],
         r["rts"].minute + 60 * r["rts"].hour, r["rv"])
        for r in out.collect()
    }
    want = {
        (lk, lm, lv, rm, rv)
        for lk, lm, lv in left
        for rk, rm, rv in right
        if lk == rk and lm - 3 <= rm <= lm + 7
    }
    assert got == want


# ---------------------------------------------------------------------------
# Bloom membership vs exact set model
# ---------------------------------------------------------------------------

_bloom_keys = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF),
        min_size=0,
        max_size=12,
    ),
    min_size=0,
    max_size=40,
)


@given(members=_bloom_keys, probes=_bloom_keys)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_bloom_never_false_negative_and_merge_is_union(spark, members, probes):
    """For ANY key sets: (1) every true member probes as a hit (false
    negatives are impossible by construction), and (2) building one
    bitmap over A ∪ B equals bit_or-merging separate bitmaps over A and
    B — the mergeability contract that makes the sketch shard- and
    batch-distributive."""
    from pyspark.sql import functions as F

    from slipstream_async_spark.operators.membership import (
        bloom_build,
        bloom_merge,
        bloom_probe,
        collect_bitmap,
    )

    mdf = spark.createDataFrame(
        [(k,) for k in members] or [("",)], "k string"
    )
    if not members:
        mdf = mdf.limit(0)
    bloom = bloom_build(mdf, "k")
    bitmap = collect_bitmap(bloom, 16)

    # (1) no false negatives
    if members:
        hits = bloom_probe(mdf, "k", bitmap)
        assert hits.filter(~F.col("bloom_hit")).count() == 0

    # (2) merge == union build
    half = len(members) // 2
    a = spark.createDataFrame([(k,) for k in members[:half]] or [("",)], "k string")
    b = spark.createDataFrame([(k,) for k in members[half:]] or [("",)], "k string")
    if not members[:half]:
        a = a.limit(0)
    if not members[half:]:
        b = b.limit(0)
    merged = {
        (r["word"], r["bm"])
        for r in bloom_merge(bloom_build(a, "k"), bloom_build(b, "k")).collect()
    }
    direct = {(r["word"], r["bm"]) for r in bloom.collect()}
    assert merged == direct

    # probing arbitrary keys agrees with "possibly in set": a miss must
    # never be a true member (subset direction of the FPR contract)
    if probes:
        pdf = spark.createDataFrame([(k,) for k in probes], "k string")
        out = bloom_probe(pdf, "k", bitmap).collect()
        member_set = set(members)
        for r in out:
            if not r["bloom_hit"]:
                assert r["k"] not in member_set


# ---------------------------------------------------------------------------
# StateTable vs dict model (the LSM delta-chain merge semantics)
# ---------------------------------------------------------------------------


_st_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("put"),
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=99),
        ),
        st.tuples(st.just("del"), st.integers(min_value=0, max_value=9)),
        st.tuples(
            st.just("upsert_batch"),
            st.integers(min_value=0, max_value=7),  # key range start
            st.integers(min_value=1, max_value=4),  # batch width
        ),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=_st_ops)
def test_state_table_matches_dict_model(spark, tmp_path_factory, ops):
    """Model-based check of the delta-chain StateTable: any interleaving
    of point puts, deletes, and batch upserts must read back exactly
    like a python dict — newest write wins per key across the whole
    chain, deletes tombstone, compaction (max_chain=2 here, so it
    triggers constantly) never changes the logical state."""
    from slipstream_async_spark.streaming.state import StateTable

    t = StateTable(
        spark,
        str(tmp_path_factory.mktemp("stprop") / "t"),
        n_buckets=2,
        max_chain=2,
    )
    model: dict[str, str] = {}
    try:
        for op in ops:
            if op[0] == "put":
                _, k, v = op
                t.upsert(
                    spark.createDataFrame(
                        [(str(k), str(v))], "key string, value string"
                    )
                )
                model[str(k)] = str(v)
            elif op[0] == "del":
                _, k = op
                t.delete(str(k))
                model.pop(str(k), None)
            else:
                _, start, width = op
                rows = [(str(start + i), f"b{start + i}") for i in range(width)]
                t.upsert(
                    spark.createDataFrame(rows, "key string, value string")
                )
                model.update({k: v for k, v in rows})
        got = {
            r["key"]: r["value"] for r in t.snapshot().collect()
        }
        assert got == model
        # point reads agree too (the pruned one-bucket path)
        for k in list(model)[:3]:
            assert t.get(k) == model[k]
    finally:
        t.destroy()


# ---------------------------------------------------------------------------
# interval-union sweep vs exact merge model
# ---------------------------------------------------------------------------

_interval_rows = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.integers(min_value=0, max_value=60),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


def _merge_model(rows):
    """Exact per-key interval union on (key, start, length) tuples."""
    out = {}
    by_key = {}
    for k, s, ln in rows:
        by_key.setdefault(k, []).append((s, s + ln))
    for k, ivs in by_key.items():
        merged = []
        for lo, hi in sorted(ivs):
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        covered = sum(hi - lo + 1 for lo, hi in merged)
        span = max(hi for _, hi in merged) - min(lo for lo, _ in merged) + 1
        out[k] = (len(merged), covered, span)
    return out


@_prop_settings
@given(rows=_interval_rows)
def test_interval_coverage_matches_exact_merge(spark, rows):
    from slipstream_async_spark.operators.aggregations import (
        interval_coverage,
    )

    df = spark.createDataFrame(
        [(k, s, s + ln) for k, s, ln in rows], "k string, s int, e int"
    )
    got = {
        r["k"]: (r["n_busy_islands"], r["covered_units"], r["span_units"])
        for r in interval_coverage(df, ["k"], "s", "e").collect()
    }
    assert got == _merge_model(rows)


# ---------------------------------------------------------------------------
# exact AUC vs brute-force pairwise model
# ---------------------------------------------------------------------------

_auc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.booleans(),
    ),
    min_size=2,
    max_size=60,
).filter(
    lambda rows: any(lbl for _, lbl in rows) and any(not lbl for _, lbl in rows)
)


@_prop_settings
@given(rows=_auc_rows)
def test_exact_auc_matches_pairwise_model(spark, rows):
    from slipstream_async_spark.operators.aggregations import exact_auc

    df = spark.createDataFrame(rows, "score int, pos boolean")
    got = exact_auc(df, "score", "pos").collect()[0]
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    num = Fraction(0)
    for p in pos:
        for m in neg:
            if p > m:
                num += 1
            elif p == m:
                num += Fraction(1, 2)
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert Fraction(got["auc_numerator"]) == num
    assert got["auc"] == pytest.approx(float(num / (len(pos) * len(neg))))


# ---------------------------------------------------------------------------
# Prefix-successor scans: scan(prefix=p) must equal the startswith set for
# ARBITRARY unicode keys and prefixes — including suffixes at or above
# U+FFFF, the exact class the naive 'p + U+FFFF' upper bound lost.
# ---------------------------------------------------------------------------

_uni_text = st.text(
    # valid keys only (no lone surrogates), but with explicit weight on
    # U+D7FF — the last code point BELOW the surrogate gap, whose naive
    # +1 successor is the unencodable U+D800 (the computed BOUND is the
    # failure mode, not the keys; _prefix_successor must skip to U+E000)
    alphabet=st.one_of(
        st.characters(
            min_codepoint=32,
            max_codepoint=0x10FFFF,
            blacklist_categories=("Cs",),  # no lone surrogates
        ),
        st.just(chr(0xD7FF)),
    ),
    min_size=0,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    keys=st.lists(_uni_text.filter(bool), min_size=1, max_size=8, unique=True),
    prefix=_uni_text.filter(bool),
    pick_existing=st.booleans(),
)
def test_scan_prefix_equals_startswith_model(
    spark, tmp_path_factory, keys, prefix, pick_existing
):
    from slipstream_async_spark.streaming.state import StateTable

    if pick_existing:
        # probe with a prefix OF an actual key (the interesting case)
        prefix = keys[0][: max(1, len(keys[0]) - 1)]
    t = StateTable(
        spark,
        str(tmp_path_factory.mktemp("pfx") / "t"),
        n_buckets=4,
    )
    try:
        t.upsert(
            spark.createDataFrame(
                [(k, "v") for k in keys], "key string, value string"
            )
        )
        got = sorted(
            r["key"] for r in t.scan(prefix=prefix).select("key").collect()
        )
        assert got == sorted(k for k in keys if k.startswith(prefix))
    finally:
        t.destroy()
