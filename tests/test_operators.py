"""Unit tests for the operator library on tiny deterministic fixtures —
the reference's test style (SURVEY §5: golden in-test expected values on
4-element streams) ported to DataFrames.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F


def ts(minute: float) -> datetime:
    return datetime(2024, 1, 1) + timedelta(minutes=minute)


@pytest.fixture(scope="module")
def emoji(spark):
    """The reference's canonical 4-emoji stream (tests/conftest.py:82-85
    in the reference), timestamped like cookbook.rst:235-242."""
    rows = [
        (ts(0.0), "🏆"), (ts(1.0), "📞"), (ts(2.0), "😀"), (ts(3.0), "👌"),
        (ts(3.5), "🏆"), (ts(40.0), "📞"),
    ]
    return spark.createDataFrame(rows, "ts timestamp, emoji string")


def test_fold_count(emoji):
    # getting_started.rst:118-123: incremental count per key.
    out = {
        r["emoji"]: r["n"]
        for r in emoji.groupBy("emoji").agg(F.count("*").alias("n")).collect()
    }
    assert out == {"🏆": 2, "📞": 2, "😀": 1, "👌": 1}


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
def test_pairwise_golden(spark):
    # cookbook.rst:119-131: pairwise over 0..4 -> (0,1),(1,2),(2,3),(3,4).
    from slipstream_async_spark.operators import pairwise

    df = spark.createDataFrame(
        [(i, ts(i)) for i in range(5)], "seq long, ts timestamp"
    )
    out = pairwise(df, "ts", cols=["seq"]).orderBy("seq").collect()
    pairs = [(r["prev_seq"], r["seq"]) for r in out if r["prev_seq"] is not None]
    assert pairs == [(0, 1), (1, 2), (2, 3), (3, 4)]


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
def test_accumulate_golden(spark):
    # cookbook.rst:127-131: accumulate 0..4 -> 0,1,3,6,10.
    from slipstream_async_spark.operators import accumulate

    df = spark.createDataFrame(
        [(i, ts(i)) for i in range(5)], "seq long, ts timestamp"
    )
    out = accumulate(df, "seq", "ts", out_col="total").orderBy("ts").collect()
    assert [r["total"] for r in out] == [0, 1, 3, 6, 10]


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
def test_asof_join_weather_activity(spark):
    """The reference's flagship scenario (cookbook.rst:289-356 comments):
    swimming->sunny, walking home->cloudy, shopping->rainy-ish, lunch->rain;
    an activity before any weather gets the NULL fallback ('?')."""
    from slipstream_async_spark.operators import asof_join

    weather = spark.createDataFrame(
        [(ts(60.0), "🌞"), (ts(120.0), "⛅"), (ts(180.0), "🌦️"), (ts(240.0), "🌧")],
        "ts timestamp, weather string",
    )
    activity = spark.createDataFrame(
        [
            (ts(30.0), "stretching"),   # before any weather -> NULL
            (ts(90.0), "swimming"),
            (ts(150.0), "walking home"),
            (ts(210.0), "shopping"),
            (ts(250.0), "lunch"),
            (ts(240.0), "tie-break"),   # exactly at weather ts -> matches it
        ],
        "ts timestamp, activity string",
    )
    out = {
        r["activity"]: r["weather_right"]
        for r in asof_join(activity, weather, on="ts").collect()
    }
    assert out == {
        "stretching": None,
        "swimming": "🌞",
        "walking home": "⛅",
        "shopping": "🌦️",
        "lunch": "🌧",
        "tie-break": "🌧",
    }


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
def test_asof_join_forward_and_tolerance(spark):
    from slipstream_async_spark.operators import asof_join

    left = spark.createDataFrame(
        [(ts(10.0), "a"), (ts(100.0), "b")], "ts timestamp, v string"
    )
    right = spark.createDataFrame(
        [(ts(12.0), "r1"), (ts(300.0), "r2")], "ts timestamp, rv string"
    )
    fwd = {
        r["v"]: r["rv_right"]
        for r in asof_join(left, right, on="ts", direction="forward").collect()
    }
    assert fwd == {"a": "r1", "b": "r2"}

    tol = {
        r["v"]: r["rv_right"]
        for r in asof_join(
            left, right, on="ts", direction="forward",
            tolerance=F.expr("INTERVAL 10 MINUTES"),
        ).collect()
    }
    assert tol == {"a": "r1", "b": None}


def test_session_windows_golden(spark, emoji):
    from slipstream_async_spark.operators import session_windows

    out = session_windows(emoji, "ts", "INTERVAL 30 MINUTES").collect()
    assert len(out) == 2
    sizes = sorted(r["n_events"] for r in out)
    assert sizes == [1, 5]


def test_dedup_keep_first(spark):
    from slipstream_async_spark.operators import dedup_keep_first

    df = spark.createDataFrame(
        [(1, ts(0.0), "a"), (1, ts(1.0), "b"), (2, ts(2.0), "c")],
        "k long, ts timestamp, v string",
    )
    first = {
        r["k"]: r["v"] for r in dedup_keep_first(df, ["k"], "ts").collect()
    }
    last = {
        r["k"]: r["v"]
        for r in dedup_keep_first(df, ["k"], "ts", keep="last").collect()
    }
    assert first == {1: "a", 2: "c"}
    assert last == {1: "b", 2: "c"}


def test_flat_map_and_filter(spark):
    # features.rst:154-171: yield 0..n values per input (filter-by-yield).
    from slipstream_async_spark.operators.handlers import flat_map_split

    df = spark.createDataFrame([("a b c",), ("d",)], "text string")
    out = flat_map_split(df, "text")
    assert out.count() == 4
    assert out.filter(F.col("token") > "b").count() == 2


def test_fan_in_union(spark):
    from slipstream_async_spark.operators import fan_in

    a = spark.createDataFrame([(1,)], "x long")
    b = spark.createDataFrame([(2,)], "x long")
    c = spark.createDataFrame([(3,)], "x long")
    assert sorted(r["x"] for r in fan_in(a, b, c).collect()) == [1, 2, 3]


def test_interval_join(spark):
    from slipstream_async_spark.operators import interval_join

    l = spark.createDataFrame([(1, ts(10.0))], "k long, ts timestamp")
    r = spark.createDataFrame(
        [(1, ts(12.0)), (1, ts(30.0)), (2, ts(10.0))], "k long, ts timestamp"
    )
    out = interval_join(
        l, r, key="k", left_ts="ts", right_ts="ts",
        lower="INTERVAL 5 MINUTES", upper="INTERVAL 5 MINUTES",
    )
    assert out.count() == 1


@pytest.mark.filterwarnings(
    "default::slipstream_async_spark.operators.handlers.GlobalSortWarning"
)
def test_batched(spark):
    from slipstream_async_spark.operators.handlers import batched

    df = spark.createDataFrame([(i, ts(i)) for i in range(7)], "seq long, ts timestamp")
    out = batched(df, "ts", size=3)
    counts = {
        r["batch_id"]: r["n"]
        for r in out.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 3, 1: 3, 2: 1}


def test_flat_map_handler_generator_semantics(spark):
    # The reference's generator handler: yield 0..n outputs per record
    # (slipstream/core.py:629-632) — filter (yield nothing) + flat-map.
    from pyspark.sql.types import LongType, StructField, StructType

    from slipstream_async_spark.operators.handlers import flat_map_handler

    df = spark.createDataFrame([(i,) for i in range(5)], "x long")
    schema = StructType([StructField("y", LongType())])

    def evens_twice(row):
        if row.x % 2 == 0:
            yield {"y": row.x}
            yield {"y": row.x * 10}

    out = sorted(r["y"] for r in flat_map_handler(df, evens_twice, schema).collect())
    assert out == [0, 0, 2, 4, 20, 40]


def test_as_udtf_lateral(spark):
    # §2.9 UDTF lane: yield 0..n rows per input through Spark's Python
    # UDTF (the row-at-a-time lane; flat_map_handler is the fast one).
    from slipstream_async_spark.operators.handlers import as_udtf

    def explode_chars(s: str):
        for i, ch in enumerate(s):
            yield i, ch

    chars = as_udtf(explode_chars, "pos int, ch string")
    spark.udtf.register("explode_chars", chars)
    out = spark.sql(
        "SELECT t.w, c.pos, c.ch FROM VALUES ('ab'), ('xyz') AS t(w), "
        "LATERAL explode_chars(t.w) AS c"
    ).collect()
    got = sorted((r["w"], r["pos"], r["ch"]) for r in out)
    assert got == [
        ("ab", 0, "a"), ("ab", 1, "b"),
        ("xyz", 0, "x"), ("xyz", 1, "y"), ("xyz", 2, "z"),
    ]


def test_approx_count_distinct_tolerance(spark):
    # A8 approximate aggregation: HLL++ estimate within rsd of exact
    # (no DuckDB oracle — sketches differ across engines by design).
    df = spark.range(0, 20000).selectExpr("id % 5000 AS k")
    exact = 5000
    approx = df.agg(F.approx_count_distinct("k", rsd=0.02).alias("a")).first()["a"]
    assert abs(approx - exact) / exact < 0.06


def test_duplicate_clusters_golden(spark):
    # chain 1-2, 2-3 plus island 7-9: transitive closure with min-id
    # canonical per component.
    from slipstream_async_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False),
        7: (7, True), 9: (7, False),
    }


def test_contiguous_pack_bucket_size_invariant(spark):
    """The two-phase distributed prefix sum is exact: results are
    identical for any bucket_size (including one bucket == the serial
    form), starts are the prefix sums, and chunk assignment follows
    floor(start/budget)."""
    from slipstream_async_spark.operators.packing import (
        chunk_stats,
        contiguous_pack,
    )

    rows = [(i, (i * 7) % 13 + 1) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, n long")

    def run(bucket_size):
        return {
            r["doc_id"]: (r["start"], r["chunk_id"])
            for r in contiguous_pack(
                df, "doc_id", "n", budget=20, bucket_size=bucket_size
            ).collect()
        }

    small, one = run(8), run(10_000)
    assert small == one
    # Serial model.
    start, want = 0, {}
    for i, n in rows:
        want[i] = (start, start // 20)
        start += n
    assert small == want
    stats = {
        r["chunk_id"]: r["n_docs"]
        for r in chunk_stats(
            contiguous_pack(df, "doc_id", "n", 20, 8), "n"
        ).collect()
    }
    assert sum(stats.values()) == 100


_SCAN_FOLDS = {
    "count": {"r": "count"},
    "sum": {"cum": ("sum", "w")},
    "max": {"mx": ("max", "w")},
    "count+sum": {"r": "count", "cum": ("sum", "w")},
}


@pytest.mark.parametrize("parts", [1, 5, 200])
@pytest.mark.parametrize("folds", list(_SCAN_FOLDS))
def test_ordered_scan_matches_single_partition_window(spark, folds, parts):
    """The two-phase distributed scan equals the by-less window for
    every fold and partition count (1 == the serial form, 200 leaves
    ranges empty), over a descending order column and NULL weights:
    a NULL run in mid-order makes ranges start on NULL rows, and the
    first rows' NULLs keep the running sum/max NULL until a weight
    is seen. exact_ntile over the count fold reconstructs NTILE(k)
    bit-for-bit, the uneven-tile case (n % k != 0) included. A float
    sum weight fails closed."""
    from pyspark.sql import Window

    from slipstream_async_spark.operators.aggregations import (
        exact_ntile,
        ordered_scan,
    )

    def weight(i, a):
        return None if a in (0, 4, 5, 6) or i % 7 == 0 else 1 + (i * i) % 9

    rows = [
        (i, (i * 37) % 11, (i * 13) % 7, weight(i, (i * 37) % 11))
        for i in range(103)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, w long")
    order = ["a", F.desc("b"), "id"]
    w = Window.orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    want_cols = {
        "r": F.row_number().over(w),
        "cum": F.sum("w").over(run),
        "mx": F.max("w").over(run),
        "t3": F.ntile(3).over(w),
        "t4": F.ntile(4).over(w),
    }
    fold = _SCAN_FOLDS[folds]
    cols = list(fold) + (["t3", "t4"] if "r" in fold else [])
    want = {
        r["id"]: tuple(r[c] for c in cols)
        for r in df.select(
            "id", *(want_cols[c].alias(c) for c in cols)
        ).collect()
    }
    with pytest.raises(TypeError):
        ordered_scan(
            df.withColumn("wf", F.col("w").cast("double")),
            order,
            {"cum": ("sum", "wf")},
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        scanned = ordered_scan(df, order, fold)
        if "r" in fold:
            n_tot = scanned.agg(F.count("*").cast("bigint").alias("_n"))
            scanned = scanned.crossJoin(F.broadcast(n_tot)).select(
                "*",
                exact_ntile("r", "_n", 3).alias("t3"),
                exact_ntile("r", "_n", 4).alias("t4"),
            )
        got = {
            r["id"]: tuple(r[c] for c in cols) for r in scanned.collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got == want


def test_grouped_zscore_matches_expression_form(spark):
    """applyInPandas grouped-map lane == the window-expression z-score
    (within float noise); singleton/zero-variance groups emit 0."""
    from pyspark.sql import Window

    from slipstream_async_spark.operators.handlers import grouped_zscore

    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [("b", 7.0)] + [
        ("c", 5.0), ("c", 5.0)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        (r["k"], r["v"], r["zscore"])
        for r in grouped_zscore(df, ["k"], "v").collect()
    }
    w = Window.partitionBy("k")
    sd = F.stddev_samp("v").over(w)
    expr_form = df.withColumn(
        "z",
        F.round(
            F.when(
                sd.isNull() | (sd == 0), F.lit(0.0)
            ).otherwise((F.col("v") - F.avg("v").over(w)) / sd),
            4,
        ),
    )
    want = {(r["k"], r["v"], r["z"]) for r in expr_form.collect()}
    assert got == want


def test_operators_on_empty_inputs(spark):
    """Empty-corpus / empty-edge-list robustness: every operator returns
    an empty result with the right schema instead of raising."""
    from slipstream_async_spark.operators.dedup import (
        dedup_ngram_jaccard,
        duplicate_clusters,
    )
    from slipstream_async_spark.operators.handlers import grouped_zscore
    from slipstream_async_spark.operators.packing import contiguous_pack
    from slipstream_async_spark.operators.similarity import brute_force_topk

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_ngram_jaccard(empty_docs, "text", "doc_id").count() == 0

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert duplicate_clusters(empty_pairs).count() == 0

    empty_sized = spark.createDataFrame([], "doc_id long, n long")
    packed = contiguous_pack(empty_sized, "doc_id", "n", budget=10)
    assert packed.count() == 0
    assert {"start", "chunk_id"} <= set(packed.columns)

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    no_queries = spark.createDataFrame([], "query_id long, embedding array<double>")
    assert brute_force_topk(emb, no_queries, k=3).count() == 0

    one_row = spark.createDataFrame([("a", 1.0)], "k string, v double")
    z = grouped_zscore(one_row, ["k"], "v").collect()
    assert len(z) == 1 and z[0]["zscore"] == 0.0


def test_zero_norm_embeddings_rank_last_not_first(spark):
    """Regression: a zero vector's cosine is 0.0 (not NaN, which sorts
    first under desc and would top every ranking); both scoring lanes
    agree and never rank the broken vector above real matches."""
    from slipstream_async_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_expr,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 0.0]),  # padding / failed-encode artifact
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    for lane in (brute_force_topk, brute_force_topk_expr):
        rows = lane(emb, q, k=2).orderBy(F.desc("cosine")).collect()
        assert [r["vec_id"] for r in rows] == [2, 3]
        assert rows[-1]["cosine"] == 0.0


def test_keyless_lanes_warn_global_sort(spark):
    """VERDICT r1 'what's wrong': the keyless fallbacks (asof_join
    by=None, pairwise/accumulate/batched key=None) silently planned a
    single-partition global Window — a latent scale-killer. They must
    now WARN so a 100 TB user can't hit the sequential lane unknowingly,
    and must stay silent when a key is given."""
    import warnings

    from slipstream_async_spark.operators import accumulate, asof_join, pairwise
    from slipstream_async_spark.operators.handlers import (
        GlobalSortWarning,
        batched,
    )

    df = spark.createDataFrame(
        [(i, i % 2, ts(i)) for i in range(6)], "seq long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(0, ts(0.0), "a")], "k long, ts timestamp, v string"
    )

    with pytest.warns(GlobalSortWarning):
        pairwise(df, "ts", cols=["seq"])
    with pytest.warns(GlobalSortWarning):
        accumulate(df, "seq", "ts")
    with pytest.warns(GlobalSortWarning):
        batched(df, "ts", size=2)
    with pytest.warns(GlobalSortWarning):
        asof_join(df, right, on="ts")

    # keyed lanes stay silent
    with warnings.catch_warnings():
        warnings.simplefilter("error", GlobalSortWarning)
        pairwise(df, "ts", cols=["seq"], key="k")
        accumulate(df, "seq", "ts", key="k")
        batched(df, "ts", size=2, key="k")
        asof_join(df, right, on="ts", by="k")


def test_ivf_index_roundtrip_and_partition_pruning(spark, tmp_path):
    """A materialized IVF index (ivf_index_write -> ivf_topk(index_path))
    returns EXACTLY the in-memory path's results, and the probe plan
    prunes the lists scan to probed list_ids via dynamic partition
    pruning — the read-only-probed-lists property that makes a stored
    inverted-file index worth materializing."""
    from pyspark.sql import functions as F

    from slipstream_async_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk,
    )
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    ivf_index_write(emb, path, n_lists=8)

    mem = ivf_topk(emb, q, k=5, n_lists=8, n_probe=2)
    disk = ivf_topk(None, q, k=5, n_probe=2, index_path=path)
    assert sorted(map(tuple, mem.collect())) == sorted(
        map(tuple, disk.collect())
    )

    plan = disk._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning#" in plan, plan

    with pytest.raises(ValueError):
        ivf_topk(None, q, k=5)


def test_lsh_multi_table_recall_dial(spark):
    """n_tables=2 (rotated dimension-slice bucket tables, candidates
    unioned) must strictly improve recall@5 over n_tables=1 on the
    sf0.001 embeddings, with a strictly larger candidate set — the
    standard multi-table LSH recall/cost trade."""
    from slipstream_async_spark.operators import similarity as SIM
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r[0], r[1])
        for r in SIM.brute_force_topk(emb, q, k=5)
        .select("query_id", "vec_id")
        .collect()
    }

    def ann_and_candidates(nt):
        ann = {
            (r[0], r[1])
            for r in SIM.lsh_bucket_topk(
                emb, q, k=5, n_planes=8, n_tables=nt
            )
            .select("query_id", "vec_id")
            .collect()
        }
        cand = None
        for t in range(nt):
            cb = emb.select(
                "vec_id",
                SIM.sign_bucket(F.col("embedding"), 8, t * 8).alias("_b"),
            )
            qb = q.select(
                "query_id",
                SIM.sign_bucket(F.col("embedding"), 8, t * 8).alias("_b"),
            )
            c = (
                cb.join(qb, "_b")
                .filter(F.col("vec_id") != F.col("query_id"))
                .select("query_id", "vec_id")
            )
            cand = c if cand is None else cand.union(c)
        return ann, cand.distinct().count()

    ann1, n1 = ann_and_candidates(1)
    ann2, n2 = ann_and_candidates(2)
    r1 = len(ann1 & exact) / len(exact)
    r2 = len(ann2 & exact) / len(exact)
    assert ann1 & exact <= ann2 & exact or r2 >= r1
    assert r2 > r1, (r1, r2)
    assert n2 > n1, (n1, n2)


def test_semdedup_keep_rule_and_cluster_guard(spark):
    """SemDeDup greedy prune: exactly one of a mutual near-dup pair is
    dropped (whichever has the higher cosine to the cluster centroid —
    the paper keeps the atypical member), vectors with no near-dup
    survive, and ``max_cluster_size`` exempts oversized clusters from
    pruning instead of paying their quadratic pair join."""
    from slipstream_async_spark.operators.similarity import semdedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.001, 0.0, 0.0]),  # near-dup of 0 at cos ~0.9999995
            (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to both
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semdedup(emb, n_clusters=1, threshold=0.99).collect()
    }
    assert len(out) == 3
    # the dup pair loses exactly one member; the orthogonal vector stays
    assert sorted([out[0]["keep"], out[1]["keep"]]) == [False, True]
    assert out[2]["keep"] is True
    # the kept member of the pair is the one LESS similar to the centroid
    kept = 0 if out[0]["keep"] else 1
    dropped = 1 - kept
    assert out[kept]["cent_cos"] <= out[dropped]["cent_cos"]

    # hot-cluster guard: the single 3-vector cluster exceeds the cap, so
    # it is exempted wholesale (all kept) and surfaced in stats
    stats: dict = {}
    guarded = semdedup(
        emb, n_clusters=1, threshold=0.99, max_cluster_size=2, stats=stats
    )
    assert all(r["keep"] for r in guarded.collect())
    skipped = stats["skipped_clusters"].collect()
    assert len(skipped) == 1 and skipped[0]["cluster_size"] == 3

    with pytest.raises(ValueError):
        semdedup(emb, n_clusters=1, max_cluster_size=1)


def test_pq_encode_roundtrip_invariants(spark):
    """Product quantization: every vector gets m codes in [0, n_codes);
    a vector that IS a codebook seed reconstructs to itself exactly
    (its subvectors argmin to their own codewords), so its
    reconstruction cosine is 1; and pq_topk ranks by cosine against the
    reconstruction (spot-checked against a manual rescore)."""
    from slipstream_async_spark.functions.vectors import cosine_similarity
    from slipstream_async_spark.operators.similarity import (
        _pq_seed_codebook,
        pq_encode,
        pq_topk,
    )
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = _pq_seed_codebook(emb, n_codes=16)
    assert len(seeds) == 16 and len(seeds[0]) == 64

    enc = pq_encode(emb, m=8, n_codes=16)
    rows = enc.collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])

    # seed vectors reconstruct exactly -> recon cosine 1
    seed_ids = [
        r[0]
        for r in emb.selectExpr(
            "vec_id",
            "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10)"
            " as bigint) as h",
        )
        .orderBy("h", "vec_id")
        .limit(16)
        .collect()
    ]
    fid = (
        emb.join(enc, "vec_id")
        .filter(F.col("vec_id").isin(seed_ids))
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("recon")), 6
            ).alias("rc"),
        )
        .collect()
    )
    assert len(fid) == 16 and all(r["rc"] == 1.0 for r in fid)

    # pq_topk == rank-by-cosine-over-reconstruction
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r[0], r[1])
        for r in pq_topk(emb, q, k=3).select("query_id", "vec_id").collect()
    }
    manual = (
        emb.join(enc.select("vec_id", "recon"), "vec_id")
        .crossJoin(
            F.broadcast(
                q.select("query_id", F.col("embedding").alias("_qv"))
            )
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("_qv"), F.col("recon")), 6).alias(
                "c"
            ),
        )
    )
    from pyspark.sql import Window as W

    wm = W.partitionBy("query_id").orderBy(F.desc("c"), F.asc("vec_id"))
    want = {
        (r[0], r[1])
        for r in manual.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") <= 3)
        .select("query_id", "vec_id")
        .collect()
    }
    assert got == want


def test_pii_scrub_and_counts(spark):
    """PII scrub replaces emails, dotted-quad IPs and NNN-NNN-NNNN
    phones with typed tokens and counts each kind; clean text passes
    through byte-identical."""
    from slipstream_async_spark.functions.text import pii_counts, pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.io or 10.0.42.7 or 555-123-4567 twice "
                "555-000-1111"),
            (2, "nothing sensitive here 1.2 v3.4.5 12-34-56"),
        ],
        "id long, t string",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id", pii_scrub("t").alias("red"), *pii_counts("t").values()
        ).collect()
    }
    assert out[1]["n_email"] == 1
    assert out[1]["n_ipv4"] == 1
    assert out[1]["n_phone"] == 2
    assert out[1]["red"] == (
        "mail [EMAIL] or [IP] or [PHONE] twice [PHONE]"
    )
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["red"] == "nothing sensitive here 1.2 v3.4.5 12-34-56"


def test_epoch_capped_mix_waterfill(spark):
    """Epoch-capped mixing: capped sources sit at exactly
    max_epochs * tokens, freed budget flows to uncapped sources
    (their allocation strictly exceeds the uncapped temperature share),
    and total allocation never exceeds the budget."""
    from slipstream_async_spark.operators.mixing import epoch_capped_mix

    # one tiny source (saturates fast) + two large ones
    df = spark.createDataFrame(
        [("tiny", 1, 100), ("big_a", 1, 10_000), ("big_b", 1, 12_000)],
        "source string, n_docs long, tokens long",
    )
    out = {
        r["source"]: r
        for r in epoch_capped_mix(
            df, "source", "tokens", alpha=0.5, token_budget=30_000,
            max_epochs=2.0, pre_aggregated=True,
        ).collect()
    }
    assert out["tiny"]["capped"] and out["tiny"]["epochs"] == 2.0
    assert out["tiny"]["alloc_tokens"] == 200.0
    assert not out["big_a"]["capped"] and not out["big_b"]["capped"]
    total_alloc = sum(r["alloc_tokens"] for r in out.values())
    assert total_alloc <= 30_000 + 1e-6
    # freed budget was redistributed: uncapped allocations exceed their
    # naive uncapped share (weight * budget)
    for s in ("big_a", "big_b"):
        assert out[s]["alloc_tokens"] > out[s]["weight"] * 30_000 - 1e-6

    # degenerate: budget so large everything saturates -> all capped,
    # allocation = cap everywhere, no null/zero-division fallout
    allcap = epoch_capped_mix(
        df, "source", "tokens", alpha=0.5, token_budget=10_000_000,
        max_epochs=2.0, pre_aggregated=True,
    ).collect()
    assert all(r["capped"] for r in allcap)
    assert all(r["epochs"] == 2.0 for r in allcap)


def test_ivfadc_composition_and_rerank(spark, tmp_path):
    """IVFADC contract: with a rerank window covering every probed
    candidate, the exact re-rank reduces IVFADC to plain IVF (same
    probed lists, same exact scoring) — the compression must cost
    nothing when the refine stage sees everything. Pure-ADC (rerank=0)
    still returns k rows per query from probed lists only, and the
    stored-index lane reproduces the in-memory one."""
    from slipstream_async_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk,
        ivfadc_topk,
    )
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, n_lists=8, n_probe=2, m=8, n_codes=16)

    ivf = sorted(map(tuple, ivf_topk(emb, q, k=5, n_lists=8, n_probe=2).collect()))
    adc_full = sorted(
        map(tuple, ivfadc_topk(emb, q, rerank=10**6, **kw).collect())
    )
    assert adc_full == ivf

    pure_adc = ivfadc_topk(emb, q, rerank=0, **kw).collect()
    assert {r["query_id"] for r in pure_adc} == {0, 1, 2, 3, 4}
    from collections import Counter

    assert all(c == 5 for c in Counter(r["query_id"] for r in pure_adc).values())

    path = str(tmp_path / "ivfadc_idx")
    ivf_index_write(emb, path, n_lists=8)
    mem = sorted(map(tuple, ivfadc_topk(emb, q, rerank=20, **kw).collect()))
    disk = sorted(
        map(
            tuple,
            ivfadc_topk(
                None, q, k=5, n_probe=2, m=8, n_codes=16, rerank=20,
                index_path=path,
            ).collect(),
        )
    )
    assert mem == disk

    with pytest.raises(ValueError):
        ivfadc_topk(None, q, k=5)


def test_ivfadc_legacy_index_fallback_and_error_propagation(spark, tmp_path):
    """The stored-seeds read may fall back to the assignment rescan ONLY
    for a legacy index that predates pq_seeds (PATH_NOT_FOUND); any
    other read error — here an unreadable empty pq_seeds dir — must
    propagate, not silently degrade to a full corpus rescan."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    from slipstream_async_spark.operators.similarity import (
        ivf_index_write,
        ivfadc_topk,
    )
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, n_probe=2, m=8, n_codes=16, rerank=20)
    path = str(tmp_path / "legacy_idx")
    ivf_index_write(emb, path, n_lists=8)
    with_seeds = sorted(
        map(tuple, ivfadc_topk(None, q, index_path=path, **kw).collect())
    )

    # legacy index: no pq_seeds at all -> rebuild seeds from the stored
    # assignments; same (md5, id) selection -> identical results
    shutil.rmtree(os.path.join(path, "pq_seeds"))
    legacy = sorted(
        map(tuple, ivfadc_topk(None, q, index_path=path, **kw).collect())
    )
    assert legacy == with_seeds

    # a pq_seeds path that EXISTS but is unreadable is corruption, not
    # a legacy index — it must raise, not rescan
    os.makedirs(os.path.join(path, "pq_seeds"))
    with pytest.raises(AnalysisException):
        ivfadc_topk(None, q, index_path=path, **kw).collect()


def test_remove_boilerplate_chunks_rewrite(spark):
    """Boilerplate removal rewrites documents: a chunk content shared by
    >= min_docs documents is cut from every occurrence, unique chunks
    survive in order, and a doc reduced to nothing hashes as the empty
    string."""
    import hashlib

    from slipstream_async_spark.operators.dedup import (
        remove_boilerplate_chunks,
    )

    boiler = "footer all rights reserved"  # 4-token chunk
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler}"),
            (2, f"{boiler} epsilon zeta eta theta"),
            (3, boiler),
            (4, "iota kappa lambda mu"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_chunks(
            docs, "text", "doc_id", chunk_size=4, min_docs=2
        ).collect()
    }
    assert len(out) == 4
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1]["n_tokens_before"] == 8
    assert out[1]["n_tokens_after"] == 4
    assert out[1]["n_chunks_removed"] == 1
    assert out[1]["cleaned_md5"] == md5("alpha beta gamma delta")
    assert out[2]["cleaned_md5"] == md5("epsilon zeta eta theta")
    # doc 3 is pure boilerplate -> rewritten to the empty string
    assert out[3]["n_tokens_after"] == 0
    assert out[3]["cleaned_md5"] == md5("")
    # untouched doc passes through whole
    assert out[4]["n_chunks_removed"] == 0
    assert out[4]["cleaned_md5"] == md5("iota kappa lambda mu")


def test_weighted_sample_aes_properties(spark):
    """A-ES weighted sampling: deterministic across calls, k per
    stratum, non-positive weights excluded, and across many salts a
    10x-weight row is selected far more often than a 1x row."""
    from slipstream_async_spark.operators.sampling import weighted_sample

    rows = [(i, "s", 10.0 if i < 10 else 1.0) for i in range(50)]
    rows.append((99, "s", 0.0))  # weight 0: never sampled
    df = spark.createDataFrame(rows, "id long, src string, w double")

    a = sorted(r["id"] for r in weighted_sample(df, "w", "id", 5, "src").collect())
    b = sorted(r["id"] for r in weighted_sample(df, "w", "id", 5, "src").collect())
    assert a == b and len(a) == 5 and 99 not in a

    heavy_hits = light_hits = 0
    for s in range(20):
        got = {
            r["id"]
            for r in weighted_sample(
                df, "w", "id", 5, "src", salt=f"t{s}"
            ).collect()
        }
        heavy_hits += sum(1 for i in got if i < 10)
        light_hits += sum(1 for i in got if 10 <= i < 50)
    # 10 heavy rows (w=10) vs 40 light rows (w=1): heavy should win the
    # majority of the 5 slots despite being outnumbered 4:1
    assert heavy_hits > light_hits, (heavy_hits, light_hits)


def test_zorder_key_interleave_and_layout(spark, tmp_path):
    """zorder_key: exact Morton interleave (checked against a Python
    re-implementation), and write_zordered produces files whose z-ranges
    are disjoint and whose per-file spans are tight in BOTH dimensions
    simultaneously."""
    import glob as _glob

    from slipstream_async_spark.functions.layout import (
        write_zordered,
        zorder_key,
        zorder_sql,
    )

    def py_morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 2, 9, 1024)],
        "x long, y long",
    )
    got = df.select("x", "y", zorder_key("x", "y", 16).alias("z")).collect()
    for r in got:
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])

    # SQL emitter agrees with the expression lane
    import duckdb

    assert (
        duckdb.sql(f"SELECT {zorder_sql('5', '9', 16)}").fetchone()[0]
        == py_morton(5, 9)
    )

    # layout: grid data written z-ordered -> per-file z ranges disjoint,
    # per-file x/y spans far below the global span
    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )
    path = str(tmp_path / "zordered")
    write_zordered(grid, path, "x", "y", bits=6, n_files=8)
    spans = []
    ranges = []
    for f in sorted(_glob.glob(f"{path}/part-*.parquet")):
        pdf = spark.read.parquet(f).toPandas()
        if pdf.empty:
            continue
        z = [py_morton(int(r.x), int(r.y), 6) for r in pdf.itertuples()]
        ranges.append((min(z), max(z)))
        spans.append(
            (
                pdf.x.max() - pdf.x.min(),
                pdf.y.max() - pdf.y.min(),
                len(pdf),
            )
        )
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file z-ranges overlap"
    # locality: every file's bounding box stays proportional to its row
    # count (a random layout gives every file the full 64x64 box = 8x
    # its rows), and no file spans the whole domain in both dims at
    # once. Exact span widths wobble with repartitionByRange's sampled
    # boundaries, so the invariant is the AREA, not per-dim spans.
    for sx, sy, n in spans:
        assert (sx + 1) * (sy + 1) <= 5 * n, spans
        assert not (sx == 63 and sy == 63), spans


def test_curriculum_order_bands(spark):
    """curriculum_order: equal-width phase bands over the score range,
    monotone in score, degenerate equal-score input collapses to phase
    1, and order_key is a stable id hash."""
    from slipstream_async_spark.operators.mixing import curriculum_order

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id long, score double"
    )
    out = {r["id"]: r for r in curriculum_order(df, "score", "id", phases=4).collect()}
    # score range [0,7] -> width 1.75: scores 0,1 -> phase1 ... 7 -> 4
    assert [out[i]["phase"] for i in range(8)] == [1, 1, 2, 2, 3, 3, 4, 4]
    by_score = [out[i]["phase"] for i in range(8)]
    assert by_score == sorted(by_score)

    same = spark.createDataFrame(
        [(1, 3.0), (2, 3.0)], "id long, score double"
    )
    assert all(
        r["phase"] == 1
        for r in curriculum_order(same, "score", "id").collect()
    )

    again = {r["id"]: r["order_key"] for r in curriculum_order(df, "score", "id").collect()}
    assert again == {i: out[i]["order_key"] for i in range(8)}


def test_logistic_fit_matches_numpy_replica(spark):
    """logistic_fit: the 5-step full-batch GD weights match a NumPy
    re-implementation with the same per-step 6dp rounding exactly, and
    the fit separates a separable toy set (positive class scores
    higher)."""
    import numpy as np

    from slipstream_async_spark.operators.learn import (
        logistic_fit,
        logistic_score,
    )

    rows = [
        (1.0, 0.9, 0.8),
        (1.0, 0.8, 0.7),
        (1.0, 0.95, 0.9),
        (0.0, 0.1, 0.2),
        (0.0, 0.2, 0.1),
        (0.0, 0.05, 0.15),
    ]
    df = spark.createDataFrame(rows, "y double, a double, b double")
    got = logistic_fit(df, ["a", "b"], "y", steps=5, lr=1.0)

    X = np.hstack([np.ones((6, 1)), np.array([r[1:] for r in rows])])
    yv = np.array([r[0] for r in rows])
    w = np.zeros(3)
    for _ in range(5):
        p = 1.0 / (1.0 + np.exp(-X @ w))
        w = np.round(w + (X.T @ (yv - p)) / len(yv), 6)
    assert got == list(w), (got, list(w))

    scored = df.withColumn(
        "p", logistic_score(df, ["a", "b"], got)
    ).collect()
    pos = [r["p"] for r in scored if r["y"] == 1.0]
    neg = [r["p"] for r in scored if r["y"] == 0.0]
    assert min(pos) > max(neg)


def test_length_buckets_edges_and_overhead(spark):
    """length_buckets: exact power-of-2 edges (n=1 -> 1, n=2 -> 2,
    n=3 -> 4, exact powers stay put), truncation counted at the capped
    top bucket, and padding arithmetic checks out."""
    from slipstream_async_spark.operators.packing import length_buckets

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (5,), (64,), (100,)], "n long"
    )
    out = {r["bucket_edge"]: r for r in length_buckets(df, "n").collect()}
    assert set(out) == {1, 2, 4, 8, 64, 128}
    assert out[4]["n_seqs"] == 2  # 3 and 4
    assert out[4]["n_tokens"] == 7
    assert out[4]["padded_tokens"] == 8
    assert out[4]["pad_overhead"] == round(8 / 7 - 1, 6)
    assert out[64]["n_seqs"] == 1  # exact power stays in its own bucket
    assert all(r["global_padded_tokens"] == r["n_seqs"] * 100 for r in out.values())
    assert all(r["n_truncated"] == 0 for r in out.values())

    capped = {
        r["bucket_edge"]: r
        for r in length_buckets(
            spark.createDataFrame([(5,), (100,)], "n long"), "n", max_len=8
        ).collect()
    }
    assert set(capped) == {8}
    assert capped[8]["n_seqs"] == 2
    assert capped[8]["n_truncated"] == 1


def test_kmeans_trains_and_feeds_ivf(spark):
    """kmeans_fit: the fixed-iteration Lloyd loop matches a NumPy
    replica (same seeds, same per-round 6dp rounding) coordinate-for-
    coordinate, and the trained centroids drop into ivf_index as the
    coarse quantizer."""
    import hashlib

    import numpy as np

    from slipstream_async_spark.operators.learn import kmeans_fit
    from slipstream_async_spark.operators.similarity import ivf_index
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    k, iters = 4, 2
    cents = {
        r["list_id"]: r["centroid"]
        for r in kmeans_fit(emb, k=k, iters=iters).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def h32(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    order = sorted(range(len(ids)), key=lambda j: (h32(ids[j]), ids[j]))
    C = np.round(X[order[:k]], 6)
    for _ in range(iters):
        cos = np.round(
            (X @ C.T)
            / (
                np.linalg.norm(X, axis=1)[:, None]
                * np.linalg.norm(C, axis=1)[None, :]
            ),
            6,
        )
        # argmax with lowest-list tie-break = first max
        assign = np.argmax(cos, axis=1)
        for j in range(k):
            if (assign == j).any():
                C[j] = np.round(X[assign == j].mean(axis=0), 6)
    for j in range(k):
        got = np.array(cents[j])
        assert np.allclose(got, C[j], atol=2e-6), (j, got[:4], C[j][:4])

    # trained centroids feed ivf_index as the coarse quantizer
    trained = (
        kmeans_fit(emb, k=k, iters=iters)
        .selectExpr("list_id AS cent_id", "centroid AS cent_vec")
    )
    _, assigned = ivf_index(emb, centroids=trained)
    counts = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert counts <= set(range(k)) and len(counts) >= 2
    assert assigned.count() == emb.count()


def test_scd2_build_versions(spark):
    """scd2_build: consecutive unchanged attributes collapse into one
    version, a re-change opens a new version, intervals chain
    [valid_from, valid_to) with NULL valid_to on the current row, and
    same-timestamp updates order deterministically by the tie-break."""
    from slipstream_async_spark.operators.joins import scd2_build

    rows = [
        (1, ts(0.0), 10, "gold"),
        (1, ts(1.0), 11, "gold"),      # unchanged -> collapsed
        (1, ts(2.0), 12, "silver"),    # change
        (1, ts(2.0), 13, "bronze"),    # same ts, later id -> after 12
        (2, ts(5.0), 20, "basic"),
    ]
    df = spark.createDataFrame(
        rows, "cust long, ts timestamp, upd_id long, tier string"
    )
    out = scd2_build(df, "cust", "ts", ["tier"], order_cols=["upd_id"])
    got = sorted(
        (
            (r["cust"], r["tier"], r["valid_from"], r["valid_to"],
             r["is_current"])
            for r in out.collect()
        )
    )
    assert got == [
        (1, "bronze", ts(2.0), None, True),
        (1, "gold", ts(0.0), ts(2.0), False),
        (1, "silver", ts(2.0), ts(2.0), False),
        (2, "basic", ts(5.0), None, True),
    ]


def test_asof_join_streaming_without_by_raises(spark):
    """The no-'by' global-sort fallback is refused outright on
    unbounded input (a single-task sequential stage on a stream is a
    scale-killer, not a parity convenience); batch keeps the
    documented warn-fallback."""
    import pytest as _pytest

    from slipstream_async_spark.operators.joins import asof_join

    stream = spark.readStream.format("rate").load()  # timestamp, value
    static = spark.createDataFrame(
        [(0, "x")], "value long, tag string"
    ).withColumn("timestamp", F.current_timestamp())
    with _pytest.raises(ValueError, match="streaming input requires"):
        asof_join(stream, static, on="timestamp")
    # keyed streaming construction stays allowed
    asof_join(stream, static, on="timestamp", by="value")


def test_exact_auc_requires_label_col(spark):
    import pytest as _pytest

    from slipstream_async_spark.operators.aggregations import exact_auc

    df = spark.createDataFrame([(1, True)], "score int, label boolean")
    with _pytest.raises(ValueError, match="label_col is required"):
        exact_auc(df, "score")


def test_ivf_mapside_probes_match_generic_path(spark):
    """Probe selection strategy must not change results: the shuffle-
    free inlined-centroid projection (ivf_probes_mapside — the
    streaming ANN sink's per-trigger path) and the generic
    crossJoin + row_number window inside ivf_topk must produce the
    SAME top-k (same tie-breaks: cosine desc, cent_id asc)."""
    from slipstream_async_spark.operators.similarity import (
        _ivf_score_probes,
        centroid_array_literal,
        ivf_index,
        ivf_probes_mapside,
        ivf_topk,
    )
    from slipstream_async_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents, assigned = ivf_index(emb, 8, "vec_id", "embedding")
    generic = ivf_topk(None, q, k=4, n_probe=3, index=(cents, assigned))
    cent_rows = [(r["cent_id"], list(r["cent_vec"])) for r in cents.collect()]
    for centroids in (cent_rows, centroid_array_literal(cent_rows)):
        probes = ivf_probes_mapside(q, centroids, 3)
        mapside = _ivf_score_probes(
            assigned, probes, 4, "vec_id", "embedding", "query_id"
        )
        key = lambda r: (r["query_id"], -r["cosine"], r["vec_id"])  # noqa: E731
        assert sorted(mapside.collect(), key=key) == sorted(
            generic.collect(), key=key
        )


def test_ivf_mapside_cutover_dispatches_to_generic(spark):
    """Above MAPSIDE_MAX_LISTS the map-side entry point must NOT inline
    a plan literal (at 100 TB you run 4k-64k lists — megabytes of plan
    per task): it dispatches to the generic crossJoin+window lane with
    identical results, and centroid_array_literal refuses outright."""
    import pytest as _pytest

    from slipstream_async_spark.operators.similarity import (
        MAPSIDE_MAX_LISTS,
        _probes_generic,
        centroid_array_literal,
        ivf_probes_mapside,
    )

    n_lists = MAPSIDE_MAX_LISTS + 44
    rng_rows = [
        (i, [float((i * 7 + d * 13) % 17) - 8.0 for d in range(8)])
        for i in range(n_lists)
    ]
    q = spark.createDataFrame(
        [(j, [float((j * 11 + d * 3) % 19) - 9.0 for d in range(8)])
         for j in range(5)],
        "query_id int, embedding array<double>",
    )
    probes = ivf_probes_mapside(q, rng_rows, 4)
    # the generic lane was chosen: a per-query rank window is in the
    # plan, and no array literal the size of the centroid table is
    plan = probes._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan.lower()
    cents = spark.createDataFrame(
        rng_rows, "cent_id int, cent_vec array<double>"
    )
    expect = _probes_generic(q, cents, 4, "embedding", "query_id")
    key = lambda r: (r["query_id"], r["list_id"])  # noqa: E731
    got = sorted(probes.select("query_id", "list_id").collect(), key=key)
    want = sorted(expect.select("query_id", "list_id").collect(), key=key)
    assert got == want and len(got) == 5 * 4
    with _pytest.raises(ValueError, match="refusing to inline"):
        centroid_array_literal(rng_rows)
