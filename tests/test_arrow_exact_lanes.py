"""r12 optimization: the Arrow exact-fold similarity lanes must be
bit-identical to the JVM expression lanes they replaced — same
index-ordered IEEE folds, same null semantics, same tie-breaks. These
tests compare both lanes on real testdata and on adversarial vectors
(nulls, zero norms, wrong lengths, duplicates) and fail on ANY
difference, including last-ulp float divergence (struct-packed bit
comparison); the cutover tests check that an anchor side past
``_ARROW_TOPK_MAX_QUERIES`` takes the expression lane."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from slipstream_async_spark.operators import similarity as SIM


SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    def key(t):
        return tuple(
            (x is None, struct.pack(">d", x).hex())
            if isinstance(x, float)
            else (x is None, x)
            for x in t
        )

    return sorted([tuple(r) for r in df.collect()], key=key)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def anchors(emb):
    return (
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "query_id")
        .limit(32)
        .drop("_h")
    )


def test_brute_force_topk_matches_expression_lane(emb, anchors):
    a = _rows(SIM.brute_force_topk(emb, anchors, k=5))
    b = _rows(SIM.brute_force_topk_expr(emb, anchors, k=5))
    assert a == b


def test_brute_force_topk_with_null_and_zero_vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),          # null vector: null cosine, ranks last
        (4, [0.0, 0.0, 0.0]),  # zero norm: cosine 0.0 by the guard
        (5, [1.0, 0.0, 0.0]),  # exact duplicate: id tie-break
        (6, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(1, 6)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = _rows(SIM.brute_force_topk(df, q, k=4))
    b = _rows(SIM.brute_force_topk_expr(df, q, k=4))
    assert a == b


def _l2sq_reference(corpus, anchors, n, query_id_col="query_id"):
    from pyspark.sql import Window

    from slipstream_async_spark.functions import vectors as VEC

    e, v = F.col("embedding"), F.col("_qvec")
    p = (
        corpus.crossJoin(
            F.broadcast(
                anchors.select(query_id_col, F.col("embedding").alias("_qvec"))
            )
        )
        .filter(F.col("vec_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "vec_id",
            (VEC.dot(e, e) - 2 * VEC.dot(e, v) + VEC.dot(v, v)).alias(
                "l2sq"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy("l2sq", "vec_id")
    return p.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= n
    )


def test_l2sq_topn_matches_expression_shape(emb, anchors):
    qa = anchors.withColumnRenamed("query_id", "anchor_id")
    new = _rows(SIM.l2sq_topn(emb, qa, n=2, query_id_col="anchor_id"))
    old = _rows(_l2sq_reference(emb, qa, 2, "anchor_id"))
    assert new == old


def test_anchor_cosine_scores_matches_cross_join(emb):
    from slipstream_async_spark.functions import vectors as VEC

    q = (
        emb.select(
            F.col("vec_id").alias("aid"),
            F.col("embedding"),
            F.col("label").alias("alabel"),
        )
        .orderBy("aid")
        .limit(16)
    )
    new = _rows(
        SIM.anchor_cosine_scores(
            emb, q, query_id_col="aid",
            corpus_cols=["label"], query_cols=["alabel"],
        ).select("aid", "alabel", "label", F.round("cosine", 6).alias("c"))
    )
    old = _rows(
        emb.crossJoin(
            F.broadcast(
                q.select(
                    "aid", F.col("embedding").alias("av"), "alabel"
                )
            )
        )
        .filter(F.col("vec_id") != F.col("aid"))
        .select(
            "aid",
            "alabel",
            "label",
            F.round(
                VEC.cosine_similarity(F.col("embedding"), F.col("av")), 6
            ).alias("c"),
        )
    )
    assert new == old


def _assign_reference(emb, cents, cent_id_col, cent_vec_col, rounded):
    from pyspark.sql import Window

    from slipstream_async_spark.functions import vectors as VEC

    cos = VEC.cosine_similarity(F.col("embedding"), F.col(cent_vec_col))
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "_cc", F.round(cos, 6) if rounded else cos
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_cc").desc(), F.col(cent_id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("vec_id", F.col(cent_id_col).alias("list_id"))
    )


@pytest.mark.parametrize("rounded", [False, True])
def test_assign_nearest_centroid_matches_window(emb, rounded):
    from slipstream_async_spark.functions.text import hash32

    cents = (
        emb.withColumn("_h", hash32(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        )
    )
    new = _rows(
        SIM.assign_nearest_centroid(emb, cents, rounded=rounded).select(
            "vec_id", "list_id"
        )
    )
    old = _rows(_assign_reference(emb, cents, "cent_id", "cent_vec", rounded))
    assert new == old


def test_assign_handles_null_vector_rows(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "cent_id long, cent_vec array<double>",
    )
    for rounded in (False, True):
        new = _rows(
            SIM.assign_nearest_centroid(df, cents, rounded=rounded).select(
                "vec_id", "list_id"
            )
        )
        old = _rows(
            _assign_reference(df, cents, "cent_id", "cent_vec", rounded)
        )
        assert new == old, f"rounded={rounded}"


def test_semdedup_matches_pair_join_reference(emb):
    from pyspark.sql import Window

    from slipstream_async_spark.functions.vectors import cosine_similarity

    new = _rows(SIM.semdedup(emb, n_clusters=8, threshold=0.3))

    # reference: the pre-r12 intra-cluster pair self-join
    cents, assigned = SIM.ivf_index(emb, 8)
    withc = (
        assigned.join(
            F.broadcast(cents.withColumnRenamed("cent_id", "list_id")),
            "list_id",
        )
        .withColumn(
            "cent_cos",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("cent_vec")), 6
            ),
        )
        .drop("cent_vec")
    )
    w = Window.partitionBy("list_id").orderBy(
        F.col("cent_cos").asc(), F.col("vec_id").asc()
    )
    ranked = withc.withColumn("_pri", F.row_number().over(w))
    dropped = (
        ranked.alias("x")
        .join(ranked.alias("y"), "list_id")
        .filter(F.col("x._pri") < F.col("y._pri"))
        .filter(
            F.round(
                cosine_similarity(
                    F.col("x.embedding"), F.col("y.embedding")
                ),
                6,
            )
            >= 0.3
        )
        .select(F.col("y.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    old = _rows(
        ranked.join(dropped, "vec_id", "left").select(
            "vec_id",
            "list_id",
            "cent_cos",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )
    assert new == old


# One entry per Arrow lane and mode: each runs the lane on (vec_id,
# embedding) corpus rows against (query_id, embedding) anchors and builds
# the expression shape it must reproduce bit for bit.
LANES = (
    "brute_force_topk",
    "anchor_cosine_scores",
    "l2sq_topn",
    "assign_unrounded",
    "assign_rounded",
)


def _cosine_pairs_reference(corpus, anchors):
    from slipstream_async_spark.functions import vectors as VEC

    return (
        corpus.crossJoin(
            F.broadcast(
                anchors.select("query_id", F.col("embedding").alias("_qvec"))
            )
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            VEC.cosine_similarity(F.col("_qvec"), F.col("embedding")).alias(
                "cosine"
            ),
        )
    )


def _lane_and_reference(lane, corpus, anchors):
    if lane == "brute_force_topk":
        return (
            SIM.brute_force_topk(corpus, anchors, k=6),
            SIM.brute_force_topk_expr(corpus, anchors, k=6),
        )
    if lane == "anchor_cosine_scores":
        return (
            SIM.anchor_cosine_scores(corpus, anchors),
            _cosine_pairs_reference(corpus, anchors),
        )
    if lane == "l2sq_topn":
        return (
            SIM.l2sq_topn(corpus, anchors, n=6),
            _l2sq_reference(corpus, anchors, 6),
        )
    rounded = lane == "assign_rounded"
    cents = anchors.select(
        F.col("query_id").alias("cent_id"),
        F.col("embedding").alias("cent_vec"),
    )
    return (
        SIM.assign_nearest_centroid(corpus, cents, rounded=rounded).select(
            "vec_id", "list_id"
        ),
        _assign_reference(corpus, cents, "cent_id", "cent_vec", rounded),
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _adversarial(spark, nan_element):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),  # null vector
        (4, [0.0, 0.0, 0.0]),  # zero norm, also an anchor
        (5, [1.0, 0.0, 0.0]),  # exact duplicate of 1
        (6, [-1.0, 0.0, 0.0]),
        (7, [0.5, None, 0.5]),  # null element
        (8, [0.6, 0.8]),  # shorter: 0.0 against the zero anchor
        (9, [nan_element, 0.0, 1.0]),
        (10, [0.2, 0.7, 0.1]),
        (11, []),  # empty: zero norm, 0.0 against every anchor
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("lane", LANES)
def test_exact_lanes_match_expression_on_adversarial_rows(spark, lane):
    corpus = _adversarial(spark, float("nan"))
    anchors = corpus.filter(F.col("vec_id").isin(1, 4, 6, 10)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    arrow, _ = _lane_and_reference(lane, corpus, anchors)
    # A null element reaches pandas as NaN, so the Arrow lanes cannot
    # tell row 9's NaN element from a null one and score it NULL, as the
    # expression lane scores a null element.
    _, reference = _lane_and_reference(lane, _adversarial(spark, None), anchors)
    assert "MapInPandas" in _plan(arrow)
    assert _rows(arrow) == _rows(reference)


def _synthetic(spark, n, id_col):
    # Deterministic 3-dim vectors; ids 0..n-1 overlap between the two
    # sides so the self-match filter is exercised too.
    i = F.col("id").cast("double")
    return spark.range(n).select(
        F.col("id").alias(id_col),
        F.array(F.sin(i), F.cos(i * 0.7), F.sin(i * 1.3) + 0.5).alias(
            "embedding"
        ),
    )


@pytest.mark.parametrize("lane", LANES)
def test_anchor_cutover_falls_back_to_expression_lane(spark, lane):
    corpus = _synthetic(spark, 20, "vec_id")
    cap = SIM._ARROW_TOPK_MAX_QUERIES
    at_cap, _ = _lane_and_reference(
        lane, corpus, _synthetic(spark, cap, "query_id")
    )
    assert "MapInPandas" in _plan(at_cap)
    over, reference = _lane_and_reference(
        lane, corpus, _synthetic(spark, cap + 1, "query_id")
    )
    assert "MapInPandas" not in _plan(over)
    assert _rows(over) == _rows(reference)
