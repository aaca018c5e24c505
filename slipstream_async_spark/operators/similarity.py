"""Similarity search over embedding columns (ARRAY<FLOAT>).

Exact lanes. Each has a pure-expression form (JVM higher-order-function
folds; the reference) and, while the anchor side fits
``_ARROW_TOPK_MAX_QUERIES`` rows, an Arrow/numpy form that is
bit-identical to it: one shared kernel collects the anchors, splits each
batch by the expression lane's NULL rule and computes the exact
index-ordered cosine; each operator adds only its selection rule.

- ``brute_force_topk`` (expression form ``brute_force_topk_expr``) —
  cosine top-k per query: one corpus scan against the broadcast query
  set, per-batch top-k pre-selection, Spark's rank window decides.
- ``anchor_cosine_scores`` — every (corpus, anchor) cosine, for queries
  that aggregate over all pairs.
- ``l2sq_topn`` — the n smallest squared L2 distances per anchor.
- ``assign_nearest_centroid`` — max-cosine centroid per vector (the IVF
  and k-means assignment step).

Approximate lanes, all pure expression plans:

- ``lsh_bucket_topk`` — sign-LSH bucketed top-k: bucket key = sign bits
  of ``n_planes`` dimensions (axis-aligned hyperplanes — constant-free,
  so the DuckDB oracle reproduces it), multi-table recall dial
  ``n_tables``; candidates share the query's bucket, then exact cosine
  rank. Sign-LSH follows Charikar's rounding-hyperplane scheme (STOC
  2002); ``embedding_near_dup_pairs`` reuses the bucketing for
  cosine >= threshold pairs.
- ``ivf_topk`` — inverted-file (IVF) ANN: a coarse quantizer assigns each
  corpus vector to one of ``n_lists`` lists; queries probe the nearest
  ``n_probe`` lists. Deterministic sampled centroids keep it one-pass and
  oracle-reproducible; ``ivf_index_write`` materializes the index once
  for partition-pruned probes.
- ``pq_encode`` / ``pq_topk`` / ``ivfadc_topk`` — product quantization
  and the composed IVFADC(+R) pipeline (Jégou et al., "Product
  quantization for nearest neighbor search", TPAMI 2011).

``semdedup`` (SemDeDup, arXiv:2303.09540) prunes near-duplicates inside
IVF clusters with a grouped Arrow kernel on the same exact cosine.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from slipstream_async_spark.functions.vectors import cosine_similarity
from slipstream_async_spark.sources.readers import spread


def _ranked_topk(scored: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def brute_force_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector — pure-expression lane.

    ``queries`` needs (query_id_col, vec_col); self-matches (same id) are
    excluded when query ids live in the corpus id space.

    This is the reference implementation (JVM higher-order-function
    folds per pair). :func:`brute_force_topk` routes to the Arrow lane
    when it can prove bit-identical results and falls back here
    otherwise; keep this lane callable for that fallback and for
    equivalence tests.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        )
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine", F.round(cosine_similarity(F.col("_qvec"), F.col(vec_col)), 6)
        )
        .select(query_id_col, id_col, "cosine")
    )
    return _ranked_topk(scored, k, query_id_col, id_col)


# Bound on the driver-collected anchor side of the Arrow lanes. Catalog
# anchor sets are LIMIT 128; anything past this cap stays on the
# expression lane (a broadcast there, a closure here — both bounded).
_ARROW_TOPK_MAX_QUERIES = 4096
# Per-batch candidate margin. Spark's round(x, 6) moves a cosine by at
# most 5e-7 (+ ulps); a row more than 1e-5 below a batch's k-th best
# UNROUNDED cosine therefore rounds strictly below at least k rows of
# its own batch and can never reach the global rounded top-k, under any
# id tie-break. 1e-5 leaves ~10x slack over the 1.01e-6 worst case.
_ARROW_TOPK_MARGIN = 1e-5


def _exact_pair_dots(mat, qt):
    """(n,d) x (m,d) -> (n,m) dot products with the exact left-to-right
    IEEE fold of ``functions.vectors.dot``: per (row, query) the j-th
    step computes ``acc + x_j * y_j`` as two float64 roundings in index
    order — the same operation sequence the JVM expression performs —
    vectorized across the (row, query) plane, one dimension at a time.
    """
    import numpy as np

    n = mat.shape[0]
    m = qt.shape[0]
    acc = np.zeros((n, m), dtype=np.float64)
    for j in range(mat.shape[1]):
        acc += mat[:, j, None] * qt[None, :, j]
    return acc


def _exact_sq_norm(mat):
    """Row-wise sum of squares with the exact index-ordered fold of
    ``functions.vectors.norm`` (pre-sqrt)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        c = mat[:, j]
        acc += c * c
    return acc


def _exact_cosine(mat, sq, q_mat, q_norm):
    """(n, m) cosines of ``functions.vectors.cosine_similarity``: the
    index-ordered dot over ``sqrt(sq) * q_norm`` (``sqrt`` and division
    are single IEEE ops in both engines), and 0.0 wherever that norm
    product is 0.0 — the expression's zero-norm guard, which fires
    before its dot product is looked at."""
    import numpy as np

    dots = _exact_pair_dots(mat, q_mat)
    denom = np.sqrt(sq)[:, None] * q_norm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, 0.0, dots / denom)


def _collect_anchor_rows(queries: DataFrame, cols: list[str]):
    """Driver-collect a bounded anchor frame for the Arrow lanes; None
    when it is too big / empty / holds a null, NaN or infinite vector
    element / mixes vector lengths (callers then fall back to the
    expression lane). ``cols`` starts with the id and the vector."""
    import math

    rows = queries.select(*cols).limit(_ARROW_TOPK_MAX_QUERIES + 1).collect()
    if not rows or len(rows) > _ARROW_TOPK_MAX_QUERIES:
        return None
    vecs = [r[1] for r in rows]
    if any(
        v is None or any(x is None or not math.isfinite(x) for x in v)
        for v in vecs
    ):
        return None
    if len({len(v) for v in vecs}) != 1:
        return None
    return rows


def _batch_matrix(vecs, dim):
    """The float64 matrix of one batch's vectors and each row's squared
    norm, under the expression lane's NULL rule.

    A null vector, or one whose length is not ``dim`` (``zip_with`` pads
    the shorter side with nulls, so its dot products are NULL), becomes a
    row of NaN, and every score it enters is NaN. The Arrow lanes treat
    every NaN score as NULL: mapInPandas' Arrow conversion writes NaN out
    as NULL, and a null vector element comes in as NaN, so a NaN element
    cannot be told from a null one and scores NULL too (the expression
    lane gives NaN for it). A wrong-length row keeps the squared norm of
    its own elements, so the zero-norm guard still scores it 0.0 against
    a zero anchor, as the expression does."""
    import numpy as np

    vecs = [None if v is None else np.asarray(v, dtype=np.float64) for v in vecs]
    mat = np.array(
        [
            v if v is not None and len(v) == dim else np.full(dim, np.nan)
            for v in vecs
        ],
        dtype=np.float64,
    ).reshape(len(vecs), dim)
    sq = _exact_sq_norm(mat)
    for i, v in enumerate(vecs):
        if v is not None and len(v) != dim:
            sq[i] = _exact_sq_norm(v[None, :])[0]
    return mat, sq


def _field(df: DataFrame, col: str, name: str | None = None):
    from pyspark.sql.types import StructField

    return StructField(name or col, df.schema[col].dataType, True)


def _arrow_lane(corpus, id_col, vec_col, row_cols, anchor_cols, dim,
                score, select, out_schema):
    """One exact Arrow lane over ``corpus``.

    Per batch, ``score(mat, sq)`` turns :func:`_batch_matrix`'s output
    into (rows x anchors) float64 scores (NaN = NULL) and
    ``select(scores, ids)`` picks the (row, anchor) index pairs to emit.
    Each ``out_schema`` column is a corpus column (``row_cols``), an
    anchor column (``anchor_cols``: name -> one value per anchor) or,
    for any other name, the score."""
    def run(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            scores = score(*_batch_matrix(b[vec_col], dim))
            rix, cix = select(scores, b[id_col].to_numpy())
            yield pd.DataFrame(
                {
                    c: anchor_cols[c][cix] if c in anchor_cols
                    else b[c].to_numpy()[rix] if c in row_cols
                    else scores[rix, cix]
                    for c in out_schema.names
                }
            )

    return corpus.select(
        *[F.col(c) for c in dict.fromkeys([id_col, vec_col, *row_cols])]
    ).mapInPandas(run, out_schema)


def _anchor_matrix(rows):
    """(ids, float64 matrix) of collected anchor rows."""
    import numpy as np

    return np.array([r[0] for r in rows]), np.array(
        [r[1] for r in rows], dtype=np.float64
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector (Arrow lane).

    Bit-identical to :func:`brute_force_topk_expr`: the per-pair cosine
    is :func:`_exact_cosine`, and Spark itself applies the final
    ``round(_, 6)`` and the global rank window. The Python stage only
    *scores* and *pre-selects*: each batch emits every non-self row
    within ``_ARROW_TOPK_MARGIN`` of its own k-th best unrounded cosine
    — a provable superset of the global rounded top-k (margin argument
    above) — so the rank window sees ~|batches|*m*k rows instead of
    n*m (map-side top-k: shuffle rows collapse before the exchange).
    NULL cosines (NaN here) rank last in Spark and are always emitted,
    so an under-filled query still sees them.

    Falls back to the expression lane when :func:`_collect_anchor_rows`
    refuses the query side (the catalog's anchor sets are LIMIT <= 128
    and clean).
    """
    rows = _collect_anchor_rows(queries, [query_id_col, vec_col])
    if rows is None:
        return brute_force_topk_expr(
            corpus, queries, k, id_col, vec_col, query_id_col
        )
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_ids, q_mat = _anchor_matrix(rows)
    q_norm = np.sqrt(_exact_sq_norm(q_mat))
    m = len(q_ids)

    def top_k_margin(sims, ids):
        sel = sims.copy()
        self_mask = ids[:, None] == q_ids[None, :]
        sel[self_mask] = -np.inf
        nan_mask = np.isnan(sel)
        sel[nan_mask] = -np.inf
        n = sel.shape[0]
        if n > k:
            kth = np.partition(sel, n - k, axis=0)[n - k, :]
        else:
            kth = np.full(m, -np.inf)
        keep = (
            (sel >= (kth - _ARROW_TOPK_MARGIN)[None, :]) | nan_mask
        ) & ~self_mask
        return np.nonzero(keep)

    scored = (
        _arrow_lane(
            corpus, id_col, vec_col, [id_col], {query_id_col: q_ids},
            q_mat.shape[1],
            lambda mat, sq: _exact_cosine(mat, sq, q_mat, q_norm),
            top_k_margin,
            StructType(
                [
                    _field(queries, query_id_col),
                    _field(corpus, id_col),
                    StructField("cosine", DoubleType(), True),
                ]
            ),
        )
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", F.round("cosine", 6))
        .select(query_id_col, id_col, "cosine")
    )
    return _ranked_topk(scored, k, query_id_col, id_col)


def anchor_cosine_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_cols: list[str] | None = None,
    query_cols: list[str] | None = None,
) -> DataFrame:
    """All (corpus x anchor) cosine scores, Arrow exact-fold lane: the
    un-ranked sibling of :func:`brute_force_topk` for queries that
    aggregate over EVERY pair (triplet margins, hubness moments) rather
    than a top-k. Emits one row per (corpus row, anchor) — minus
    self-matches — carrying ``corpus_cols`` / ``query_cols`` pass-through
    attributes and the UNROUNDED exact cosine (callers apply their own
    ``F.round``). Bit-identical to the
    ``crossJoin(broadcast(queries))`` + ``cosine_similarity`` expression
    shape (:func:`_exact_cosine`), which it falls back to when
    :func:`_collect_anchor_rows` refuses the anchor side.
    """
    corpus_cols = corpus_cols or []
    query_cols = query_cols or []
    rows = _collect_anchor_rows(
        queries, [query_id_col, vec_col, *query_cols]
    )
    if rows is None:
        q = F.broadcast(
            queries.select(
                F.col(query_id_col),
                F.col(vec_col).alias("_qvec"),
                *[F.col(c) for c in query_cols],
            )
        )
        return (
            corpus.select(F.col(id_col), F.col(vec_col), *corpus_cols)
            .crossJoin(q)
            .filter(F.col(id_col) != F.col(query_id_col))
            .select(
                query_id_col,
                id_col,
                *corpus_cols,
                *query_cols,
                cosine_similarity(F.col("_qvec"), F.col(vec_col)).alias(
                    "cosine"
                ),
            )
        )
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_ids, q_mat = _anchor_matrix(rows)
    q_norm = np.sqrt(_exact_sq_norm(q_mat))
    q_attrs = {c: np.array([r[2 + i] for r in rows])
               for i, c in enumerate(query_cols)}

    def all_pairs(sims, ids):
        return np.nonzero(ids[:, None] != q_ids[None, :])

    return _arrow_lane(
        corpus, id_col, vec_col, [id_col, *corpus_cols],
        {query_id_col: q_ids, **q_attrs},
        q_mat.shape[1],
        lambda mat, sq: _exact_cosine(mat, sq, q_mat, q_norm),
        all_pairs,
        StructType(
            [
                _field(queries, query_id_col),
                _field(corpus, id_col),
                *[_field(corpus, c) for c in corpus_cols],
                *[_field(queries, c) for c in query_cols],
                StructField("cosine", DoubleType(), True),
            ]
        ),
    ).filter(F.col(id_col) != F.col(query_id_col))


def l2sq_topn(
    corpus: DataFrame,
    queries: DataFrame,
    n: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-anchor n smallest squared L2 distances, exact: emits
    (query_id, id, l2sq, rk) with ``rk`` the 1-based rank under
    (l2sq asc, id asc). The distance is the exact IEEE chain
    ``dot(e,e) - 2*dot(e,v) + dot(v,v)`` of the expression lane (each
    dot an index-ordered fold, ``2*dot`` one multiply, the subtraction
    and addition single roundings — reproduced op-for-op in numpy), so
    per-batch pre-selection needs NO margin: every batch keeps exactly
    the rows at or below its n-th order statistic of l2sq (ties kept
    whole), a provable superset of the global top-n under any id
    tie-break, and the global rank window finishes the job. NULL
    distances (NaN here) rank FIRST under Spark's ascending sort and are
    always emitted.

    Falls back to the crossJoin expression shape when
    :func:`_collect_anchor_rows` refuses the anchor side.
    """
    rows = _collect_anchor_rows(queries, [query_id_col, vec_col])
    w = Window.partitionBy(query_id_col).orderBy("l2sq", id_col)
    if rows is None:
        from slipstream_async_spark.functions import vectors as VECF

        e, v = F.col(vec_col), F.col("_qvec")
        p = (
            corpus.crossJoin(
                F.broadcast(
                    queries.select(
                        F.col(query_id_col), F.col(vec_col).alias("_qvec")
                    )
                )
            )
            .filter(F.col(id_col) != F.col(query_id_col))
            .select(
                query_id_col,
                id_col,
                (
                    VECF.dot(e, e) - 2 * VECF.dot(e, v) + VECF.dot(v, v)
                ).alias("l2sq"),
            )
        )
        return p.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= n
        )
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_ids, q_mat = _anchor_matrix(rows)
    q_sq = _exact_sq_norm(q_mat)
    m = len(q_ids)

    def l2sq(mat, sq):
        return (sq[:, None] - 2.0 * _exact_pair_dots(mat, q_mat)) + q_sq[None, :]

    def bottom_n(l2, ids):
        sel = l2.copy()
        self_mask = ids[:, None] == q_ids[None, :]
        sel[self_mask] = np.inf
        nan_mask = np.isnan(sel)
        sel[nan_mask] = np.inf
        nrows = sel.shape[0]
        if nrows > n:
            vn = np.partition(sel, n - 1, axis=0)[n - 1, :]
        else:
            vn = np.full(m, np.inf)
        return np.nonzero(((sel <= vn[None, :]) | nan_mask) & ~self_mask)

    scored = _arrow_lane(
        corpus, id_col, vec_col, [id_col], {query_id_col: q_ids},
        q_mat.shape[1], l2sq, bottom_n,
        StructType(
            [
                _field(queries, query_id_col),
                _field(corpus, id_col),
                StructField("l2sq", DoubleType(), True),
            ]
        ),
    ).filter(F.col(id_col) != F.col(query_id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= n
    )


def sign_bucket(vec: Column, n_planes: int = 8, offset: int = 0) -> Column:
    """Axis-aligned sign-LSH bucket: bit i set iff
    ``vec[(offset + i) mod dim] >= 0``.

    ``offset`` selects a DIFFERENT slice of dimensions per bucket table —
    the multi-table LSH recall lever: two near vectors that disagree on
    one of dims [0, n_planes) (missed by table 0) still collide in a
    table keyed off dims [n_planes, 2*n_planes). Offsets should step by
    ``n_planes`` so tables use disjoint dimensions (until they wrap at
    the embedding dim)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(
            F.element_at(
                vec.cast("array<double>"),
                (F.pmod(i + F.lit(offset), F.size(vec)) + 1).cast("int"),
            )
            >= 0,
            # 2^i as bigint (F.shiftleft needs a literal count; i is a Column).
            F.pow(F.lit(2.0), i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's LSH
    bucket (equi-join on bucket key — a shuffle on an 8-bit key instead of
    a cross join), exact cosine rank within.

    ``n_tables`` is the recall dial: each extra table re-buckets on a
    rotated slice of dimensions (``sign_bucket`` offset ``t*n_planes``)
    and candidates are UNIONED — a true neighbor missed by one table's
    split is found by another (candidate sets are supersets, so recall
    is monotone in n_tables; cost is one corpus bucket pass per table).
    Duplicate hits across tables collapse with a distinct on the
    deterministic (query, id, cosine) row.
    """
    per_table = []
    for t in range(n_tables):
        off = t * n_planes
        cb = corpus.select(
            F.col(id_col), F.col(vec_col),
            sign_bucket(F.col(vec_col), n_planes, off).alias("_bucket"),
        )
        qb = F.broadcast(
            queries.select(
                F.col(query_id_col), F.col(vec_col).alias("_qvec"),
                sign_bucket(F.col(vec_col), n_planes, off).alias("_bucket"),
            )
        )
        per_table.append(
            cb.join(qb, "_bucket")
            .filter(F.col(id_col) != F.col(query_id_col))
            .withColumn(
                "cosine",
                F.round(cosine_similarity(F.col("_qvec"), F.col(vec_col)), 6),
            )
            .select(query_id_col, id_col, "cosine")
        )
    scored = per_table[0]
    if n_tables > 1:
        for extra in per_table[1:]:
            scored = scored.union(extra)
        scored = scored.distinct()
    return _ranked_topk(scored, k, query_id_col, id_col)


def assign_nearest_centroid(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
    rounded: bool = False,
) -> DataFrame:
    """Max-cosine centroid per corpus vector — (id_col, vec_col,
    ``list_id``) with ties broken toward the smaller centroid id.
    Bit-identical to the ``crossJoin(broadcast(cents))`` + argmax-window
    shape (see ``ivf_index``) and usually far cheaper: cosines come from
    :func:`_exact_cosine`, and

    - ``rounded=False`` compares UNROUNDED cosines, so the exact argmax
      (numpy first-max == smallest centroid id on exact ties) is decided
      per batch and NO window/shuffle exists at all;
    - ``rounded=True`` reproduces ``round(cos, 6)``-then-argmax: each
      row emits every centroid within ``_ARROW_TOPK_MARGIN`` of its
      unrounded max (a provable superset of the rounded argmax — see
      ``brute_force_topk``'s margin argument) and Spark's own
      ``F.round`` + rank window pick the winner over ~1 row per vector.

    NULL cosines (NaN here) rank last, as under the window's descending
    sort, so a vector whose cosines are all NULL takes the smallest
    centroid id. Falls back to the crossJoin expression shape when
    :func:`_collect_anchor_rows` refuses the centroid side.
    """
    rows = _collect_anchor_rows(cents, [cent_id_col, cent_vec_col])
    if rows is None:
        scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
            "_cc",
            F.round(
                cosine_similarity(F.col(vec_col), F.col(cent_vec_col)), 6
            )
            if rounded
            else cosine_similarity(F.col(vec_col), F.col(cent_vec_col)),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_cc").desc(), F.col(cent_id_col).asc()
        )
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.col(cent_id_col).alias("list_id"),
            )
        )
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    # Ascending centroid id so numpy's first-occurrence argmax
    # reproduces the window's (cosine desc, cent_id asc) tie-break.
    c_ids, c_mat = _anchor_matrix(sorted(rows, key=lambda r: r[0]))
    c_norm = np.sqrt(_exact_sq_norm(c_mat))

    def cosine(mat, sq):
        return _exact_cosine(mat, sq, c_mat, c_norm)

    def nan_last(sims):
        return np.where(np.isnan(sims), -np.inf, sims)

    if not rounded:
        def argmax(sims, ids):
            return np.arange(len(sims)), np.argmax(nan_last(sims), axis=1)

        return _arrow_lane(
            corpus, id_col, vec_col, [id_col, vec_col], {"list_id": c_ids},
            c_mat.shape[1], cosine, argmax,
            StructType(
                [
                    _field(corpus, id_col),
                    _field(corpus, vec_col),
                    _field(cents, cent_id_col, "list_id"),
                ]
            ),
        )

    def argmax_margin(sims, ids):
        sel = nan_last(sims)
        rowmax = sel.max(axis=1)
        return np.nonzero(
            (sel >= (rowmax - _ARROW_TOPK_MARGIN)[:, None]) | np.isnan(sims)
        )

    scored = _arrow_lane(
        corpus, id_col, vec_col, [id_col, vec_col], {cent_id_col: c_ids},
        c_mat.shape[1], cosine, argmax_margin,
        StructType(
            [
                _field(corpus, id_col),
                _field(corpus, vec_col),
                _field(cents, cent_id_col),
                StructField("_cc", DoubleType(), True),
            ]
        ),
    ).withColumn("_cc", F.round("_cc", 6))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_cc").desc(), F.col(cent_id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col(id_col), F.col(vec_col), F.col(cent_id_col).alias("list_id")
        )
    )


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse index: (centroids, corpus-with-list-assignment).

    By default centroids are the ``n_lists`` corpus vectors with the
    smallest md5-derived id hashes — a DETERMINISTIC seeded sample, so
    the index build is one pass (no k-means iterations) and an
    independent engine can reproduce it exactly. A TRAINED quantizer
    drops in via ``centroids`` (cent_id, cent_vec) — e.g.
    ``learn.kmeans_fit(...)`` renamed, see
    tests/test_operators.py::test_kmeans_trains_and_feeds_ivf;
    assignment and query paths are unchanged.

    Assignment = broadcast the centroids against the corpus and take the
    max-cosine centroid per vector (tie-break: centroid id). One corpus
    scan + one shuffle for the per-vector argmax window; at 100 TB use
    n_lists ~ sqrt(N) so each list stays a tractable scan unit.
    """
    from slipstream_async_spark.functions.text import hash32

    if centroids is not None:
        cents = centroids.select("cent_id", "cent_vec")
    else:
        cents = (
            corpus.withColumn("_h", hash32(F.col(id_col).cast("string")))
            .orderBy("_h", id_col)
            .limit(n_lists)
            .select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).alias("cent_vec"),
            )
        )
    # Arrow exact-argmax lane (falls back to the crossJoin + argmax
    # window internally): unrounded cosines are exact, so assignment is
    # decided per batch with no window shuffle at all.
    assigned = assign_nearest_centroid(
        corpus,
        cents,
        id_col=id_col,
        vec_col=vec_col,
        cent_id_col="cent_id",
        cent_vec_col="cent_vec",
        rounded=False,
    )
    return cents, assigned


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index ONCE: centroids to ``<path>/centroids``
    (tiny, single file) and list assignments to ``<path>/lists``
    partitioned by ``list_id``.

    At 100 TB the index is built once and probed many times — rebuilding
    centroids + assignments per query batch (what the in-memory
    ``ivf_topk`` path does) re-pays a full corpus scan and argmax
    shuffle on every call. Directory partitioning by ``list_id`` is
    chosen over bucketing deliberately: the probe join side is a
    broadcast (so bucket co-location buys nothing), while partition
    pruning lets a probe read ONLY the probed lists' files — the whole
    point of an inverted-file index. Reference parity:
    slipstream-async keeps its state partitioned and persistent in
    RocksDB (slipstream/caching.py); here the layout lives in the
    parquet directory structure.
    """
    from pyspark.sql import Window as _W

    from slipstream_async_spark.functions.text import hash32

    cents, assigned = ivf_index(corpus, n_lists, id_col, vec_col)
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/lists"
    )
    # Persist the PQ seed vectors too (rank-ordered; same deterministic
    # (md5-hash, id) selection _pq_seed_codebook uses, 32 stored so any
    # n_codes <= 32 slices them) — a stored-index IVFADC probe must
    # never re-scan the corpus just to rebuild a few-KB codebook.
    # orderBy().limit() compiles to TakeOrderedAndProject (each
    # partition keeps its local top-32, the driver merges) — a global
    # row_number() window here would shuffle the ENTIRE corpus into
    # one partition just to pick 32 rows. The rank window below runs
    # on the already-limited 32 rows, so its single partition is fine.
    seeds = (
        corpus.withColumn("_h", hash32(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(32)
        .withColumn(
            "seed_rank", F.row_number().over(_W.orderBy("_h", id_col))
        )
        .select("seed_rank", F.col(vec_col).alias("seed_vec"))
    )
    seeds.coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_seeds")


def ivf_index_read(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) from a materialized IVF index. The
    partition column comes back type-inferred as string, so it is cast
    to the CENTROID ID's dtype (list_id == cent_id by construction) —
    casting blindly to long would null every list_id for string-id
    corpora and make all probes silently return empty."""
    cents = spark.read.parquet(f"{path}/centroids")
    cent_type = dict(cents.dtypes)["cent_id"]
    assigned = spark.read.parquet(f"{path}/lists").withColumn(
        "list_id", F.col("list_id").cast(cent_type)
    )
    return cents, assigned


def ivf_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index_path: str | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: probe the ``n_probe`` nearest
    inverted lists per query, exact-rank within.

    The scan per query drops from N to ~N * n_probe / n_lists; recall is
    the fraction of true neighbors living in probed lists — the standard
    IVF recall/cost dial (raise n_probe toward n_lists for recall 1).

    With ``index_path`` (written by ``ivf_index_write``), the index is
    READ instead of rebuilt — ``corpus``/``n_lists`` are ignored — and
    the probe join triggers dynamic partition pruning on ``list_id``:
    only probed lists' files are scanned. ``index`` — a prebuilt
    (centroids, assignments) pair from :func:`ivf_index_read` — takes
    precedence over both; repeated callers (streaming probes, one call
    per micro-batch) pass it so the index frames are constructed and
    the (small) centroid side cached ONCE, not per trigger.
    """
    if index is not None:
        cents, assigned = index
    elif index_path is not None:
        cents, assigned = ivf_index_read(queries.sparkSession, index_path)
    else:
        if corpus is None:
            raise ValueError("ivf_topk needs either corpus or index_path")
        cents, assigned = ivf_index(corpus, n_lists, id_col, vec_col)
    probes = _probes_generic(queries, cents, n_probe, vec_col, query_id_col)
    return _ivf_score_probes(assigned, probes, k, id_col, vec_col, query_id_col)


def _probes_generic(
    queries: DataFrame,
    cents: DataFrame,
    n_probe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Generic probe selection: broadcast crossJoin against the centroid
    DataFrame + per-query rank window. Scales to any n_lists (the
    centroid side stays a distributed frame); the map-side inlined lane
    (:func:`ivf_probes_mapside`) beats it only while the centroid table
    is small enough to inline as a plan literal."""
    qc = queries.crossJoin(F.broadcast(cents)).withColumn(
        "_qc", cosine_similarity(F.col(vec_col), F.col("cent_vec"))
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("_qc").desc(), F.col("cent_id").asc()
    )
    return (
        qc.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.col("cent_id").alias("list_id"),
        )
    )


def _ivf_score_probes(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Scan the probed lists (broadcast probe set -> dynamic partition
    pruning on list_id for materialized indexes) and exact-rank within."""
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("_qvec"), F.col(vec_col)), 6),
        )
        .select(query_id_col, id_col, "cosine")
    )
    return _ranked_topk(scored, k, query_id_col, id_col)


# Above this many lists, inlining the centroid table as a plan literal
# stops paying: the serialized plan carries n_lists x dim doubles into
# every task, analysis cost grows with the literal, and at the 4k-64k
# lists a 100 TB corpus wants the "literal" would be megabytes of plan.
# ivf_probes_mapside dispatches to the generic crossJoin+window lane
# beyond it, and centroid_array_literal refuses to build the literal.
MAPSIDE_MAX_LISTS = 256


def centroid_array_literal(centroid_rows: list[tuple]) -> Column:
    """Inline a collected centroid table as ONE array-of-struct literal
    Column. Columns are unbound expressions, so the caller builds this
    once and reuses it across micro-batches — expression construction
    crosses py4j per call, and rebuilding n_lists x dim literals every
    trigger is a measured ~0.7 s/trigger of pure driver overhead.
    ``F.lit(list)`` keeps it to two py4j calls per centroid.

    Bounded by construction: raises above ``MAPSIDE_MAX_LISTS`` — an
    unbounded inlined literal bloats every serialized plan; use
    :func:`ivf_probes_mapside` with the collected rows (it dispatches
    to the generic lane) or :func:`_probes_generic` directly."""
    if len(centroid_rows) > MAPSIDE_MAX_LISTS:
        raise ValueError(
            f"refusing to inline {len(centroid_rows)} centroids as a plan "
            f"literal (cutover {MAPSIDE_MAX_LISTS}): use the generic "
            "crossJoin+window probe lane for large list counts"
        )
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cent_id"),
                F.lit([float(x) for x in vec])
                .cast("array<double>")
                .alias("cent_vec"),
            )
            for cid, vec in centroid_rows
        ]
    )


def ivf_probes_mapside(
    queries: DataFrame,
    centroids: "Column | list[tuple]",
    n_probe: int,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe selection WITHOUT a shuffle: the centroid table (n_lists
    rows, collected driver-side ONCE by the caller — e.g. per streaming
    query, not per trigger) is inlined as an array literal and each
    query row picks its ``n_probe`` nearest lists inside a single
    projection (an n_lists-element array sort per row), replacing the
    generic path's crossJoin + row_number window and its shuffle. Use
    when n_lists is O(100s) and the same index is probed repeatedly
    (streaming micro-batches); feed the result to
    :func:`_ivf_score_probes` / the probe join. Tie-breaks match the
    generic path: cosine descending, then cent_id ascending (struct
    array_sort over (-cosine, cent_id)). ``centroids`` is either the
    collected (cent_id, vector) rows or — for repeated callers — a
    prebuilt :func:`centroid_array_literal` Column.

    Size cutover: above ``MAPSIDE_MAX_LISTS`` rows the call DISPATCHES
    to the generic crossJoin+window lane (identical results — the two
    lanes are parity-tested) instead of inlining a plan literal that
    would bloat every serialized stage: at 100 TB you run 4k-64k lists,
    where the literal is megabytes of plan per task. A prebuilt Column
    is bounded by construction (centroid_array_literal raises beyond
    the cutover)."""
    if not isinstance(centroids, Column) and len(centroids) > MAPSIDE_MAX_LISTS:
        cents = queries.sparkSession.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
            "cent_id int, cent_vec array<double>",
        )
        return _probes_generic(queries, cents, n_probe, vec_col, query_id_col)
    cent_arr = (
        centroids
        if isinstance(centroids, Column)
        else centroid_array_literal(centroids)
    )
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            (-cosine_similarity(F.col(vec_col), c["cent_vec"])).alias("negc"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    cands = F.slice(F.array_sort(scored), 1, n_probe)
    return queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            F.transform(cands, lambda s: s["cent_id"])
        ).alias("list_id"),
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    stats: dict | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), candidates from shared sign-LSH bucket. Approximate: pairs
    straddling a bucket boundary are missed — raise recall by lowering
    ``n_planes`` or raising ``n_tables`` (rotated bucket tables on
    offset dimension slices; candidates are unioned across tables, so
    the pair set is monotone in n_tables at one extra bucket pass +
    self-join per table).

    ``max_bucket_size`` is the hot-bucket guardrail: a degenerate bucket
    (e.g. a spike of near-zero vectors all hashing together) makes the
    bucket self-join quadratic in that bucket's size, so buckets with
    more members are dropped BEFORE the join, from a count-only
    pre-aggregate (the keep-list is at most n_tables * 2^n_planes rows —
    broadcast). The cap applies per (table, bucket). Pass ``stats`` to
    get ``stats['dropped_buckets']``, a lazy DataFrame of
    (_table, _bucket, bucket_size) for the audit line.
    """
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")
    corpus = spread(corpus, id_col)
    if n_tables == 1:
        # single-table: keep the bucket as a narrow column projection —
        # no Generate node, no struct array per row
        cb = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(0).alias("_table"),
            sign_bucket(F.col(vec_col), n_planes, 0).alias("_bucket"),
        )
    else:
        cb = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("_table"),
                            sign_bucket(
                                F.col(vec_col), n_planes, t * n_planes
                            ).alias("_bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("_tb"),
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_tb._table").alias("_table"),
            F.col("_tb._bucket").alias("_bucket"),
        )
    keys = ["_table", "_bucket"]
    if max_bucket_size is not None:
        sizes = cb.groupBy(*keys).agg(F.count("*").alias("bucket_size"))
        if stats is not None:
            stats["dropped_buckets"] = sizes.filter(
                F.col("bucket_size") > max_bucket_size
            )
        keep = sizes.filter(F.col("bucket_size") <= max_bucket_size).select(
            *keys
        )
        cb = cb.join(F.broadcast(keep), keys, "left_semi")
    pairs = (
        cb.alias("x")
        .join(cb.alias("y"), keys)
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(
                cosine_similarity(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")), 6
            ).alias("cosine"),
        )
    )
    if n_tables > 1:
        pairs = pairs.distinct()
    return pairs.filter(F.col("cosine") >= threshold)


def semdedup(
    corpus: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup — Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540): cluster the embedding space coarsely, then drop
    any vector whose cosine to a HIGHER-PRIORITY member of its own
    cluster exceeds ``threshold``. Priority follows the paper's keep
    rule — lower similarity to the cluster centroid wins (the most
    atypical member of a duplicate group is retained; ties break on id).

    Shape: the coarse quantizer is ``ivf_index`` (deterministic seeded
    centroids, broadcast assignment — one corpus scan + one argmax
    window), pairs come from an equi-join on cluster id (never a corpus
    cross join), and the greedy prune is one anti-join against the
    distinct dropped-id set. At 100 TB pick n_clusters ~ N / target
    cluster size so each cluster's pair block stays a tractable task;
    ``max_cluster_size`` is the same hot-bucket guardrail as
    ``embedding_near_dup_pairs`` — clusters larger than the cap are
    exempted from pruning (kept whole, counted in
    ``stats['skipped_clusters']``) rather than paying a quadratic join.

    Returns one row per corpus vector: (id_col, list_id, cent_cos,
    keep) — ``keep=false`` marks semantic duplicates to discard.
    """
    cents, assigned = ivf_index(corpus, n_clusters, id_col, vec_col)
    withc = (
        assigned.join(
            F.broadcast(cents.withColumnRenamed("cent_id", "list_id")),
            "list_id",
        )
        .withColumn(
            # Rounded BEFORE it becomes a sort key: full-precision ties
            # could order differently in an independent engine.
            "cent_cos",
            F.round(cosine_similarity(F.col(vec_col), F.col("cent_vec")), 6),
        )
        .drop("cent_vec")
    )
    w = Window.partitionBy("list_id").orderBy(
        F.col("cent_cos").asc(), F.col(id_col).asc()
    )
    ranked = withc.withColumn("_pri", F.row_number().over(w))
    prunable = ranked
    if max_cluster_size is not None:
        if max_cluster_size < 2:
            raise ValueError(
                f"max_cluster_size must be >= 2, got {max_cluster_size}"
            )
        sizes = ranked.groupBy("list_id").agg(F.count("*").alias("cluster_size"))
        if stats is not None:
            stats["skipped_clusters"] = sizes.filter(
                F.col("cluster_size") > max_cluster_size
            )
        keep_lists = sizes.filter(
            F.col("cluster_size") <= max_cluster_size
        ).select("list_id")
        prunable = ranked.join(F.broadcast(keep_lists), "list_id", "left_semi")
    # Per-cluster Arrow kernel instead of the intra-cluster pair
    # self-join: each cluster ships its vectors ONCE into a grouped
    # pandas task (reusing the rank window's hash partitioning on
    # list_id), which computes the exact index-ordered cosine fold for
    # every (x._pri < y._pri) pair and emits, per candidate y, the MAX
    # exact cosine over its higher-priority partners (round is
    # monotone, so round(max) >= t iff some pair rounds >= t). NaN
    # pairs can never satisfy the filter and are excluded from the max;
    # null/ragged vectors yield null cosines in the expression lane and
    # are likewise never emitted. Spark applies the same
    # round(_, 6) >= threshold filter as before on the emitted maxima,
    # so the dropped-id set is bit-identical; the margin only bounds
    # what the kernel bothers to emit.
    if threshold <= 0.0:
        # Degenerate dial: zero/empty-norm pairs (cosine 0.0) would
        # pass the filter, a case the kernel's empty-vector skip does
        # not model — keep the reference pair-join shape.
        dropped = (
            prunable.alias("x")
            .join(prunable.alias("y"), "list_id")
            .filter(F.col("x._pri") < F.col("y._pri"))
            .filter(
                F.round(
                    cosine_similarity(
                        F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")
                    ),
                    6,
                )
                >= threshold
            )
            .select(F.col(f"y.{id_col}").alias(id_col))
            .distinct()
            .withColumn("_dup", F.lit(True))
        )
        return (
            ranked.join(dropped, id_col, "left")
            .select(
                F.col(id_col),
                F.col("list_id"),
                F.col("cent_cos"),
                F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
            )
        )
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    drop_schema = StructType(
        [_field(corpus, id_col), StructField("_maxcos", DoubleType(), True)]
    )
    margin = _ARROW_TOPK_MARGIN

    def cluster_prune(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_pri")
        vecs = pdf[vec_col]
        ok = np.array(
            [v is not None and len(v) > 0 for v in vecs], dtype=bool
        )
        if ok.sum() < 2:
            return pd.DataFrame({id_col: [], "_maxcos": []}).astype(
                {"_maxcos": "float64"}
            )
        sub = pdf[ok]
        dims = {len(v) for v in sub[vec_col]}
        if len(dims) != 1:
            # Ragged clusters: every cross-dim pair folds to null in
            # the JVM; only equal-length pairs can drop. Rare/defensive:
            # group by dim and prune within each.
            frames = []
            for d in dims:
                mask = np.array([len(v) == d for v in sub[vec_col]])
                if mask.sum() >= 2:
                    frames.append(cluster_prune(sub[mask]))
            return (
                pd.concat(frames)
                if frames
                else pd.DataFrame({id_col: [], "_maxcos": []}).astype(
                    {"_maxcos": "float64"}
                )
            )
        mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in sub[vec_col]],
            dtype=np.float64,
        )
        sq = _exact_sq_norm(mat)
        sims = _exact_cosine(mat, sq, mat, np.sqrt(sq))
        sims[np.isnan(sims)] = -np.inf
        n = sims.shape[0]
        # only x earlier in priority order may drop y
        sims[np.tril_indices(n)] = -np.inf
        colmax = sims.max(axis=0)
        keep = colmax >= (threshold - margin)
        return pd.DataFrame(
            {
                id_col: sub[id_col].to_numpy()[keep],
                "_maxcos": colmax[keep],
            }
        )

    dropped = (
        prunable.select("list_id", id_col, vec_col, "_pri")
        .groupBy("list_id")
        .applyInPandas(cluster_prune, drop_schema)
        .filter(F.round(F.col("_maxcos"), 6) >= threshold)
        .select(id_col)
        .withColumn("_dup", F.lit(True))
    )
    return (
        ranked.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("list_id"),
            F.col("cent_cos"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def _pq_seed_codebook(
    corpus: DataFrame,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The PQ codebook's seed vectors: the ``n_codes`` corpus vectors
    with the smallest md5-derived id hashes — the SAME deterministic
    selection rule as ``ivf_index``, so an independent engine rebuilds
    the identical codebook. Codeword j of subspace s is seed j's dims
    [s*d_sub, (s+1)*d_sub).

    This is the one collect in the PQ family: n_codes rows (~16 vectors,
    a few KB). The codebook then ships to executors as plan literals,
    which is what makes encode/score a pure narrow projection — at
    100 TB a trained codebook is tiny-by-construction too (k* * dim
    floats), so the shape survives scale unchanged."""
    from slipstream_async_spark.functions.text import hash32

    rows = (
        corpus.withColumn("_h", hash32(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_codes)
        .select(vec_col)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def _pq_sub_exprs(
    vec: Column, seeds: list[list[float]], m: int
) -> tuple[list[Column], list[Column]]:
    """(codes, reconstruction) expressions for one vector column.

    Per subspace s: the squared-L2 distance to each of the ``len(seeds)``
    codewords is an index-ordered fold; the code is the FIRST argmin
    (``array_position(dists, array_min(dists))`` — first occurrence, so
    ties break toward the lower code, reproducible anywhere); the
    reconstruction element is the chosen codeword, looked up with
    ``element_at`` over the literal codeword array. All plan literals +
    folds: no join, no shuffle, whole-stage codegen."""
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    x = vec.cast("array<double>")
    codes, recon = [], []
    for s in range(m):
        sub_x = F.slice(x, s * d_sub + 1, d_sub)
        # one 2-D literal + ONE transform/aggregate template per
        # subspace instead of n_codes separate fold expressions — same
        # arithmetic in the same order (transform preserves codeword
        # order, so the first-argmin tie-break is unchanged), but the
        # Catalyst tree shrinks ~n_codes-fold, which is the dominant
        # constant cost of these literal-codebook plans
        cw_table = F.array(
            *[
                F.array(
                    *[
                        F.lit(float(v))
                        for v in seed[s * d_sub : (s + 1) * d_sub]
                    ]
                )
                for seed in seeds
            ]
        )
        dists = F.transform(
            cw_table,
            lambda cw: F.aggregate(
                F.zip_with(sub_x, cw, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        codes.append(code)
        recon.append(F.element_at(cw_table, code + 1))
    return codes, recon


def pq_encode(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[list[float]] | None = None,
) -> DataFrame:
    """Product-quantize an embedding column (Jégou et al., "Product
    quantization for nearest neighbor search", TPAMI 2011): split each
    vector into ``m`` subspaces, store only the nearest-codeword index
    per subspace — m bytes instead of dim*4 (32x at dim=64, m=8), the
    compression that makes billion-vector ANN fit in memory.

    Returns (id_col, codes array<int>, recon array<double>): ``codes``
    is the stored representation, ``recon`` the codebook reconstruction
    used by asymmetric-distance scoring. One narrow projection over the
    corpus — the codebook is plan literals (see _pq_seed_codebook)."""
    if seeds is None:
        seeds = _pq_seed_codebook(corpus, n_codes, id_col, vec_col)
    codes, recon = _pq_sub_exprs(F.col(vec_col), seeds, m)
    # guide §2.5: the per-row m x n_codes interpreted distance folds are
    # fused into the scan; spread so they run on every core
    corpus = spread(corpus, id_col)
    return corpus.select(
        F.col(id_col),
        F.array(*codes).alias("codes"),
        F.flatten(F.array(*recon)).alias("recon"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ asymmetric-distance top-k: the query stays full-precision, the
    corpus side is its codebook reconstruction — cosine(q, recon(x)),
    ranked per query. Same broadcast-queries/one-corpus-scan shape as
    ``brute_force_topk`` but the corpus representation is m bytes per
    vector; compose with ``ivf_index`` lists for the classic IVFADC
    pipeline."""
    seeds = _pq_seed_codebook(corpus, n_codes, id_col, vec_col)
    enc = pq_encode(corpus, m, n_codes, id_col, vec_col, seeds=seeds)
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    )
    scored = (
        enc.crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("_qvec"), F.col("recon")), 6),
        )
        .select(query_id_col, id_col, "cosine")
    )
    return _ranked_topk(scored, k, query_id_col, id_col)


def ivfadc_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index_path: str | None = None,
) -> DataFrame:
    """IVFADC: the complete Jégou et al. (TPAMI 2011) billion-vector
    pipeline — IVF coarse probe restricts the scan to ``n_probe`` of
    ``n_lists`` inverted lists, PQ asymmetric distance scores each
    candidate against its m-byte code's reconstruction (query stays
    full-precision), and optionally the best ``rerank`` ADC candidates
    per query are re-scored with exact cosine on the original vectors
    (the "refine" stage of IVFADC+R).

    Why this is THE 100 TB ANN lane: the scan per query is
    ~N * n_probe / n_lists rows of m BYTES each (the codes), not dim*4
    — with n_lists ~ sqrt(N) and PQ's 32x compression the probed data
    for a billion-vector corpus fits an executor's memory. The exact
    re-rank touches only ``rerank`` full vectors per query. Composes the
    repo's ``ivf_index`` (optionally materialized: pass ``index_path``
    from ``ivf_index_write`` to probe a stored, partition-pruned index)
    with ``pq_encode``'s plan-literal codebook — no join for the
    encode, one broadcast-probe join for the search.

    Reference parity: the reference has no ANN surface; this extends the
    training-data-pipeline family (SURVEY §2 M7) with the standard
    composed index. Recall dial: n_probe (coarse), rerank (refine).
    """
    seeds = None
    if index_path is not None:
        cents, assigned = ivf_index_read(queries.sparkSession, index_path)
        if corpus is None:
            # stored seeds (ivf_index_write) — identical to the
            # in-memory selection, no corpus/assignment re-scan
            try:
                rows = (
                    queries.sparkSession.read.parquet(
                        f"{index_path}/pq_seeds"
                    )
                    .orderBy("seed_rank")
                    .limit(n_codes)
                    .collect()
                )
                if len(rows) >= n_codes:
                    seeds = [
                        [float(x) for x in r["seed_vec"]] for r in rows
                    ]
            except AnalysisException as e:
                # only the documented case — a legacy index written
                # before pq_seeds existed — may fall back to the
                # assignment rescan; real IO/corruption/schema errors
                # must propagate, not silently degrade to a full scan.
                # getCondition() is the typed error-class accessor —
                # immune to message-format drift and to paths that
                # happen to contain the literal text.
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
                seeds = None
    else:
        if corpus is None:
            raise ValueError("ivfadc_topk needs either corpus or index_path")
        cents, assigned = ivf_index(corpus, n_lists, id_col, vec_col)
    if seeds is None:
        seeds = _pq_seed_codebook(
            corpus if corpus is not None else assigned, n_codes, id_col, vec_col
        )
    _, recon = _pq_sub_exprs(F.col(vec_col), seeds, m)
    enc_cols = [
        F.col(id_col),
        F.col("list_id"),
        F.flatten(F.array(*recon)).alias("_recon"),
    ]
    if rerank > 0:
        enc_cols.append(F.col(vec_col))
    enc = assigned.select(*enc_cols)
    qc = queries.crossJoin(F.broadcast(cents)).withColumn(
        "_qc", cosine_similarity(F.col(vec_col), F.col("cent_vec"))
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("_qc").desc(), F.col("cent_id").asc()
    )
    probes = (
        qc.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.col("cent_id").alias("list_id"),
        )
    )
    scored = (
        enc.join(F.broadcast(probes), "list_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("_qvec"), F.col("_recon")), 6),
        )
    )
    if rerank <= 0:
        return _ranked_topk(
            scored.select(query_id_col, id_col, "cosine"), k,
            query_id_col, id_col,
        )
    # Refine: keep the best `rerank` ADC candidates per query, re-score
    # those (and only those) with exact cosine on the original vectors.
    wa = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    shortlist = (
        scored.withColumn("_ark", F.row_number().over(wa))
        .filter(F.col("_ark") <= rerank)
        .select(
            query_id_col, id_col, "_qvec",
            F.col(vec_col).alias("_cvec"),
        )
    )
    exact = shortlist.select(
        query_id_col,
        id_col,
        F.round(cosine_similarity(F.col("_qvec"), F.col("_cvec")), 6).alias(
            "cosine"
        ),
    )
    return _ranked_topk(exact, k, query_id_col, id_col)
