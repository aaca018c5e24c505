"""Deduplication operators for web-scale corpora.

Beyond the reference's keyed compaction (docs/source/cookbook.rst:519-520,
"compacting/deduplicating the data by some key"), these are the dedup
family a 100 TB training-data pipeline needs: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design notes
------------------
- Everything is expression + shuffle based; no Python in the hot path.
- Candidate generation never does an O(n^2) cross join: exact dedup is a
  hash groupBy; Jaccard candidates come from an inverted shingle index
  (equi-join on shingle); MinHash candidates come from LSH band buckets
  (equi-join on band key); SimHash candidates from fingerprint bands.
- Hashes that shape the output — MinHash signatures and LSH band keys,
  SimHash fingerprints — are md5-derived (``hash32``), so the DuckDB
  oracle reproduces them bit-for-bit. Shingle-set candidate generation
  and exact verification run on ``xxhash64``: those hashes never leave
  the operator, and the pairs and Jaccard values they produce are exact
  up to a ~|u|^2/2^64 collision bound.
- The shingle-set operators share one core: one cached hashed-set frame
  (:func:`_cached_hsets`, which alone reads the broadcast gates), one
  rarest-first prefix window and one PPJoin filter expression.

Algorithms are the published standards: MinHash resemblance sketching
(Broder, "On the resemblance and containment of documents", SEQUENCES
1997), banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
ch. 3), prefix filtering for exact set-similarity joins (Chaudhuri et
al. ICDE 2006; Bayardo et al., "Scaling up all pairs similarity search",
WWW 2007), SimHash (Charikar, STOC 2002; Manku et al., WWW 2007).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from slipstream_async_spark.functions.text import (
    hash32,
    shingles_of_tokens,
    tokens,
)
from slipstream_async_spark.sources.readers import scoped_cache, spread

# Fixed MinHash permutation constants: perm_i(h) = (A[i]*h + B[i]) mod P.
# A[i] < 2^18 keeps A*h < 2^50 — exact in signed 64-bit in every engine.
MINHASH_A = [3, 7, 13, 31, 61, 127, 251, 509,
             1021, 2039, 4093, 8191, 16381, 32749, 65521, 131071]
MINHASH_B = [10007 * i + 3 for i in range(16)]
MINHASH_P = 4294967311  # smallest prime > 2^32
N_PERMS = 16
BAND_ROWS = 4  # 4 bands x 4 rows


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest id.

    One shuffle on a 128-bit content hash (never on the full text — at
    100 TB the shuffle must move 16-byte keys, not documents).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    carry: dict | None = None,
) -> DataFrame:
    """(id, distinct k-shingle array) per document.

    Tokenization is projected into its own column first: the optimizer
    keeps a non-cheap multi-referenced alias materialized, so the
    regex split runs once per document instead of once per reference.

    The input is ``spread`` first (guide §2.5): a single-row-group
    parquet file plans as one scan task, serializing the regex
    tokenize + shingle pass; the conditional fan-out is a no-op on any
    scan that already yields >= parallelism splits.

    ``carry`` maps extra output column names to expressions evaluated
    alongside the shingling — over the original columns of ``df`` plus
    ``_toks`` (the token array, so e.g. ``F.size("_toks")`` gets a
    token count without a second regex pass). Callers that cache the
    result use it to piggyback narrow per-document features onto the
    one tokenize scan instead of re-reading the corpus (guide §1.2:
    don't compute things twice). Unused original columns are pruned by
    the optimizer, so a no-carry call scans exactly (id, text).
    """
    carry = dict(carry or {})
    toked = spread(df, id_col).select("*", tokens(text_col).alias("_toks"))
    return toked.select(
        F.col(id_col),
        shingles_of_tokens(F.col("_toks"), k).alias("sh"),
        *[expr.alias(name) for name, expr in carry.items()],
    )


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    size_col: str | None = None,
    pos_col: str | None = None,
    max_bucket_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(id_a < id_b) pairs co-occurring in a bucket — candidate generation
    for every LSH/blocking scheme here.

    One aggregation per bucket (collect ids, sorted) + in-expression pair
    expansion, instead of a bucket self-join: the upstream pipeline is
    computed once and shuffled once on the bucket key. Quadratic
    blowup inside a hot bucket is intrinsic to blocking (the self-join
    has the same output); ``max_bucket_size`` is the guardrail: buckets
    with more members are DROPPED before pair expansion — the standard
    LSH skew defense (Leskovec/Rajaraman/Ullman ch. 3: a bucket that
    hot is boilerplate/degenerate hashes, not near-duplicates worth
    O(size²) pairs). The drop happens after the id collect (a linear
    buffer of ids — 10M ids ≈ 80 MB transient, survivable) but before
    the quadratic expansion (5·10¹³ pairs — the actual killer). Pass
    ``stats`` (a dict) to get accounting: ``stats['dropped_buckets']``
    is set to a lazy DataFrame of (bucket key cols, bucket_size) for
    every dropped bucket — count it for the audit line.

    With ``size_col``, each pair also carries both set sizes (``_na``,
    ``_nb``) so callers can apply the Jaccard length bound
    (min >= t * max) before the expensive dedup + verify stages. With
    ``pos_col`` (the element's 1-based rank in the document's globally
    ordered set), pairs also carry ``_pa``/``_pb`` for PPJoin's
    positional filter.
    """
    extra = [(size_col, "_n"), (pos_col, "_p")]
    carried = [(c, a) for c, a in extra if c]
    item = (
        F.struct(F.col(id_col), *[F.col(c).alias(a) for c, a in carried])
        if carried
        else F.col(id_col)
    )
    ids = F.col("_ids")
    buckets = (
        df.groupBy(*bucket_cols)
        # struct arrays sort by leading field == id: pair order stays id_a < id_b
        .agg(F.sort_array(F.collect_list(item)).alias("_ids"))
        .filter(F.size(ids) >= 2)
    )
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")
        if stats is not None:
            stats["dropped_buckets"] = buckets.filter(
                F.size(ids) > max_bucket_size
            ).select(*bucket_cols, F.size(ids).alias("bucket_size"))
        buckets = buckets.filter(F.size(ids) <= max_bucket_size)
    if carried:
        mk = lambda x, y: F.struct(  # noqa: E731
            x[id_col].alias("id_a"), y[id_col].alias("id_b"),
            *[f for _, a in carried for f in (x[a].alias(a + "a"), y[a].alias(a + "b"))],
        )
    else:
        mk = lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))  # noqa: E731
    pairs = F.explode(
        F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)), lambda y: mk(x, y)
                ),
            )
        )
    )
    out = buckets.select(pairs.alias("_p"))
    cols = ["_p.id_a", "_p.id_b"] + [f"_p.{a}{s}" for _, a in carried for s in "ab"]
    return out.select(*cols)


# Adaptive-broadcast gates: the candidate-pair side of verification is
# always the big side, so when the per-document set table (hashed: ~1 KB/doc)
# or the shingle-frequency table (~50 B/shingle) measures small, shipping it
# to every task turns a 3-way shuffle join into a map-side join. Both tables
# grow with the corpus — at 100 TB neither fits, so the decision is made from
# a measured count, never assumed. Read only by :func:`_cached_hsets`.
_BC_MAX_DOCS = 100_000
_BC_MAX_VOCAB = 1_000_000


def _xxh_set():
    """The hashed shingle set ``_h``: distinct xxhash64 of each shingle.
    ``_n`` stays ``size(sh)``, the STRING set size: verification's
    |A|/|B| and the prefix length both come from it (array_distinct may
    shrink ``_h`` only under a 2^-64 intra-doc collision, and
    array_intersect's output is distinct regardless, so the Jaccard is
    bit-identical)."""
    return F.array_distinct(F.transform("sh", lambda s: F.xxhash64(s)))


def _cached_hsets(hsets: DataFrame, label: str) -> tuple[DataFrame, bool, bool]:
    """Cache a caller's ``(id, _h, _n, …)`` projection of its shingle
    sets and run the ONE action that both materializes the cache and
    measures the broadcast gates: the doc count and the total shingle
    occurrences (an upper bound on the vocabulary). Every consumer
    downstream — inverted index, prefix window, both verify sides —
    reads the cached 8-byte hashes instead of re-tokenizing.

    Returns ``(cached, small_sets, small_vocab)``: ``small_sets`` when the
    per-document set table fits a broadcast, ``small_vocab`` when the
    shingle-frequency table does as well."""
    cached = hsets.transform(scoped_cache, label)
    n_docs, total_sh = cached.agg(
        F.count("*"), F.coalesce(F.sum("_n"), F.lit(0))
    ).first()
    small_sets = n_docs <= _BC_MAX_DOCS
    return cached, small_sets, small_sets and total_sh <= _BC_MAX_VOCAB


def _rarest_first_prefix(
    hsets: DataFrame,
    id_col: str,
    threshold: float,
    broadcast_freq: bool,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """PPJoin prefix rows ``(id, *keep, n, s, _r)`` of the hashed sets
    under the rarest-first (corpus frequency asc, hash asc) order: each
    document keeps its first ``n - ceil(threshold*n) + 1`` shingles, and
    ``_r`` is the shingle's rank in the doc's full order (the positional
    filter needs it).

    The order runs on 64-bit xxhash64 shingle hashes, the SAME domain
    verification intersects in (:func:`_verified_pairs_hashed`), so the
    frequency and bucket shuffle keys are 8-byte longs, not ~30-char
    strings. Result-identical: prefix filtering is complete under ANY
    consistent total order (the frozen-order theorem at
    :func:`frozen_order_prefix_rows`), this order is consistent, and the
    prefix length computed from the STRING set size n is >= the length
    the (possibly collision-shrunk) hashed set requires because
    n - ceil(t*n) + 1 is nondecreasing in n.

    The frequency table is folded to freq >= 2 entries before it is
    broadcast/joined (guide §3.1, smaller build side): on a web corpus
    MOST shingles are unique, so the folded table is a small fraction of
    the vocabulary. A LEFT join + coalesce(_f, 1) reproduces the full
    order exactly — every absent shingle has frequency exactly 1, and
    the ties it creates were already broken by the hash order."""
    inv = hsets.select(
        F.col(id_col),
        *keep,
        F.col("_n").alias("n"),
        F.explode("_h").alias("s"),
    )
    freq = (
        inv.groupBy("s")
        .agg(F.count("*").alias("_f"))
        .filter(F.col("_f") >= 2)
    )
    if broadcast_freq:
        freq = F.broadcast(freq)
    w = Window.partitionBy(id_col).orderBy(F.col("_f").asc(), F.col("s").asc())
    return (
        inv.join(freq, "s", "left")
        .withColumn("_f", F.coalesce("_f", F.lit(1)))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select(F.col(id_col), *keep, "n", "s", "_r")
    )


def _ppjoin_filter(threshold: float):
    """Two exact prunes on a candidate carrying both set sizes
    (``_na``, ``_nb``) and the ranks of a shared prefix shingle
    (``_pa``, ``_pb``), applied before the verify joins see the pair:

    1. Jaccard length bound: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|).
    2. PPJoin positional filter: J >= t <=> overlap >= t/(1+t)*(nA+nB),
       and a shared shingle at ranks (pA, pB) bounds the overlap by
       1 + min(nA-pA, nB-pB) (everything before the shared shingle in
       either doc's order can't contribute more). The epsilon keeps
       float round-up from ever pruning a boundary pair — too-low alpha
       only admits extras, which exact verification removes."""
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("_na") + F.col("_nb"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")
    )
    return (
        F.least("_na", "_nb").cast("double")
        >= F.lit(threshold) * F.greatest("_na", "_nb")
    ) & (ubound >= alpha)


def _verified_pairs_hashed(
    cand: DataFrame,
    hsets: DataFrame,
    id_col: str,
    threshold: float,
    broadcast_sets: bool = False,
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs to PRE-HASHED shingle sets —
    ``hsets`` is ``(id_col, _h array<bigint>, _n int)`` — and keep pairs
    with exact Jaccard >= threshold.

    Verification cost shapes the whole operator at scale, so the set
    algebra is minimized: shingles are compared as 64-bit hashes (int
    equality, not ~30-char string equality; xxhash64 collisions within
    one pair's union are ~|u|^2/2^64 ≈ 1e-14 — no effect on any
    realistic corpus), and |A∪B| is computed as nA + nB − |A∩B| instead
    of materializing the union array — one array op per pair, on ints.
    The persistent near-dup index stores exactly this shape per
    document, so streaming verification never re-reads document text or
    re-shingles anything.

    ``broadcast_sets`` hints both set sides into broadcast-hash joins
    (cost-based stats through cache + transform lineage underestimate
    nothing/overestimate wildly, so AQE alone won't pick this up).
    """
    a = hsets.select(
        F.col(id_col).alias("id_a"),
        F.col("_h").alias("_ha"),
        F.col("_n").alias("_na"),
    )
    b = hsets.select(
        F.col(id_col).alias("id_b"),
        F.col("_h").alias("_hb"),
        F.col("_n").alias("_nb"),
    )
    if broadcast_sets:
        a, b = F.broadcast(a), F.broadcast(b)
    i = F.size(F.array_intersect("_ha", "_hb"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(i.cast("double") / (F.col("_na") + F.col("_nb") - i), 6),
        )
        # Filter on the rounded value so boundary cases agree with any
        # oracle that also compares post-round.
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    stats: dict | None = None,
    carry: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by exact k-word-shingle Jaccard, candidates from an
    inverted shingle index (pairs must share >= 1 shingle — implied by any
    threshold > 0). Returns (id_a < id_b, jaccard).

    Scale: candidate generation uses **prefix filtering** (the PPJoin
    family): index only each document's first ``n - ceil(threshold*n) + 1``
    shingles in rarest-first global order — any pair with Jaccard >=
    threshold provably shares a prefix shingle, so the result is EXACT
    while hot boilerplate shingles (the quadratic blowup of a naive
    inverted index: 1.1M candidate pairs for 5k docs here) land outside
    most prefixes and candidates collapse to near the true-pair count.
    Survivors are verified with exact Jaccard on the shingle sets.

    Joins against the (small when they are small) set/frequency tables are
    broadcast adaptively: the set table is cached anyway, so counting it to
    make the decision is the cache materialization, not an extra pass.

    ``carry`` (see :func:`shingle_sets`) piggybacks narrow per-document
    feature columns onto the one tokenize scan and into the hashed-sets
    cache; ``stats["docs"]`` then exposes ``(id_col, *carry)`` read from
    that cache — consumers that need per-doc features (token counts,
    quality gates, source) alongside the pairs get them without a
    second corpus scan.
    """
    # The CACHE holds the HASHED sets (id, _h, _n) — not the string
    # shingle arrays: every downstream consumer (inverted index, verify
    # side a, verify side b) works in the xxhash64 domain, so hashing
    # once into the cache removes two full re-tokenize+hash passes per
    # query and the cached/broadcast payload shrinks from ~30-char
    # strings to 8-byte longs.
    carry = dict(carry or {})
    sets = shingle_sets(df, text_col, id_col, k, carry=carry)
    hsets, small_sets, small_vocab = _cached_hsets(
        sets.select(
            F.col(id_col),
            _xxh_set().alias("_h"),
            F.size("sh").alias("_n"),
            *carry.keys(),
        ),
        "verified_pairs",
    )
    if stats is not None:
        stats["docs"] = hsets.select(id_col, *carry.keys())
    prefix = _rarest_first_prefix(hsets, id_col, threshold, small_vocab)
    cand = (
        _bucket_pairs(prefix, ["s"], id_col, size_col="n", pos_col="_r",
                      max_bucket_size=max_bucket_size, stats=stats)
        .filter(_ppjoin_filter(threshold))
        .select("id_a", "id_b")
    )
    # Candidates are NOT pre-deduped: after the length+positional prunes
    # the multi-shared-prefix duplication is ~5% (measured sf0.1:
    # 131,671 occurrences -> 124,979 pairs), so a distinct here would
    # shuffle the whole candidate set to save 5% of the (broadcast,
    # shuffle-free) verify joins. Verify first, then dedupe the verified
    # SURVIVORS (a few hundred rows), which costs one negligible
    # exchange instead of a full-candidate one.
    return _verified_pairs_hashed(cand, hsets, id_col, threshold,
                                  broadcast_sets=small_sets).distinct()


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Directed partial-dup pairs by exact shingle containment
    C(A→B) = |S(A) ∩ S(B)| / |S(A)| >= threshold, A != B.

    Jaccard resemblance (dedup_ngram_jaccard) misses the quote/excerpt
    case: a short document wholly embedded in a much longer one has tiny
    Jaccard but containment ~1.0. Broder's original sketching paper
    ("On the resemblance and containment of documents", SEQUENCES 1997)
    defines both measures; training-corpus curation needs containment to
    catch pages that merely wrap boilerplate around copied articles.

    Scale design: candidates from an inverted shingle index with prefix
    filtering applied on the PROBE (contained, A) side only — C >= t
    forces A to share one of its first ``n_a - ceil(t*n_a) + 1`` shingles
    (rarest-first order) with B, so probing only prefixes against the full
    index is EXACT while skipping most hot-shingle pair expansion. The
    index (B) side cannot be pruned: containment puts no lower bound on
    which of B's shingles overlap. A size bound (n_b >= t*n_a, since
    |A∩B| <= n_b) prunes candidates before the verify joins. Verification
    is the same hashed-intersection used by the Jaccard path.
    """
    # Cache the HASHED sets once (same rationale as dedup_ngram_jaccard:
    # index, probe and both verify sides all consume the xxhash64
    # domain; ``_n`` stays the string set size so prefix lengths and
    # containment denominators are unchanged).
    sets = shingle_sets(df, text_col, id_col, k)
    hsets, small_sets, small_vocab = _cached_hsets(
        sets.select(
            F.col(id_col), _xxh_set().alias("_h"), F.size("sh").alias("_n")
        ),
        "verified_pairs_hashed",
    )
    probe = _rarest_first_prefix(hsets, id_col, threshold, small_vocab).select(
        F.col(id_col).alias("id_a"), F.col("n").alias("_pna"), "s"
    )
    index = hsets.select(
        F.col(id_col).alias("id_b"),
        F.col("_n").alias("_pnb"),
        F.explode("_h").alias("s"),
    )
    cand = (
        probe.join(index, "s")
        .filter(F.col("id_a") != F.col("id_b"))
        # |A∩B| <= n_b and C >= t together force n_b >= t*n_a; epsilon
        # guards float round-up (extras are removed by exact verification).
        .filter(
            F.col("_pnb").cast("double")
            >= F.lit(threshold) * F.col("_pna") - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = hsets.select(
        F.col(id_col).alias("id_a"),
        F.col("_h").alias("_ha"),
        F.col("_n").alias("_na"),
    )
    b = hsets.select(F.col(id_col).alias("id_b"), F.col("_h").alias("_hb"))
    if small_sets:
        a, b = F.broadcast(a), F.broadcast(b)
    i = F.size(F.array_intersect("_ha", "_hb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "containment", F.round(i.cast("double") / F.col("_na"), 6)
        )
        # Compare post-round so boundary pairs agree with the oracle.
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """(count, hash-sum) fingerprint of a distinct edge set — one tiny
    aggregate per round, no collect of the edges themselves."""
    row = edges.agg(
        F.count("*").alias("n"),
        # DECIMAL(38,0) accumulator: a long sum of 64-bit hashes
        # overflows (ANSI mode raises)
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"] or 0, row["h"] or 0)


def _cc_two_phase(
    edges: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    converges in O(log^2 n) rounds on ANY graph shape — a 1,000-node
    revision CHAIN closes in ~10 rounds where min-label propagation
    needs ~500 (one per diameter step). Each half-round is one
    aggregation + one join on the edge list; no driver-side graph.

    large-star: every node u links its LARGER neighbors to the minimum
    of its neighborhood (incl. itself) — long tails collapse toward
    small ids without ever increasing edge count. small-star: every
    node links its smaller-or-equal neighbors (and itself) to the
    neighborhood minimum — flattens partial stars. Fixpoint = the edge
    set stops changing; at that point edges are exactly (node ->
    component-min) star edges.

    Input ``edges``: bidirectional (src, dst), no self-loops required.
    Output: (doc_id, cluster_id) for every node present in the input.
    Raises RuntimeError when ``max_iter`` rounds pass without a fixpoint.
    """
    # undirected edge set in max->min orientation (u > v), deduped
    E = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _edge_checksum(E)
    for rounds in range(1, max_iter + 1):
        # LARGE-STAR over the bidirectional view: for each u, attach
        # strictly-larger neighbors to min(N(u) ∪ {u})
        B = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = B.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            B.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # SMALL-STAR on the max->min oriented edges: attach all
        # smaller-or-equal neighbors AND u itself to min(N(u) ∪ {u})
        D = ls  # already u > v oriented by construction
        mins2 = D.groupBy("u").agg(F.min("v").alias("m"))
        joined = D.join(mins2, "u")
        E = (
            joined.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                joined.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _edge_checksum(E)
        if cur == prev:
            break
        prev = cur
    else:
        # labels short of the fixpoint are silently wrong (a chain's tail
        # still points at a non-minimal id): fail closed
        raise RuntimeError(
            f"connected components did not converge in {max_iter} rounds "
            "(edge set still changing); raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edges are (node -> component-min); roots carry no out-edge
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    return (
        nodes.join(E, nodes["doc_id"] == E["u"], "left")
        .select("doc_id", F.coalesce("v", "doc_id").alias("cluster_id"))
    )


# Edge-count cutover for solving connected components on the driver:
# below it the edge list is a few MB (16 B/edge x 2 directions), one
# union-find pass replaces the per-round join/aggregate/checkpoint
# actions (measured ~1.5-2 s of driver round-trips per clustering query
# at sf0.1). The decision is made from the MEASURED count of the
# already-checkpointed edge frame (the same adaptive-broadcast
# discipline as the set-table broadcast gates) — at 100 TB edge sets
# exceed it and the distributed rounds run unchanged.
_DRIVER_CC_MAX_EDGES = 500_000


def _driver_rows(df: DataFrame, n: int) -> list | None:
    """All rows of ``df`` if it has at most ``n``, else None — ONE
    bounded action instead of count-then-collect: fetch at most n+1
    rows, and if the extra row arrives the frame exceeds the driver
    budget; the driver never holds more than the dial allows either
    way. The coalesce(1) plans one local+global limit over every
    partition instead of Spark's incremental take (one job per scan
    round, so the job count grew with the partition count)."""
    rows = df.limit(n + 1).coalesce(1).collect()
    return rows if len(rows) <= n else None


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
    driver_cutover: int | None = _DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document in a
    duplicate group gets the group's min id as ``cluster_id``, and the
    canonical (kept) member is flagged — pairs alone don't give keep/drop
    decisions; transitive closure does (a~b, b~c => one survivor of
    {a,b,c}).

    Two lanes, chosen from the MEASURED edge count, produce the identical
    (min id per component) labeling (property-tested against a
    union-find model):

    - **driver**: when the edge list has at most ``driver_cutover`` rows
      (16 B/edge x 2 directions — a few MB), one bounded collect and a
      union-find pass on the driver, zero distributed rounds;
    - **star**: above the cutover (or with ``driver_cutover=None``, which
      the scale-contract tests use to pin it), the alternating
      large-star/small-star rounds of :func:`_cc_two_phase` — O(log^2 n)
      rounds on ANY graph shape, so a 1,000-link revision chain closes
      in ~10 rounds. ``max_iter`` bounds the rounds; reaching it without
      a fixpoint raises RuntimeError rather than return unconverged
      labels.

    ``stats``, if given, records ``{"rounds"}`` (0 on the driver lane)
    for round-count assertions and ops telemetry.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        # materialize once: the cutover collect and every distributed
        # round read the edge list, and without this the whole upstream
        # candidate/verify pipeline re-executes per read
        .localCheckpoint(eager=True)
    )
    rows = None
    if driver_cutover is not None:
        rows = _driver_rows(edges, driver_cutover)
    if rows is None:
        labeled = _cc_two_phase(edges, max_iter, stats)
    else:
        # the labels are bounded by the cutover, so consumers' joins
        # against them broadcast without a sizing action; the star
        # lane stays unhinted and AQE sizes its corpus-scale output
        labeled = F.broadcast(_union_find_labels(edges, rows))
        if stats is not None:
            stats["rounds"] = 0
    return labeled.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def _union_find_labels(edges: DataFrame, rows: list) -> DataFrame:
    """(doc_id, cluster_id = component min) from the collected edge
    ``rows`` of ``edges`` — the driver lane of :func:`duplicate_clusters`."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[ra] = rb
    nodes = {r[0] for r in rows}
    comp_min: dict = {}
    for n in nodes:
        root = find(n)
        cur = comp_min.get(root)
        if cur is None or n < cur:
            comp_min[root] = n
    node_t = edges.schema["src"].dataType
    out_schema = StructType(
        [
            StructField("doc_id", node_t, True),
            StructField("cluster_id", node_t, True),
        ]
    )
    return edges.sparkSession.createDataFrame(
        [(n, comp_min[find(n)]) for n in sorted(nodes)], out_schema
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """(id, sig) with sig = ARRAY<BIGINT> of N_PERMS minhash values.

    Shape: explode shingle hashes, then ONE hash aggregation computing
    all N_PERMS mins as separate agg columns — whole-stage-codegen'd and
    map-side combined, vs. a nested higher-order fold which Spark
    interprets per element. One shuffle of (id, 16 longs) partial
    aggregates; at 100 TB the partial combine keeps it scan-bound.

    ``sets`` — a precomputed ``(id_col, sh)`` shingle frame (usually a
    caller's cache) — skips the tokenize pass entirely; callers that
    also verify pairs pay tokenization once instead of once per lineage.
    """
    src = sets if sets is not None else shingle_sets(df, text_col, id_col, k)
    hs = src.select(
        F.col(id_col), F.explode("sh").alias("s")
    ).select(F.col(id_col), hash32(F.col("s")).alias("h"))
    mins = hs.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"_m{i}"
            )
            for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
        ]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(N_PERMS)]).alias("sig"),
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """(id, band_id, band_key) — the LSH bucket assignment of every
    document: the signature split into N_PERMS/BAND_ROWS bands, each
    band md5-keyed. Shared by the pairing path (band-bucket equi-join,
    :func:`dedup_minhash_lsh`) and index-health introspection (bucket
    size distribution per band = collision balance of the LSH index)."""
    sigs = minhash_signatures(df, text_col, id_col, k, sets=sets)
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_PERMS // BAND_ROWS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "_", F.transform(
                                F.slice("sig", b * BAND_ROWS + 1, BAND_ROWS),
                                lambda v: v.cast("string"),
                            )
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified by exact Jaccard.

    Pipeline: shingle -> 32-bit hash -> 16 minhash perms -> 4 bands of 4
    rows -> band-bucket equi-join for candidates -> exact verify.
    Returns (id_a < id_b, jaccard >= threshold).

    With s = Jaccard, P(candidate) = 1 - (1 - s^4)^4: ~0.97 at s=0.8,
    ~0.22 at s=0.3 — the standard LSH S-curve for this band shape.

    Cost shape (r12): ONE tokenize pass into a cache that carries the
    string shingles (the hash32 signature domain) AND the pre-hashed
    xxhash64 arrays verification intersects — previously the band
    lineage and the verify cache each re-tokenized the corpus, and
    verification re-hashed the cached strings once per side.

    ``stats["sets"]`` (when a ``stats`` dict is passed) exposes the
    cached ``(id, sh, _h, _n)`` frame so callers that need the same
    shingle sets (e.g. to recompute signatures for calibration) read
    the cache instead of re-tokenizing the corpus.
    """
    sets, small_sets, _ = _cached_hsets(
        shingle_sets(df, text_col, id_col, k)
        .withColumn("_h", _xxh_set())
        .withColumn("_n", F.size("sh")),
        "minhash_lsh",
    )
    if stats is not None:
        stats["sets"] = sets
    bands = minhash_band_keys(
        df, text_col, id_col, k, sets=sets.select(id_col, "sh")
    )
    cand = _bucket_pairs(
        bands, ["band_id", "band_key"], id_col,
        max_bucket_size=max_bucket_size, stats=stats,
    ).distinct()
    return _verified_pairs_hashed(
        cand,
        sets.select(id_col, "_h", "_n"),
        id_col,
        threshold,
        broadcast_sets=small_sets,
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) — 32-bit SimHash over distinct tokens (weight 1).

    fingerprint bit b is set iff sum over tokens of (bit b of hash32(tok)
    ? +1 : -1) is > 0.

    Shape: explode token hashes, ONE hash aggregation with 32 bit-sum
    columns (codegen'd, map-side combined), then assemble the
    fingerprint — ~10x faster than the equivalent nested interpreted
    fold, and the shuffle carries only (id, 32 ints) partials.
    """
    hs = spread(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    ).select(F.col(id_col), hash32(F.col("t")).alias("h"))
    bit_sums = hs.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"_b{b}")
            for b in range(32)
        ]
    )
    fingerprint = None
    for b in range(32):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select(F.col(id_col), fingerprint.alias("simhash"))


def dedup_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidates via byte-band blocking (pigeonhole: two fingerprints within
    hamming 3 of each other share at least one of 4 exact 8-bit bands),
    then exact ``bit_count(xor)`` verify — never an O(n^2) cross join.
    """
    fps = simhash_fingerprints(df, text_col, id_col).transform(scoped_cache, "simhash")
    bands = fps.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    # (simhash >> 8b) & 255: simhash is a nonnegative
                    # 32-bit value, so floor-div by 2^(8b) is an exact
                    # unsigned right shift (shift amount is a Column).
                    (
                        F.floor(
                            F.col("simhash") / F.pow(F.lit(2.0), b * 8)
                        ).cast("bigint")
                        % 256
                    ).alias("band_val"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val")
    cand = _bucket_pairs(
        bands, ["band_id", "band_val"], id_col,
        max_bucket_size=max_bucket_size, stats=stats,
    ).distinct()
    fa = fps.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"))
    fb = fps.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against an existing corpus (and
    within the batch itself) — the nightly-ingest shape of corpus dedup:
    at 100 TB you never re-pair the whole corpus against itself; you
    probe the day's arrivals against the standing index.

    Candidate generation is a prefix-index PROBE instead of the full
    bucket expansion: only the batch's prefix rows join the combined
    prefix index on shingle, so corpus-side rows pair exclusively with
    batch rows — corpus x corpus pairs are never generated (the full
    operator's quadratic term). Same hashed-set cache and exact filters
    as ``dedup_ngram_jaccard`` (rarest-first prefix, length bound, PPJoin
    positional bound, exact-Jaccard verification), and none of the
    streaming lane's helpers, so the streaming index tests can use it
    as an independent reference; returns (id_a < id_b, jaccard) where
    at least one side is a batch document.

    This form rebuilds the corpus-side prefix index per call — O(corpus)
    — which is fine for a batch nightly job but the wrong asymptote per
    streaming trigger. The production streaming shape persists the index
    (streaming/neardup_index.py: shingle-bucketed postings StateTable
    under a FROZEN order, probed bucket-pruned) — see
    :func:`dedup_incremental_frozen` for the oracle-certified batch twin
    of that lane.
    """
    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        batch.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_new"))
    )
    sets = shingle_sets(tagged, text_col, id_col, k, carry={"_new": F.col("_new")})
    hsets, small_sets, small_vocab = _cached_hsets(
        sets.select(
            F.col(id_col), "_new", _xxh_set().alias("_h"), F.size("sh").alias("_n")
        ),
        "dedup_incremental",
    )
    # ONE prefix window over the tagged union: the index side IS
    # corpus ∪ batch, and the probe side is its ``_new`` slice.
    prefix = _rarest_first_prefix(
        hsets, id_col, threshold, small_vocab, keep=("_new",)
    )
    probe = prefix.filter(F.col("_new")).select(
        "s", F.col(id_col).alias("_ia"), F.col("n").alias("_na"),
        F.col("_r").alias("_pa"),
    )
    index = prefix.select(
        "s", F.col(id_col).alias("_ib"), F.col("n").alias("_nb"),
        F.col("_r").alias("_pb"),
    )
    cand = (
        probe.join(index, "s")
        .filter(F.col("_ia") != F.col("_ib"))
        .filter(_ppjoin_filter(threshold))
        # orient after the symmetric filters: batch-batch pairs arrive in
        # both directions and collapse in the distinct
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
        )
        .distinct()
    )
    return _verified_pairs_hashed(
        cand, hsets, id_col, threshold, broadcast_sets=small_sets
    )


def frozen_order_prefix_rows(
    sets: DataFrame,
    id_col: str,
    threshold: float,
    hot: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """PPJoin prefix rows under a FROZEN total order — the order that
    makes a PERSISTENT prefix index possible (the streaming incremental
    near-dup sink's standing index, streaming/neardup_index.py).

    The order is ``(hot-frequency, md5(s), s)`` ascending with non-hot
    shingles first: ``hot`` is a small frozen table of the corpus's
    most frequent shingles (``s``, ``freq``) — broadcast, bounded, and
    refreshed only at an explicit maintenance cadence — so frequent
    shingles sort LAST and fall out of prefixes (the Zipf mass that
    rarest-first frequency order exists to exclude), while the md5
    tail spreads the rare majority uniformly. Unlike per-snapshot
    frequency order, this order does not shift as documents arrive, so
    prefix rows computed at ingest time stay valid forever.

    ``sets`` is ``(id_col, sh array<string>)``; returns
    ``(id_col, n, s, pos)`` — one row per prefix shingle, ``pos`` the
    shingle's rank within the doc under the frozen order, prefix length
    ``n - ceil(threshold*n) + 1``. ``carry`` names extra per-document
    columns of ``sets`` to keep on every prefix row (so a caller can
    compute ONE prefix pass over a tagged union and split probe/index
    sides afterwards instead of running the window twice)."""
    inv = sets.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.size("sh").alias("n"),
        F.explode("sh").alias("s"),
    )
    if hot is not None:
        inv = inv.join(
            F.broadcast(hot.select("s", F.col("freq").alias("_hf"))),
            "s",
            "left",
        )
    else:
        inv = inv.withColumn("_hf", F.lit(None).cast("long"))
    w = Window.partitionBy(id_col).orderBy(
        F.asc_nulls_first("_hf"), F.md5("s").asc(), F.col("s").asc()
    )
    return (
        inv.withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        .select(F.col(id_col), *carry, "n", "s", "pos")
    )


def ppjoin_probe_candidates(
    probe_prefix: DataFrame,
    index_prefix: DataFrame,
    id_col: str,
    threshold: float,
    broadcast_probe: bool = False,
) -> DataFrame:
    """Candidate ``(id_a < id_b)`` pairs from prefix-row frames that
    were computed under the SAME total order: equi-join on shingle plus
    the PPJoin length and positional filters. The prefix-filter
    completeness lemma needs only a CONSISTENT order on both sides —
    any fixed total order works (Chaudhuri et al. ICDE 2006; Bayardo
    et al. WWW 2007); frequency order is merely the candidate-count
    heuristic. That is exactly what lets the index side be PERSISTED:
    rows written under the frozen order remain a complete index for
    every later probe computed under the same order.

    ``broadcast_probe`` hints the probe side into a broadcast hash
    join — the right shape when the probe is a bounded micro-batch
    against a standing index: the (corpus-sized) index side is then
    scanned in place with NO shuffle or sort, where the default
    sort-merge join would shuffle every posting row per trigger. Leave
    False when both sides are corpus-scale."""
    probe = probe_prefix.select(
        "s",
        F.col(id_col).alias("_i1"),
        F.col("n").alias("_n1"),
        F.col("pos").alias("_p1"),
    )
    if broadcast_probe:
        probe = F.broadcast(probe)
    index = index_prefix.select(
        "s",
        F.col(id_col).alias("_i2"),
        F.col("n").alias("_n2"),
        F.col("pos").alias("_p2"),
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("_n1") + F.col("_n2"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("_n1") - F.col("_p1"), F.col("_n2") - F.col("_p2")
    )
    return (
        probe.join(index, "s")
        .filter(F.col("_i1") != F.col("_i2"))
        .filter(
            (
                F.least("_n1", "_n2").cast("double")
                >= F.lit(threshold) * F.greatest("_n1", "_n2")
            )
            & (ubound >= alpha)
        )
        .select(
            F.least("_i1", "_i2").alias("id_a"),
            F.greatest("_i1", "_i2").alias("id_b"),
        )
        .distinct()
    )


def dedup_incremental_frozen(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Same RESULT SET as :func:`dedup_incremental` — exact near-dup
    pairs of batch x (corpus ∪ batch), never corpus x corpus — via the
    frozen-order probe lane the persistent streaming index uses
    (streaming/neardup_index.py). Output equality holds because prefix
    filtering is complete under ANY consistent total order and the
    Jaccard verification is exact: the order changes candidate COUNT,
    never the verified pair set. This batch form exists so the driver's
    oracle gate hash-certifies the probe lane itself (the streaming
    class composes the same two helpers against persisted prefix rows).

    ``corpus`` and ``batch`` must be id-disjoint (the streaming sink
    anti-joins the batch's ids out of the standing side — the partial-
    replay guarantee).

    Cost shape (r12): ONE spread tokenize+shingle pass into a tagged
    cache that carries both the string shingles (the frozen order and
    the hot join key live in the string domain) and the pre-hashed
    xxhash64 arrays verification intersects; ONE frozen-order prefix
    window over the whole tagged union (the index side IS corpus ∪
    batch, and the probe side is its ``_new`` slice — running the
    window per side executed the tokenize lineage twice more and the
    ``hot`` aggregation once per broadcast); prefix rows are cached so
    the candidate self-join's probe and index subtrees both read the
    materialized rows instead of re-running the window."""
    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        batch.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_new"))
    )
    sets, _, small_vocab = _cached_hsets(
        spread(tagged, id_col)
        .select(
            F.col(id_col),
            F.col("_new"),
            shingles_of_tokens(tokens(text_col), k).alias("sh"),
        )
        .withColumn("_h", _xxh_set())
        .withColumn("_n", F.size("sh")),
        "incremental_frozen",
    )
    ap = frozen_order_prefix_rows(
        sets.select(id_col, "_new", "sh"),
        id_col,
        threshold,
        hot=hot,
        carry=("_new",),
    ).transform(scoped_cache, "incremental_frozen")
    bp = ap.filter(F.col("_new")).select(id_col, "n", "s", "pos")
    cand = ppjoin_probe_candidates(
        bp, ap.select(id_col, "n", "s", "pos"), id_col, threshold
    )
    return _verified_pairs_hashed(
        cand,
        sets.select(id_col, "_h", "_n"),
        id_col,
        threshold,
        broadcast_sets=small_vocab,
    )


def remove_boilerplate_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate REMOVAL, not just detection: rewrite every document
    with its repeated passages cut out — the RefinedWeb/CCNet line-dedup
    stage (Penedo et al., arXiv:2306.01116 §3.3; the reference has no
    corpus surface — this extends SURVEY §2's M7 curation family) at
    chunk granularity, since the corpus carries no line breaks.

    A document is chunked into NON-overlapping ``chunk_size``-token
    windows; a chunk content occurring in >= ``min_docs`` DISTINCT
    documents is boilerplate (headers, footers, licence blocks, nav
    text), and every occurrence is dropped from every document. The
    rewrite happens in the array domain on the docs side: chunks whose
    index landed in the document's removal list are filtered out, the
    rest re-join in original order.

    Returns one row per document: ``n_tokens_before``,
    ``n_tokens_after``, ``n_chunks_removed``, and ``cleaned_md5`` (the
    md5 of the rewritten text, so an independent engine can verify the
    rewrite itself, not just the counts).

    Scale shape: the duplicate-content discovery shuffles ONLY
    (id, pos, 16-byte md5) rows — never chunk text; the boilerplate set
    is an equi-join on the hash; the per-doc removal-position lists are
    bounded by chunks-per-doc and re-join the corpus on the id. The
    document text itself is never exploded and never shuffled: the
    rewrite is a narrow projection over the original row.
    """
    # Tokenize ONCE into a materialized column before the chunking
    # lambda: slice(<tokenizer expr>, ...) inside transform re-runs the
    # tokenizer per chunk (interpreted HOF lambdas re-evaluate referenced
    # expression trees per element — the dsir_importance lesson,
    # ~4x on that query at sf0.1).
    base = spread(docs, id_col).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_size)).cast("int")
    chunks = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * chunk_size + 1, chunk_size),
    )).otherwise(F.array().cast("array<array<string>>"))
    chunked = base.select(F.col(id_col), chunks.alias("_chunks"))

    # Cache the NARROW (id, pos, md5) chunk table: it feeds both the
    # boilerplate discovery groupBy and the per-doc removal join —
    # uncached, the tokenize + chunk + per-chunk md5 pass ran twice.
    # The cached rows carry 16-byte hashes, never chunk text, so the
    # footprint stays ~chunks-per-corpus x 50 bytes at any scale.
    ex = chunked.select(
        id_col, F.posexplode("_chunks").alias("pos", "chunk")
    ).select(
        id_col, "pos", F.md5(F.concat_ws(" ", "chunk")).alias("_m")
    ).transform(scoped_cache, "boilerplate_chunks")
    boiler = (
        ex.groupBy("_m")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_m")
    )
    removals = (
        ex.join(boiler, "_m")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_rpos"))
    )
    rp = F.coalesce(F.col("_rpos"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_chunks"),
        lambda c, i: ~F.array_contains(rp, i.cast("int")),
    )
    cleaned_toks = F.flatten(kept)
    return (
        chunked.join(removals, id_col, "left")
        .select(
            F.col(id_col),
            F.size(F.flatten("_chunks")).cast("bigint").alias("n_tokens_before"),
            F.size(cleaned_toks).cast("bigint").alias("n_tokens_after"),
            F.size(rp).cast("bigint").alias("n_chunks_removed"),
            F.md5(F.concat_ws(" ", cleaned_toks)).alias("cleaned_md5"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing-selected fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS scheme) as an ``(id, fp)`` inverted index:
    hash every ORDERED ``k``-token gram, slide a window of ``w`` over
    the hash sequence, keep each window's minimum. Guaranteed to
    fingerprint any match of length >= ``w + k - 1`` tokens while
    thinning the gram stream to ~2/(w+1) density — the local-overlap
    primitive (shared passages, quotations) where the bag-of-shingles
    Jaccard family only sees global similarity.

    Everything is array-domain expression work fused into the scan;
    documents shorter than ``k`` tokens fingerprint their whole text.
    """
    tk = tokens(text_col)
    d = spread(df, id_col).select(F.col(id_col), tk.alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n = F.size("_tk")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("_tk", (i + j).cast("int")) for j in range(k)]
    )
    gh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: hash32(gram(i)),
        ),
    ).otherwise(F.array(hash32(F.concat_ws(" ", F.col("_tk")))))
    g = d.select(id_col, gh.alias("_gh"))
    m = F.size("_gh")
    fps = F.when(
        m >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(m - w, F.lit(0))),
                lambda i: F.array_min(F.slice("_gh", i + 1, w)),
            )
        ),
    ).otherwise(F.array_distinct("_gh"))
    return g.select(id_col, F.explode(fps).alias("fp"))


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Winnowing overlap candidates: ``(id_a, id_b, n_shared)`` pairs of
    documents sharing >= ``min_shared`` selected fingerprints.

    Built on ``_bucket_pairs`` with the fingerprint as the bucket key —
    ONE shuffle on ``fp`` (collect ids per fingerprint, expand pairs
    in-expression) instead of an inverted-index self-join, and the
    ``max_fp_df`` document-frequency cap rides the same guardrail as
    every LSH bucket here: a fingerprint shared by ``f`` documents
    costs f^2/2 pairs, so one boilerplate passage in 10k docs is 5e7
    pairs from a SINGLE hash — those hot fingerprints are navigation/
    licence text, not local overlap worth quadratic work, and they are
    DROPPED before expansion (pass ``stats`` for the dropped-bucket
    accounting DataFrame, keyed by fp with its bucket_size).
    """
    inv = winnowing_fingerprints(df, text_col, id_col, k=k, w=w)
    cand = _bucket_pairs(
        inv, ["fp"], id_col, max_bucket_size=max_fp_df, stats=stats
    )
    return (
        cand.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs by blocked edit distance:
    ``(id_a, id_b, edit_distance)`` for records in the SAME block whose
    ``text_col`` values are within ``max_dist`` Levenshtein edits — the
    standard blocking + pairwise-compare shape (Fellegi-Sunter record
    linkage; Christen, "Data Matching", Springer 2012 ch. 4).

    Scale design: the quadratic compare runs only WITHIN blocks, so
    block keys must bound block size (brand x first-token here, not
    brand alone); recall lost to a blocking key that an edit crosses is
    recovered by a second pass with a different key (multi-pass
    blocking), never by widening one block. Two pre-filters cut the
    in-block work: the length band (| |a|-|b| | <= max_dist is a
    Levenshtein lower bound) drops pairs before any DP runs, and the
    edit distance itself is computed with Spark's bounded variant
    (``levenshtein(l, r, threshold)``), which abandons a pair's DP as
    soon as the running minimum exceeds ``max_dist``.
    """
    blocks = [F.col(c) for c in block_cols]
    a = df.select(
        *blocks, F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
    )
    b = df.select(
        *blocks, F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    d = F.levenshtein("_ta", "_tb", max_dist)
    return (
        a.join(b, block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
        .select("id_a", "id_b", *block_cols, d.alias("edit_distance"))
        .filter(F.col("edit_distance") >= 0)
    )


def fuzzy_segment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    max_dist: int = 2,
    max_bucket_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Edit-distance pairs via INTERLEAVED-SIGNATURE blocking — the
    scalable form of :func:`fuzzy_blocked_pairs` when blocks alone stay
    quadratic (15k names per nation = 100M bounded-DP calls; 1M = 5e11).

    Signature: character class ``i`` of a string is the concatenation
    of its characters at positions ``== i (mod max_dist+1)``. Each
    substitution touches exactly one class, so two equal-length strings
    within ``max_dist`` substitutions share AT LEAST ONE intact class
    (pigeonhole) — candidates are pairs agreeing on (block, class id,
    class projection), found by one shuffle on the signature key, then
    verified with the bounded Levenshtein DP. Unlike prefix/segment
    signatures (PassJoin, Li et al. VLDB 2011 — fixed substrings, which
    degenerate to one hot bucket when the data shares a constant prefix
    like 'Customer#000...'), interleaved classes sample the VARIABLE
    region of every string, so buckets stay discriminative.

    Recall contract: complete for substitution-only edits between
    equal-length strings; insert/delete edits shift positions and may
    escape the signature (the documented signature-ER tradeoff — run a
    second pass with a shifted signature to recover them). The
    ``max_bucket_size`` cap (with ``stats`` accounting) guards
    pathological blocks exactly as in every LSH scheme here.
    """
    d1 = max_dist + 1
    text = F.col(text_col)
    projections = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg_id"),
                F.when(
                    F.length(text) >= i + 1,
                    F.concat_ws(
                        "",
                        F.transform(
                            F.sequence(
                                F.lit(i + 1), F.length(text), F.lit(d1)
                            ),
                            lambda j: F.substring(text, j, F.lit(1)),
                        ),
                    ),
                )
                .otherwise(F.lit(""))
                .alias("proj"),
            )
            for i in range(d1)
        ]
    )
    inv = spread(df, id_col).select(
        *block_cols, F.col(id_col), F.explode(projections).alias("_s")
    ).select(
        *block_cols,
        id_col,
        F.col("_s.seg_id").alias("_seg"),
        F.col("_s.proj").alias("_proj"),
    )
    cand = _bucket_pairs(
        inv,
        [*block_cols, "_seg", "_proj"],
        id_col,
        max_bucket_size=max_bucket_size,
        stats=stats,
    ).distinct()
    a = df.select(
        F.col(id_col).alias("id_a"),
        *block_cols,
        F.col(text_col).alias("_ta"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    d = F.levenshtein("_ta", "_tb", max_dist)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
        .select("id_a", "id_b", *block_cols, d.alias("edit_distance"))
        .filter(F.col("edit_distance") >= 0)
    )
