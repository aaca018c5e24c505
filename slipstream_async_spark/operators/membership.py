"""Mergeable Bloom-filter membership: build a fixed-size bitmap over a
key column, probe it from any other frame — the kilobyte-scale
pre-filter that replaces a shuffle/broadcast of a full key SET in
semi-join-shaped problems (benchmark decontamination, standing-index
dedup probes, "have we seen this id" gates).

Design (all public Spark API, reproducible in any engine with md5):

- ``K`` hash positions per key: ``hash32(key || '#i') % (words * 62)``
  — the first 8 hex chars of md5 read base-16 (functions.text.hash32).
- The bitmap is ``words`` rows of (word, 64-bit mask) built by ONE
  partial-aggregated groupBy + ``bit_or`` — mergeable across
  partitions, batches, and days by construction (bit_or again).
- Only 62 bits per word are used (bit 63 and 62 never set), so signed
  shifts and sign-extension behave identically in Spark, DuckDB, and
  any two's-complement engine.
- Probing takes the bitmap as a DRIVER-HELD word list and inlines it
  as ONE ``array<bigint>`` constant (a single string literal the
  optimizer folds), so the probe is a pure projection: element_at +
  bit arithmetic at the scan, no join, no shuffle, no job. A key is a
  member iff all K probed bits are set. False negatives are
  impossible; the false-positive rate is the standard
  (1 - e^{-Kn/m})^K.
- A persistent gate keeps its bitmap in a StateTable, one row per
  word, and every commit writes the FULL merged bitmap
  (:func:`bitmap_rows`), so the newest file of each bucket holds that
  bucket's whole state: :func:`read_bitmap` reads the word list with
  pyarrow, no Spark job.

At 100 TB: the build side aggregates to ``words`` rows no matter how
many keys feed it; the probe side never shuffles (the bitmap is a plan
constant). Tune ``words`` to the expected key count (m ~ 10-15 bits
per key for ~1% FPR at K=4); the plumbing is identical at any size.

Reference parity: the reference's cache layer answers the same
"might this key exist" question with RocksDB bloom/key_may_exist
(slipstream-async cookbook's cache lookups); here it is a first-class
relational operator instead of a storage-engine internal.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slipstream_async_spark.functions.text import hash32

if TYPE_CHECKING:
    from slipstream_async_spark.streaming.state import StateTable

BITS_PER_WORD = 62
#: hash positions per key — fixed, so every bitmap ever written probes
#: with the same scheme (~10-15 bits per key gives ~1% FPR at K=4)
K = 4


def _positions(key: Column, m_bits: int) -> Column:
    """Array of K bit positions in [0, m_bits) for a key."""
    return F.array(
        *[hash32(F.concat(key, F.lit(f"#{i}"))) % F.lit(m_bits) for i in range(K)]
    )


def _bitmap_literal(bitmap: list[int]) -> Column:
    """The word list as ONE ``array<bigint>`` constant: a single string
    literal split and cast, which constant folding turns into one array
    literal — one py4j call at any ``words`` (a literal per word cost
    seconds at thousands of words)."""
    return F.split(F.lit(",".join(map(str, bitmap))), ",").cast("array<bigint>")


def _key_bits(df: DataFrame, key: str, words: int) -> DataFrame:
    """``(word, bm)`` with one single-bit row per probed position of
    each key — unaggregated, for :func:`bloom_merge` to fold."""
    return df.select(
        F.explode(_positions(F.col(key), words * BITS_PER_WORD)).alias("idx")
    ).select(
        (F.col("idx") / BITS_PER_WORD).cast("int").alias("word"),
        F.expr(f"shiftleft(1L, idx % {BITS_PER_WORD})").alias("bm"),
    )


def bloom_build(df: DataFrame, key: str, *, words: int = 16) -> DataFrame:
    """Fold ``df[key]`` into a Bloom bitmap: a DataFrame of
    ``(word: int, bm: bigint)`` with at most ``words`` rows.

    One explode of K positions per key, one groupBy(word)/bit_or —
    partial-aggregated and mergeable: union two builds and re-run
    ``groupBy("word").agg(bit_or("bm"))`` to merge them.
    """
    return bloom_merge(_key_bits(df, key, words))


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR-merge bitmaps built with the same ``words``."""
    merged = blooms[0]
    for b in blooms[1:]:
        merged = merged.unionByName(b)
    return merged.groupBy("word").agg(F.bit_or("bm").alias("bm"))


def collect_bitmap(bloom: DataFrame, words: int) -> list[int]:
    """A built bitmap as the driver-held word list :func:`bloom_probe`
    takes: one bounded collect (at most ``words`` rows by
    construction); absent words read as 0."""
    out = [0] * words
    for r in bloom.collect():
        out[r["word"]] = r["bm"]
    return out


def bloom_probe(df: DataFrame, key: str, bitmap: list[int]) -> DataFrame:
    """Append boolean ``bloom_hit`` to ``df``: True iff all K probed
    bits for ``df[key]`` are set in ``bitmap`` (``bitmap[i]`` = word
    i's 62-bit mask; ``words = len(bitmap)``). Definitely-absent keys
    get False — no false negatives; some absent keys get True at the
    FPR.

    The bitmap is one plan constant (:func:`_bitmap_literal`), so the
    probe is a PURE PROJECTION evaluated at the scan: no join, no
    shuffle, no job, no row-multiplicity hazards — duplicate input rows
    each get their own verdict."""
    m_bits = len(bitmap) * BITS_PER_WORD
    words_arr = _bitmap_literal(bitmap)
    # probe positions come from the SAME helper the build uses — one
    # source of truth for the hash/salt scheme, or build and probe
    # silently disagree and the no-false-negative contract breaks.
    pos_arr = _positions(F.col(key), m_bits)
    hit = F.lit(True)
    for i in range(K):
        idx = F.element_at(pos_arr, i + 1)
        elem = F.element_at(words_arr, (idx / BITS_PER_WORD).cast("int") + 1)
        hit = hit & (
            F.call_function(
                "shiftright", elem, (idx % BITS_PER_WORD).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )
    return df.withColumn("bloom_hit", hit)


def bitmap_rows(bitmap: list[int], df: DataFrame, key: str) -> DataFrame:
    """Commit rows of a persistent gate: the standing ``bitmap``
    OR-merged with ``df[key]``'s bits, as ``(key=word, value=mask,
    attrs={"words": len(bitmap)})`` StateTable rows. The output is the
    FULL merged bitmap (bit_or — idempotent under replay), which is what
    lets :func:`read_bitmap` read only each bucket's newest file; the
    standing side is built from the same word list the gate probed, so
    no commit re-reads the table, and one groupBy folds it with the
    batch's bits. ``bitmap_rows([0] * words, ...)`` builds a new
    gate."""
    words = len(bitmap)
    standing = (
        df.sparkSession.range(1)
        .select(F.posexplode(_bitmap_literal(bitmap)).alias("word", "bm"))
        .filter(F.col("bm") != 0)
    )
    merged = bloom_merge(standing, _key_bits(df, key, words))
    return merged.select(
        F.col("word").cast("string").alias("key"),
        F.col("bm").cast("string").alias("value"),
        F.create_map(F.lit("words"), F.lit(str(words))).alias("attrs"),
    )


def read_bitmap(table: StateTable, words: int, *, rebuild: str) -> list[int]:
    """A persistent gate's standing bitmap as a driver-held word list —
    one pyarrow read of each bucket's newest file
    (:meth:`StateTable.newest_rows`; every gate commit writes the full
    merged bitmap, see :func:`bitmap_rows`), NO Spark job. All zeros
    before the first commit.

    Fails closed: a bitmap built at another ``words`` hashes keys to
    other positions, so most standing keys would probe as definitely
    new. A row whose recorded size differs from ``words``, or that
    records none, raises ``ValueError`` naming both sizes and
    ``rebuild``, the way to rebuild the gate at the new size."""
    out = [0] * words
    for row in table.newest_rows():
        got = dict(row["attrs"] or ()).get("words")
        if got != str(words):
            raise ValueError(
                f"bloom gate at {table.path} was built with "
                f"words={got or 'unrecorded'}, but is probed with "
                f"words={words}; probing it would read most standing "
                "keys as new. Open it with the size it was built with, "
                f"or rebuild it: {rebuild}"
            )
        out[int(row["key"])] = int(row["value"])
    return out


def bloom_fpr(n_keys: int, *, words: int = 16) -> float:
    """Expected false-positive rate of a bloom built from ``n_keys``
    distinct keys at this ``words``: the standard
    ``(1 - e^{-K*n/m})^K``. The saturation dial for sizing ``words``
    — a gate whose FPR approaches 1 silently degrades to the ungated
    join it exists to avoid, so sinks warn when this crosses ~0.5
    (~0.75 * words keys). Size m ~ 10-15 bits/key for ~1% FPR:
    ``words >= n_keys / 5``."""
    import math

    m_bits = words * BITS_PER_WORD
    if n_keys <= 0:
        return 0.0
    return (1.0 - math.exp(-K * n_keys / m_bits)) ** K


def warn_bloom_saturation(n_keys: int, *, words: int, context: str) -> float:
    """Loud saturation diagnostic: warn when the estimated FPR for
    ``n_keys`` standing keys exceeds 0.5 (the gate is no longer
    filtering — most absent keys probe as hits). Returns the estimate
    so callers can record it in stats. ``n_keys`` should come from a
    driver-side footer count (no Spark job)."""
    import warnings

    fpr = bloom_fpr(n_keys, words=words)
    if fpr > 0.5:
        warnings.warn(
            f"{context}: bloom gate is saturated — ~{n_keys} standing "
            f"keys in {words * BITS_PER_WORD} bits gives an estimated "
            f"FPR of {fpr:.2f}; most probes now pass the gate and pay "
            "the exact check it exists to avoid. Rebuild the gate "
            "(a gate's size is fixed once written) with words >= "
            f"{max(words * 2, (n_keys + 4) // 5)} "
            "(~10-15 bits/key for ~1% FPR).",
            RuntimeWarning,
            stacklevel=3,
        )
    return fpr


def count_min_table(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) of
    a key column's frequency distribution as a ``depth x width``
    relational table ``(d, bucket, cnt)`` — the mergeable heavy-hitter /
    frequency-estimate structure: estimates never undercount, and the
    overestimate is bounded by ``e * N / width`` with probability
    ``1 - e^{-depth}``.

    Row ``d``'s bucket for a key is ``hash32(d || ':' || key) % width``
    (md5-derived, so any engine reproduces it bit-for-bit). The build is
    ONE partial-aggregated groupBy to ``depth * width`` rows no matter
    how many keys feed it; two sketches built with the same geometry
    merge by summing ``cnt`` per ``(d, bucket)`` — the standing-corpus
    update path at 100 TB. ``weight_col`` aggregates a weight instead
    of the row count (e.g. token occurrences pre-counted per doc).
    """
    key = F.col(key_col).cast("string")
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (hash32(F.concat(F.lit(f"{d}:"), key)) % width)
                        .alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("_c"),
        w.alias("_w"),
    )
    return (
        rows.groupBy(F.col("_c.d").alias("d"), F.col("_c.bucket").alias("bucket"))
        .agg(F.sum("_w").cast("bigint").alias("cnt"))
    )


def count_min_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query a :func:`count_min_table`: for each key, the MINIMUM
    over the ``depth`` rows of the counter its hash lands in — the CMS
    frequency estimate, appended as ``cms_estimate``.

    The sketch side is ``depth * width`` rows and BROADCASTS; the key
    side never shuffles. Geometry (depth/width) must match the build.
    """
    key = F.col(key_col).cast("string")
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (hash32(F.concat(F.lit(f"{d}:"), key)) % width)
                        .alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("_c"),
    ).select("*", F.col("_c.d").alias("d"), F.col("_c.bucket").alias("bucket"))
    out_cols = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy(*out_cols)
        .agg(F.min("cnt").alias("cms_estimate"))
    )
