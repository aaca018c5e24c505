"""Sampling operators for training-data pipelines.

Every sampler here is **deterministic hash sampling** — the reproducible
form: membership is a pure function of the row's id (md5-derived bucket
in [0, 10000)), so the same document set survives on any cluster, any
partitioning, any engine, any rerun — the property training-data
curation actually needs (rerun the pipeline, get the same corpus; audit
membership years later). Also the basis for stable train/validation/test
splits. Spark's native ``sample``/``sampleBy`` (Bernoulli per partition,
seeded) stay right for statistics (skew probes, cardinality estimates)
and wrong for reproducible corpus membership (resilient to neither
repartitioning nor engine change).

The reference has no sampling surface (single-stream, no corpus ops);
this extends SURVEY §2's M7 inventory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slipstream_async_spark.functions.text import hash32

_BUCKETS = 10_000
_U_DENOM = 4_294_967_297  # 2^32 + 1: u = (hash32 + 1) / _U_DENOM lands in (0, 1]


def hash_bucket(id_col: Column | str, salt: str = "") -> Column:
    """Stable bucket in [0, 10000) from an id column (md5-derived, engine
    reproducible: DuckDB `('0x' || substr(md5(salt || id), 1, 8))::BIGINT
    % 10000`). ``salt`` decorrelates independent samples over the same
    ids (e.g. one for sampling, one for splitting)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return hash32(F.concat(F.lit(salt), c.cast("string"))) % _BUCKETS


def deterministic_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep rows whose hash bucket falls below ``rate`` — an exact,
    rerun-stable ~rate sample keyed on identity, not randomness.

    No shuffle, no state: a filter the optimizer pushes into the scan
    stage; at 100 TB this is a full-scan map with data-skipping where the
    id correlates with file layout.
    """
    return df.filter(hash_bucket(id_col, salt) < round(rate * _BUCKETS))


def train_test_split(
    df: DataFrame, id_col: str, test_rate: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, rerun-stable (train, test) split by id hash.

    Membership survives reruns, repartitioning, and incremental corpus
    growth (a document's side never changes as others are added) — the
    leakage-safe way to split training corpora.
    """
    bucket = hash_bucket(id_col, salt)
    cut = round(test_rate * _BUCKETS)
    return df.filter(bucket >= cut), df.filter(bucket < cut)


def deterministic_stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Rerun-stable stratified sample: per-stratum keep rates applied to
    the same id-hash bucket (down-sample over-represented sources, keep
    rare ones whole — the corpus-rebalancing step of data curation).

    The stratum only selects the *threshold*; membership stays a pure
    function of the id, so a document keeps its bucket across strata
    reassignments and rate changes remain monotone (raising a rate only
    ever adds documents). Plans as scan + CASE filter: no shuffle, no
    per-stratum pass.
    """
    # round(), not int(): 0.29 * 10000 is 2899.999... in binary floating
    # point — truncation would silently exclude one whole bucket.
    bucket = hash_bucket(id_col, salt)
    thresh: Column = F.lit(round(default_rate * _BUCKETS))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(round(rate * _BUCKETS))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    strata_col: str | None = None,
    salt: str = "wrs",
) -> DataFrame:
    """Weighted sampling without replacement, deterministic: the
    Efraimidis–Spirakis A-ES scheme (IPL 2006) — each row draws
    u in (0, 1] and ranks by key u^(1/w); the k largest keys are a
    without-replacement sample where inclusion probability tracks the
    weight. Here u is md5-derived from the id (rerun-stable, engine
    reproducible), and ranking uses the monotone-equivalent
    ``ln(u) * max(w) / w`` (avoids pow() underflow; the max(w)
    normalization — exact and engine-identical, scaling by a positive
    constant per ranking scope preserves the A-ES order — keeps keys
    O(1) so the 6-decimal rounding keeps its resolution: unnormalized
    ln(u)/w with token-count-sized weights collapses to a handful of
    rounded values and the 'weighted' sample degenerates to id order),
    ROUNDED to 6 decimals with an id tie-break so the selected set is
    bit-stable across engines.

    With ``strata_col``, the top-k is per stratum (e.g. k docs per
    source, probability proportional to token count — the standard
    quality-weighted corpus subsample). Rows with weight <= 0 are
    excluded (they'd get key 0 anyway in A-ES).

    Scale shape: one hash + one division per row, then a per-stratum
    top-k window (shuffle keyed on the stratum; for the unstratified
    form at extreme scale, pre-filter with a per-partition top-k before
    the global window). Returns the sampled rows + ``wrs_key``.
    """
    from pyspark.sql import Window

    u = (
        hash32(F.concat(F.lit(salt), F.col(id_col).cast("string")))
        + F.lit(1)
    ) / F.lit(float(_U_DENOM))
    wcol = F.col(weight_col).cast("double")
    base = df.filter(F.col(weight_col) > 0)
    if strata_col is not None:
        mx = base.groupBy(strata_col).agg(F.max(wcol).alias("_maxw"))
        base = base.join(F.broadcast(mx), strata_col)
    else:
        mx = base.agg(F.max(wcol).alias("_maxw"))
        base = base.crossJoin(F.broadcast(mx))
    key = F.round(F.log(u) * F.col("_maxw") / wcol, 6).alias("wrs_key")
    base = base.withColumn("wrs_key", key).drop("_maxw")
    part = [strata_col] if strata_col is not None else []
    w = Window.partitionBy(*part).orderBy(
        F.col("wrs_key").desc(), F.col(id_col).asc()
    )
    return (
        base.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
