"""Aggregations & time windows (reference §2.4: A1-A8).

Reference capabilities reproduced:

- **A1 fold/reduce per key** — incremental grouped count/sum kept in Cache
  (docs/source/getting_started.rst:118-123) -> ``groupBy().agg()`` (batch)
  and update-mode streaming agg / ``applyInPandasWithState`` (streaming,
  see streaming.stateful).
- **A3 per-event sliding window** (docs/source/cookbook.rst:244-280): the
  reference emits, per event, the count of events in the trailing window —
  a RANGE window frame, not a slide-aligned window.
- **A4/A5 tumbling/hopping** (cookbook.rst:220-221) -> ``F.window``.
- **A6 session windows** (cookbook.rst:223) -> ``F.session_window``
  (streaming) and the gaps-and-islands rewrite (batch, oracle-checkable).
- **A7 dedup** (cookbook.rst:519-520 "compacting/deduplicating by key") ->
  deterministic keep-first via row_number (``dropDuplicates`` picks an
  arbitrary row; corrections compaction needs "latest wins" determinism).

All are single-shuffle grouped aggregations; partial aggregation
(map-side combine) applies automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, IntegralType


def tumbling_window_agg(
    df: DataFrame, ts: str, size: str, keys: list[str] | None = None, aggs=None
) -> DataFrame:
    """Fixed-size non-overlapping event-time windows (A4).

    ``size`` e.g. "1 hour". Emits window_start/window_end as columns.
    """
    group = [F.window(ts, size)] + [F.col(k) for k in (keys or [])]
    out = df.groupBy(*group).agg(*(aggs or [F.count("*").alias("n")]))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in out.columns if c != "window"],
    )


def hopping_window_agg(
    df: DataFrame, ts: str, size: str, slide: str,
    keys: list[str] | None = None, aggs=None,
) -> DataFrame:
    """Fixed-size overlapping windows every ``slide`` (A5). Each event lands
    in size/slide windows; Spark expands then groups (map-side combined).
    """
    group = [F.window(ts, size, slide)] + [F.col(k) for k in (keys or [])]
    out = df.groupBy(*group).agg(*(aggs or [F.count("*").alias("n")]))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in out.columns if c != "window"],
    )


def sliding_count_per_event(
    df: DataFrame, ts: str, window_size: str, key: str | None = None,
    out_col: str = "sliding_count",
) -> DataFrame:
    """Per-event trailing-window count (A3, cookbook.rst:244-280): for each
    row, how many rows (same key) fall in ``[ts - window_size, ts]``.

    RANGE frame over event-time — exactly the reference's semantics (it
    prunes ``event_time - t <= window_size`` per arriving event and emits a
    count per event). ``window_size`` is an interval SQL string.
    """
    part = f"PARTITION BY {key} " if key else ""
    return df.withColumn(
        out_col,
        F.expr(
            f"count(*) OVER ({part}ORDER BY CAST({ts} AS TIMESTAMP) "
            f"RANGE BETWEEN {window_size} PRECEDING AND CURRENT ROW)"
        ),
    )


def session_windows(
    df: DataFrame, ts: str, gap: str, key: str | None = None, aggs=None
) -> DataFrame:
    """Dynamic-size session windows (A6): a session breaks when the gap to
    the previous event exceeds ``gap``. Batch gaps-and-islands rewrite:
    lag -> new-session flag -> running sum = session id -> group.

    Two shuffles (window + group) on the same key — Catalyst reuses the
    partitioning. Streaming path: ``F.session_window`` (see
    streaming.stateful) with identical session-assignment semantics.
    """
    part = [key] if key else []
    w = (Window.partitionBy(*part).orderBy(ts)) if part else Window.orderBy(ts)
    # Timestamp difference yields a DayTimeInterval, compared against the
    # interval literal directly (casting an interval to long truncates to
    # its leading field, silently wrecking the threshold).
    flagged = df.withColumn(
        "_new_session",
        F.when(
            F.col(ts) - F.lag(F.col(ts), 1).over(w) > F.expr(gap),
            1,
        )
        .otherwise(0)
        .cast("bigint"),
    ).withColumn(
        "_session_id",
        F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    group = part + ["_session_id"]
    out = flagged.groupBy(*group).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        *(aggs or [F.count("*").alias("n_events")]),
    )
    return out.drop("_session_id")


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_col: str, keep: str = "first"
) -> DataFrame:
    """Deterministic dedup by key (A7): keep the first (or last) row per key
    ordered by ``order_col``. 'last' is the corrections-compaction mode of
    cookbook.rst:519-520 (latest record wins).
    """
    order = F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def top_k_per_group(
    df: DataFrame, keys: list[str], order_col: str, k: int,
    ascending: bool = False, rank_col: str = "rk",
) -> DataFrame:
    """Top-k rows per group via ranking window (§2.5)."""
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(*keys).orderBy(order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def ordered_scan(df: DataFrame, order_cols: list, folds: dict) -> DataFrame:
    """Distributed running folds over the total order of ``order_cols``
    without funnelling the table through one task: a by-less
    ``row_number()`` / ``SUM`` / ``MAX`` ``OVER (ORDER BY ...)`` sorts the
    whole input in a single partition, the classic 100x scale-killer on
    unbounded-grain (customer/document) rows.

    ``folds`` maps each output column to ``"count"`` (the 1..n row
    number), ``("sum", col)`` (running sum) or ``("max", col)`` (running
    max, a high-water mark). All folds share one two-phase pass:
    range-repartition on the sort key into ``spark.sql.shuffle.partitions``
    ranges, fold locally per range, then merge in the broadcast fold of
    all EARLIER ranges. The only by-less window left runs over the
    per-range partials, bounded by the partition count, never by the
    data. Each output column is appended to ``df``'s columns.

    Callers must end ``order_cols`` with a unique tie-break key: every
    fold is then a pure function of the total order, independent of
    partitioning. The range-partitioned frame is checkpointed locally so
    the offsets branch and the local branch provably read the SAME
    ``spark_partition_id`` assignment (re-derived lineage could
    re-sample range boundaries). NULL inputs fold like the single-
    partition window: skipped, and NULL only while nothing was seen.
    Sum weights must be integer or DECIMAL (else ``TypeError``): the
    regrouping reorders additions, which only exact types survive
    bit-identically. Max takes any comparable type.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    lw = Window.partitionBy("_pid").orderBy(*cols)
    run = lw.rowsBetween(Window.unboundedPreceding, 0)
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    local, partials, offsets, merged = {}, [], [], {}
    for i, (out, fold) in enumerate(folds.items()):
        # a lone fold keeps the bare internal names; later ones get a suffix
        sfx = str(i) if i else ""
        off = F.col(f"_off{sfx}")
        if fold == "count":
            local[f"_lrn{sfx}"] = F.row_number().over(lw)
            partials.append(F.count("*").alias(f"_c{sfx}"))
            offsets.append(
                F.coalesce(F.sum(f"_c{sfx}").over(ow), F.lit(0))
                .cast("bigint")
                .alias(f"_off{sfx}")
            )
            merged[out] = (off + F.col(f"_lrn{sfx}")).cast("bigint")
        elif fold[0] == "sum":
            dt = df.schema[fold[1]].dataType
            if not isinstance(dt, (IntegralType, DecimalType)):
                raise TypeError(
                    f"sum fold over {fold[1]} needs an integer or DECIMAL "
                    f"column, not {dt.simpleString()}"
                )
            lcs = F.col(f"_lcs{sfx}")
            local[f"_lcs{sfx}"] = F.sum(fold[1]).over(run)
            partials.append(F.sum(fold[1]).alias(f"_t{sfx}"))
            offsets.append(F.sum(f"_t{sfx}").over(ow).alias(f"_off{sfx}"))
            # NULL only when both halves saw nothing but NULLs
            merged[out] = F.coalesce(off + lcs, lcs, off)
        elif fold[0] == "max":
            local[f"_lm{sfx}"] = F.max(fold[1]).over(run)
            partials.append(F.max(fold[1]).alias(f"_m{sfx}"))
            offsets.append(F.max(f"_m{sfx}").over(ow).alias(f"_off{sfx}"))
            merged[out] = F.greatest(F.col(f"_lm{sfx}"), off)
        else:
            raise ValueError(f"unknown fold for {out}: {fold!r}")
    part = (
        df.repartitionByRange(n, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    offs = part.groupBy("_pid").agg(*partials).select("_pid", *offsets)
    return (
        part.withColumns(local)
        .join(F.broadcast(offs), "_pid")
        .withColumns(merged)
        .drop(*offs.columns, *local)
    )


def exact_ntile(rank_col: str, n_col: str, k: int):
    """SQL ``NTILE(k)`` reconstructed from a precomputed global rank and
    total row count: the first ``n % k`` tiles get ``ceil(n/k)`` rows,
    the rest ``floor(n/k)`` — bit-identical to the window function, so
    an :func:`ordered_scan` ``count`` fold + this expression replaces a
    single-partition NTILE window. Divisions run in double but stay
    exact: every operand is an integer far below 2^53, and non-multiples
    sit >= 1/(q+1) away from the next integer while the quotient is
    correctly rounded."""
    r, n = F.col(rank_col), F.col(n_col)
    q = F.floor(n / k)
    rem = n % k
    head = (q + 1) * rem
    return (
        F.when(r <= head, F.floor((r - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((r - head - 1) / q) + 1)
        .cast("int")
    )


def exact_quantiles(
    df: DataFrame, value_col: str, probs: list[int]
) -> DataFrame:
    """EXACT nearest-rank percentiles of ``value_col`` — the value at
    rank ``ceil(p/100 * n)`` of the ascending sort — without funnelling
    the table through a single-partition sort: :func:`ordered_scan`
    assigns the total order distributedly, the (scalar) row count joins
    in as a broadcast, and only the ``len(probs)`` target ranks survive
    the final join. ``approx_percentile`` answers the same question
    with error bars; this is the exact path (the reconciliation job,
    the SLA percentile that ends up in a contract).

    ``probs`` are integer percents in (0, 100]. Ties in ``value_col``
    make the rank->row mapping ambiguous but the VALUE at each rank is
    unique, so no tie-break key is needed. Returns ``(pct int, value)``
    rows.
    """
    if not probs or any(not 0 < p <= 100 for p in probs):
        raise ValueError(f"probs must be integer percents in (0, 100]: {probs}")
    sess = df.sparkSession
    slim = df.select(value_col)
    r = ordered_scan(slim, [value_col], {"_rk": "count"})
    total = slim.agg(F.count("*").alias("_n"))
    pcts = sess.createDataFrame([(int(p),) for p in probs], "pct int")
    # ceil(p*n/100) in integer-safe form: (p*n + 99) stays exact in a
    # double far below 2^53, and the /100.0 quotient is >= 1/100 away
    # from the next integer whenever it is not itself exact
    targets = pcts.crossJoin(F.broadcast(total)).select(
        "pct",
        F.floor((F.col("pct") * F.col("_n") + 99) / F.lit(100.0))
        .cast("bigint")
        .alias("_rk"),
    )
    return (
        r.join(F.broadcast(targets), "_rk")
        .groupBy("pct")
        .agg(F.min(value_col).alias("value"))
    )


def interval_coverage(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key interval-union sweep: merge overlapping/touching closed
    intervals ``[start, end]`` and report, per key, the merged-island
    count, total covered units, calendar span, and busy fraction — the
    capacity/SLA-exposure primitive (booking conflicts, on-call
    coverage, order lead-time overlap).

    The classic sweep line as two PARTITIONED windows (never a global
    sort): a running max of interval ends over rows strictly before the
    current one marks island starts (start > max-end-so-far), and a
    running sum of those markers numbers the islands; island-grain and
    key-grain partial aggs finish the job. Start/end must be integers
    (days, seconds, micros — caller's choice of unit); the only double
    is the final busy fraction.

    Output: key cols + (n_busy_islands, covered_units, span_units,
    busy_frac).
    """
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*key_cols)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s, e = F.col(start_col), F.col(end_col)
    mk = df.withColumn(
        "_new_island",
        F.when(s > F.coalesce(F.max(end_col).over(w_prev), s - 1), 1).otherwise(0),
    ).withColumn("_island", F.sum("_new_island").over(w_run))
    per = mk.groupBy(*key_cols, "_island").agg(
        F.min(start_col).alias("_lo"), F.max(end_col).alias("_hi")
    )
    return per.groupBy(*key_cols).agg(
        F.count("*").cast("bigint").alias("n_busy_islands"),
        F.sum(F.col("_hi") - F.col("_lo") + 1)
        .cast("bigint")
        .alias("covered_units"),
        (F.max("_hi") - F.min("_lo") + 1).cast("bigint").alias("span_units"),
        (
            F.floor(
                F.sum(F.col("_hi") - F.col("_lo") + 1).cast("double")
                / (F.max("_hi") - F.min("_lo") + 1)
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("busy_frac"),
    )


def exact_auc(
    df: DataFrame,
    score_col: str,
    label_col: str | None = None,
    pregrouped: bool = False,
) -> DataFrame:
    """Exact tie-corrected ROC AUC of an integer score against a boolean
    label: AUC = P(score_pos > score_neg) + 0.5 * P(score_pos ==
    score_neg), the rank-sum (Mann-Whitney) form — computed WITHOUT an
    n^2 pair join by collapsing pairwise comparisons onto the score
    VALUE GRAIN: per distinct score, positive/negative counts; the
    cumulative negatives strictly below each value come from the
    distributed prefix sum (:func:`ordered_scan` — no single-partition
    sort), and the numerator folds exactly in DECIMAL.

    ``score_col`` must be integer-valued (quantize floats to fixed
    point first — the house determinism discipline). Returns one row:
    (n_pos, n_neg, auc_numerator, auc).

    With ``pregrouped=True``, ``df`` is already the value grain with
    columns (score_col, _p, _m) — callers that also need per-value
    readouts (ROC points) can build the grain once and share it.
    """
    if pregrouped:
        vg = df
    else:
        if label_col is None:
            raise ValueError(
                "label_col is required unless pregrouped=True"
            )
        vg = df.groupBy(score_col).agg(
            F.sum(F.when(F.col(label_col), 1).otherwise(0))
            .cast("bigint")
            .alias("_p"),
            F.sum(F.when(F.col(label_col), 0).otherwise(1))
            .cast("bigint")
            .alias("_m"),
        )
    cum = ordered_scan(vg, [score_col], {"_cum_m": ("sum", "_m")}).withColumn(
        "_neg_below", F.col("_cum_m") - F.col("_m")
    )
    return cum.agg(
        F.sum("_p").cast("bigint").alias("n_pos"),
        F.sum("_m").cast("bigint").alias("n_neg"),
        (
            F.sum(F.col("_p").cast("decimal(38,0)") * F.col("_neg_below"))
            + F.sum(F.col("_p").cast("decimal(38,0)") * F.col("_m")) / 2
        )
        .cast("decimal(38,1)")
        .alias("auc_numerator"),
        (
            (
                F.sum(F.col("_p").cast("decimal(38,0)") * F.col("_neg_below"))
                + F.sum(F.col("_p").cast("decimal(38,0)") * F.col("_m")) / 2
            ).cast("double")
            / (
                F.sum("_p").cast("double") * F.sum("_m").cast("double")
            )
        ).alias("auc"),
    )
