"""Stateful streaming operators over Spark's managed per-key state store.

The reference's stateful model is "read cache[key], compute, write
cache[key]" inside a handler (getting_started.rst:113-123) with per-key
locks (T8). Spark's ``applyInPandasWithState`` gives the same per-key
read-modify-write with the locking, checkpointing, and partitioning
managed by the engine — state lives in the RocksDB state store provider
(the same storage engine the reference embeds, here sharded per
shuffle partition).

These helpers wrap the common shapes:

- ``stateful_fold``  — A1's incremental per-key aggregate (count/sum/...)
  emitting the running value per micro-batch, update-mode semantics.
- ``stateful_map``   — the general escape hatch: user fn over
  (key, iterator-of-batches, GroupState).

Scale note: state is hash-partitioned by key across
``spark.sql.shuffle.partitions`` tasks; one shuffle per micro-batch on
the grouping key — the distributed generalization of the reference's 16
striped locks (caching.py:135-139).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_fold(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    fold: str = "count",
    out_col: str = "agg_value",
) -> DataFrame:
    """Running per-key fold over an unbounded DataFrame (A1).

    fold: 'count' | 'sum' | 'max' | 'min'. Emits one row per key per
    micro-batch with the updated running value — the same output cadence
    as the reference's per-message ``yield key, count`` (it emits on
    every message; micro-batching coarsens that to per-batch, the
    documented trade of SURVEY §3.5).
    """
    out_schema = ", ".join(
        [f"{k} string" for k in key_cols] + [f"{out_col} double"]
    )
    state_schema = "acc double"

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ):
        (acc,) = state.get if state.exists else (0.0,)
        n = 0.0
        vmax: float | None = None
        vmin: float | None = None
        vsum = 0.0
        for pdf in pdfs:
            col = pdf[value_col].astype(float)
            n += float(len(col))
            vsum += float(col.sum()) if len(col) else 0.0
            if len(col):
                m = float(col.max())
                vmax = m if vmax is None else max(vmax, m)
                m = float(col.min())
                vmin = m if vmin is None else min(vmin, m)
        if fold == "count":
            acc += n
        elif fold == "sum":
            acc += vsum
        elif fold == "max":
            acc = vmax if not state.exists else max(acc, vmax if vmax is not None else acc)
        elif fold == "min":
            acc = vmin if not state.exists else min(acc, vmin if vmin is not None else acc)
        else:
            raise ValueError(f"unknown fold {fold}")
        state.update((acc,))
        yield pd.DataFrame(
            {**{k: [str(v)] for k, v in zip(key_cols, key)}, out_col: [acc]}
        )

    return df.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_map(
    df: DataFrame,
    key_cols: list[str],
    fn: Callable[[tuple, Iterable[pd.DataFrame], GroupState], Any],
    output_schema: str,
    state_schema: str,
    output_mode: str = "update",
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """General custom stateful operator (the reference's arbitrary
    stateful handler, §2.9): user-supplied (key, batches, state) -> rows.
    """
    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=timeout,
    )


def sliding_count_stateful(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_seconds: int,
) -> DataFrame:
    """A3 exact streaming form: per-EVENT sliding count — for every
    arriving event, the number of same-key events with event time in
    ``(ts - window, ts]`` — the reference's cookbook sliding window
    (docs/source/cookbook.rst:244-280), which emits on each event rather
    than on slide boundaries (what ``window(ts, size, slide)`` gives).

    State per key = the event times still inside the window horizon
    (pruned each batch to ``max_seen - window``, the same eviction the
    reference applies to its cache). Late events older than the horizon
    count only themselves + surviving state — the watermark-style bound;
    the reference has the identical artifact once its cache evicts.

    Scale: state size per key is O(events per window), not O(stream);
    one shuffle per micro-batch on the key.
    """
    out_schema = f"{key_col} string, {ts_col} timestamp, n bigint"
    state_schema = "times array<long>"  # epoch micros inside the horizon
    win_us = window_seconds * 1_000_000

    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        prior = np.sort(np.asarray(state.get[0] if state.exists else [], dtype="int64"))
        chunks = []
        for pdf in pdfs:
            # datetime64[us/ns] -> epoch micros
            col = pd.to_datetime(pdf[ts_col]).astype("int64").to_numpy()
            unit_div = 1000 if len(col) and col.max() > 10**16 else 1
            chunks.append(col // unit_div)
        new = np.sort(np.concatenate(chunks)) if chunks else np.empty(0, "int64")
        # Per-event count, vectorized (no O(batch·window) Python rescan):
        # processing in event-time order, event i sees prior-state times
        # plus new[0..i]; both arrays are sorted, so each side is a pair
        # of searchsorted bounds — O((b + w) log) for the whole batch.
        lo = new - win_us
        n_prior = np.searchsorted(prior, new, side="right") - np.searchsorted(
            prior, lo, side="right"
        )
        n_new = np.arange(1, len(new) + 1) - np.searchsorted(new, lo, side="right")
        counts = n_prior + n_new
        times = np.concatenate([prior, new])
        horizon = int(times.max()) - win_us if len(times) else 0
        state.update(([int(t) for t in times[times > horizon]],))
        yield pd.DataFrame(
            {
                key_col: [str(key[0])] * len(new),
                ts_col: pd.to_datetime(new, unit="us"),
                "n": counts,
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ttl_fold(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ttl_ms: int,
    out_col: str = "agg_value",
) -> DataFrame:
    """Running per-key sum whose state EXPIRES after ``ttl_ms`` of
    processing time — the reference's bounded-retention cache semantics
    (FIFO compaction evicting old records, slipstream/caching.py:112-122,
    features.rst:64-66): a key silent for longer than the TTL restarts
    its fold from zero, exactly how the reference's 25 MB FIFO tables
    forget idle keys. Built on ``applyInPandasWithState``.

    Eviction is two-layered, matching how a 100 TB stream must bound
    state: (a) ``ProcessingTimeTimeout`` — every update re-arms a
    ``ttl_ms`` timer, and an idle key's timeout callback physically
    ``state.remove()``s it, so state size tracks the ACTIVE key set,
    not the all-time key set; (b) a lazy in-handler staleness check
    (``now - last_ms > ttl_ms`` → restart the fold at zero) for the
    window between logical expiry and the next micro-batch's timeout
    sweep. Emits ``(key, running sum)`` per key per micro-batch, update
    mode.
    """
    out_schema = f"{key_col} string, {out_col} double"
    state_schema = "acc double, last_ms long"

    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import time as _time

        if state.hasTimedOut:
            state.remove()
            return
        now_ms = int(_time.time() * 1000)
        acc, last_ms = state.get if state.exists else (0.0, now_ms)
        if state.exists and now_ms - last_ms > ttl_ms:
            acc = 0.0
        for pdf in pdfs:
            acc += float(pdf[value_col].astype(float).sum())
        state.update((acc, now_ms))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({key_col: [str(key[0])], out_col: [acc]})

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_dedup(df: DataFrame, keys: list[str], watermark_col: str,
                    delay: str) -> DataFrame:
    """A7 streaming dedup: drop duplicate keys with bounded state
    (dropDuplicatesWithinWatermark keeps state only ``delay`` long —
    unbounded-state dedup does not survive 100 TB streams)."""
    return df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        keys
    )
