"""StateTable: the Cache analog — queryable, versioned keyed state.

Reference: ``Cache`` wraps an embedded RocksDB with get/put/delete,
ordered/prefix/range scans, wide-column entities, range deletes,
snapshots, and an update-event stream (slipstream/caching.py:67-475,
interfaces.py:72-110). It is simultaneously a sink (``await cache(key,
val)``) and a CDC source (``async for k, v in cache``).

Spark-first redesign (not a port): state is a **versioned parquet
table** — each mutation batch produces a new immutable version plus an
append-only changelog. This keeps every capability queryable *with
DataFrames at any scale*:

- C1 CRUD            -> ``upsert``/``delete`` batch merges; ``get`` etc.
                        driver conveniences over ``filter(key == k)``
- C3 ordered scans   -> ``items(backwards=..., from_key=...)`` =
                        ``orderBy`` + range predicate (sort pushed to scan)
- C4 prefix scan     -> ``scan(prefix=...)`` = ``startswith`` predicate
                        (rewritten to the sargable range [p, succ(p)),
                        succ = true code-point prefix successor)
- C5 wide columns    -> MAP<STRING,STRING> ``attrs`` column
- C6 delete_range    -> tombstone merge
- C8 snapshot        -> read any retained version (time travel)
- C10 update events  -> ``changelog()`` DataFrame / ``changelog_stream()``
                        (file-source streaming over the changelog dir)
- S7 cache-as-sink   -> ``__call__(key, value)`` and
                        ``foreach_batch_upsert`` for streaming queries

Per-key transactional RMW (C7/T8's striped locks) is unnecessary: batch
merges are atomic per version swap, and streaming state updates are
per-key serialized inside Spark's stateful operators.

Scale — the LSM shape, not the rewrite shape: state is HASH-BUCKETED
(``pmod(md5-hash(key), n_buckets)``) and a commit appends a **per-bucket
DELTA** (the batch's own rows, puts or tombstones) — write cost is
O(|batch|) REGARDLESS of state size or how many buckets the batch
touches. Each version carries a MANIFEST mapping bucket -> its ordered
chain of delta files (the Iceberg/Delta snapshot pattern, poor-man's);
reads merge a bucket's chain newest-wins. When a bucket's chain would
exceed ``max_chain`` the commit COMPACTS that bucket (rewrites it
merged, chain resets to one file) — amortized write amplification is
bounded at ~|bucket|/max_chain per commit, exactly RocksDB's
memtable->L0->compaction economics (the reference's FIFO-bounded ingest,
caching.py:109-133) re-expressed as immutable parquet versions. This is
what keeps a streaming upsert sink's commit cost proportional to the
micro-batch, not to the standing state (the r8-measured reason the
bloom-dedup flow was stuck at ~1k rows/s: with 16 buckets and uniform
keys every realistic batch touched all buckets, so "rewrite touched
buckets" degenerated to "rewrite everything"). Swap the storage layer
for Delta/Iceberg MERGE when its jars are available — the API here is
storage-agnostic.

One commit path, like the reference's single RocksDB write path: every
mutation (``upsert``, ``delete_where``, ``replace_all`` and so
``rebucket``, and the multi-table :func:`upsert_group`) is written by
:func:`_commit` — one Spark write job for any number of tables — and
every version (those plus ``compact``) is assembled and published by
:meth:`StateTable._commit_delta`, the only code that writes a manifest
or compacts a bucket. Every streaming sink commits through one epoch
fence, :class:`_EpochFence`. The one on-disk layout: ``versions/v{n}/``
holding ``_bucket=N`` delta files, a staged ``_changelog`` and a
``manifest.json`` of ``{n_buckets, partition_sep, chains, fences}``;
``changelog/v{n}/`` segments. Any other layout raises
``RuntimeError("unsupported StateTable layout ...")``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import warnings
from collections.abc import Iterator, MutableMapping
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from time import monotonic
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCHEMA = "key string, value string, attrs map<string,string>"
# on-disk file schema: op marks puts vs delete tombstones inside delta
# files; compacted files contain only live rows (op='put').
_FILE_SCHEMA = _SCHEMA + ", op string"
_LOG_SCHEMA = (
    "key string, value string, attrs map<string,string>, "
    "op string, version long, ts timestamp"
)


# Codec marker: put() tags its rows so get()/items() know the value is
# JSON-encoded. DataFrame upsert() rows carry no tag and round-trip
# VERBATIM — decoding is driven by provenance, never by sniffing the
# content (a raw string that happens to look like JSON, e.g. "42",
# must come back as the string "42"). One explicit codec boundary,
# like the reference's Cache (slipstream/caching.py:150-159).
_CODEC_KEY = "__codec"
_CODEC_JSON = "json"


def _prefix_successor(prefix: str) -> str | None:
    """Smallest string strictly greater than EVERY string having this
    prefix (code-point order, which is also UTF-8 byte order): strip
    trailing U+10FFFF code points, then increment the last remaining
    one. Returns None when the prefix is all U+10FFFF — no finite
    upper bound exists and ``key >= prefix`` alone is already exact.
    (The naive ``prefix + '\\uffff'`` bound wrongly excludes keys whose
    suffix starts at or above U+FFFF.)

    The increment skips the UTF-16 surrogate gap: a prefix ending at
    U+D7FF would otherwise produce a lone-surrogate bound (U+D800)
    that cannot cross py4j's UTF-8 boundary — scan would raise instead
    of scanning. U+E000 is an equally exact bound because valid
    (UTF-8-representable) keys contain no code point in the gap."""
    s = prefix.rstrip("\U0010ffff")
    if not s:
        return None
    nxt = ord(s[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:
        nxt = 0xE000
    return s[:-1] + chr(nxt)


def _encode(value: Any) -> str:
    return json.dumps(value, default=str, sort_keys=True)


def _decode(s: str | None, attrs) -> Any:
    if s is None:
        return None
    if attrs is not None and attrs.get(_CODEC_KEY) == _CODEC_JSON:
        try:
            return json.loads(s)
        except (json.JSONDecodeError, ValueError):
            return s  # tagged but corrupt: surface the raw payload
    return s


class StateTable:
    """Versioned parquet-backed keyed state (see module docstring).

    ``n_buckets`` fixes the key-hash bucketing and is persisted in the
    manifest on first commit; reopening an existing table adopts the
    stored value (passing a conflicting explicit value raises — there
    is no online rehash). ``max_chain`` is the per-bucket delta-chain
    length that triggers compaction (policy only, safe to change
    between opens).

    Single-writer per table (the reference's Cache is likewise owned
    by one process): concurrent commits race on the version rename
    and the loser fails LOUDLY (rename onto an existing version dir)
    without corrupting state — readers always see a fully-renamed
    version. Concurrent commits to DIFFERENT tables are fine and the
    shipped sinks overlap them deliberately.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        max_chain: int = 8,
        partition_sep: str | None = None,
        append_only: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.max_chain = max_chain
        #: Caller contract (a read-path POLICY, not persisted): every
        #: committed key is unique across the table's lifetime and
        #: deletes never happen (delete_where raises; full rebuilds go
        #: through :meth:`replace_all`, which leaves no tombstones). In
        #: exchange, chained-bucket reads skip the newest-wins max_by
        #: merge entirely — a delta chain of unique-key puts IS the
        #: live set, so reads are pure columnar scans. This is the
        #: difference between O(scan) and O(shuffle) per probe for
        #: append-only index tables (e.g. NearDupPrefixIndex postings).
        self.append_only = append_only
        #: Cassandra-style partition-key/clustering-key split: when set,
        #: rows hash-bucket on the key's FIRST ``partition_sep``-separated
        #: segment instead of the whole key, so all keys sharing a
        #: partition value co-locate in one bucket and
        #: :meth:`read_buckets` can prune a read to the partitions a
        #: query actually touches (the persistent-index probe pattern).
        #: Persisted in the manifest like ``n_buckets`` (the bucket
        #: function is frozen at first commit; no online rehash).
        self.partition_sep = partition_sep
        #: rows written by the most recent commit's delta (per-commit
        #: telemetry, read from parquet footers — no Spark job). The
        #: rows-ingested counter every storage engine reports.
        self.last_commit_rows: int = 0
        vdir = os.path.join(path, "versions")
        log_dir = os.path.join(path, "changelog")
        os.makedirs(vdir, exist_ok=True)
        os.makedirs(log_dir, exist_ok=True)
        # layout guard: a v{n} dir without a manifest (pre-manifest
        # layout or a torn copy) or flat changelog files (pre-segment
        # layout) — reading either as "empty" would silently shadow
        # existing state or events. Fail loudly instead.
        stray = [
            d for d in os.listdir(vdir)
            if re.fullmatch(r"v\d+", d)
            and not os.path.exists(os.path.join(vdir, d, "manifest.json"))
        ] + [f for f in os.listdir(log_dir) if f.endswith(".parquet")]
        if stray:
            raise RuntimeError(
                f"unsupported StateTable layout at {path}: {stray[0]} is "
                "not part of the versioned layout (a version dir with no "
                "manifest.json, or a flat changelog file); rebuild the "
                "table or remove the stray entry"
            )
        latest = self.version
        if latest >= 0:
            raw = self._manifest_doc(latest)
            for name, asked in (
                ("n_buckets", n_buckets), ("partition_sep", partition_sep)
            ):
                if asked is not None and asked != raw.get(name):
                    raise ValueError(
                        f"StateTable at {path} was written with "
                        f"{name}={raw.get(name)!r}; cannot reopen with "
                        f"{name}={asked!r} (the bucket function is frozen "
                        "at first commit; no online rehash)"
                    )
            self.n_buckets = int(raw["n_buckets"])
            self.partition_sep = raw.get("partition_sep")
        else:
            self.n_buckets = 64 if n_buckets is None else n_buckets
        # crash-window recovery: only the newest commit can hold an
        # unpublished changelog segment (publish immediately follows
        # the commit rename inside the same single-writer call), so a
        # previous incarnation that died between the two is healed by
        # re-linking from the committed version dir — the changelog
        # stays exactly-once under epoch fencing, never at-most-once
        self._publish_changelog(latest)

    # -- bucketing ----------------------------------------------------------

    def bucket_expr_for(self, col) -> "F.Column":
        """Bucket id of an arbitrary key (or partition-value) Column —
        md5-derived, engine-version-stable (the house hash discipline),
        unlike F.hash whose murmur3 seed is a Spark implementation
        detail. With ``partition_sep`` set, only the key's first
        segment hashes (a bare partition value — no separator — hashes
        to the same bucket as every full key under it, which is what
        lets a probe compute the buckets it must read)."""
        c = F.col(col) if isinstance(col, str) else col
        if self.partition_sep is not None:
            c = F.substring_index(c, self.partition_sep, 1)
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint"),
            F.lit(self.n_buckets),
        ).cast("int")

    def _bucket_expr(self):
        return self.bucket_expr_for("key")

    def _bucket_of(self, key: str) -> int:
        """Driver-side twin of :meth:`bucket_expr_for` (same md5-prefix
        formula), so point lookups prune to ONE bucket's files instead
        of scanning the whole snapshot."""
        import hashlib

        part = str(key)
        if self.partition_sep is not None:
            part = part.split(self.partition_sep, 1)[0]
        h = hashlib.md5(part.encode("utf-8")).hexdigest()[:8]
        return int(h, 16) % self.n_buckets

    def read_buckets(self, buckets) -> DataFrame:
        """Live rows of JUST the given hash buckets — the pruned read a
        persistent-index probe needs: compute the buckets the query's
        partition values hash to (:meth:`bucket_expr_for`), read only
        those buckets' delta chains, skip the rest of the state
        entirely. Cost is O(touched buckets' data), independent of the
        table's total size."""
        v = self.version
        if v < 0:
            return self.spark.createDataFrame([], _SCHEMA)
        want = sorted({int(b) for b in buckets})
        return self._read(self._manifest(v), want)

    def _key_frame(self, key: str) -> DataFrame:
        """The (at most one-bucket, chain-merged) frame a point op needs."""
        return self._read(self._manifest(self.version), [self._bucket_of(key)])

    # -- version bookkeeping ------------------------------------------------

    def _versions(self) -> list[int]:
        vdir = os.path.join(self.path, "versions")
        out = []
        for d in os.listdir(vdir):
            # only committed versions (manifest is written before the
            # atomic rename; a crashed commit leaves v{n}.tmp behind)
            if re.fullmatch(r"v\d+", d) and os.path.exists(
                os.path.join(vdir, d, "manifest.json")
            ):
                out.append(int(d[1:]))
        return sorted(out)

    @property
    def version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else -1

    def _vpath(self, version: int) -> str:
        return os.path.join(self.path, "versions", f"v{version}")

    def _manifest_doc(self, version: int) -> dict[str, Any]:
        """A version's manifest ``{n_buckets, partition_sep, chains,
        fences}``. Any other shape (the flat bucket->version manifest
        of the r8 layout, or one predating the cumulative fence map)
        raises instead of being read as something it is not."""
        with open(os.path.join(self._vpath(version), "manifest.json")) as fh:
            raw = json.load(fh)
        if not (
            isinstance(raw, dict)
            and isinstance(raw.get("chains"), dict)
            and isinstance(raw.get("fences"), dict)
        ):
            raise RuntimeError(
                f"unsupported StateTable layout at {self.path}: the v"
                f"{version} manifest lacks 'chains' or 'fences' (a layout "
                "no commit writes any more); rebuild the table"
            )
        return raw

    def _manifest(self, version: int) -> dict[int, list[int]]:
        """bucket -> ordered (oldest->newest) chain of version dirs
        holding that bucket's delta files. Buckets absent from the
        manifest are empty."""
        if version < 0:
            return {}
        chains = self._manifest_doc(version)["chains"]
        return {int(b): [int(v) for v in ch] for b, ch in chains.items()}

    def _chain_paths(self, chain: list[int], bucket: int) -> list[str]:
        return [os.path.join(self._vpath(v), f"_bucket={bucket}") for v in chain]

    def _read(self, manifest: dict[int, list[int]], buckets=None) -> DataFrame:
        """Live rows (key, value, attrs) of the requested buckets.

        Single-file buckets (freshly compacted or first write) are by
        construction unique-key all-put and read PLAIN —
        the common fully-compacted state costs no merge shuffle. Only
        buckets with a delta chain pay the newest-wins merge: one
        partial-aggregating ``max_by`` over the chain's files, version
        derived from the file path (each version dir holds at most one
        row per key, so there are no ties). ``append_only`` tables skip
        the merge for chains too — unique keys and no tombstones make
        the chain's union the live set."""
        want = {
            b: ch
            for b, ch in manifest.items()
            if buckets is None or b in set(buckets)
        }
        simple = sorted(
            p
            for b, ch in want.items()
            if self.append_only or len(ch) == 1
            for p in self._chain_paths(ch, b)
        )
        chained = sorted(
            p
            for b, ch in want.items()
            if not self.append_only and len(ch) > 1
            for p in self._chain_paths(ch, b)
        )
        parts = []
        if simple:
            parts.append(self.spark.read.schema(_SCHEMA).parquet(*simple))
        if chained:
            parts.append(self._merge_files(chained))
        if not parts:
            return self.spark.createDataFrame([], _SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _merge_files(self, paths: list[str]) -> DataFrame:
        """Newest-wins merge of delta/base files into live (key, value,
        attrs) rows. The version orders the merge and is derived from
        the FILE PATH (``.../v12/_bucket=3/...`` or an in-flight
        ``.../delta-12.tmp/_bucket=3/...`` during compaction); each
        version holds at most one row per key, so there are no ties.
        One partial-aggregating ``max_by`` — no sort, no window."""
        raw = self.spark.read.schema(_FILE_SCHEMA).parquet(*paths)
        ver = F.regexp_extract(
            F.col("_metadata.file_path"),
            r"/(?:v|delta-)(\d+)(?:\.tmp)?/_bucket=",
            1,
        ).cast("long")
        return (
            raw.withColumn("_v", ver)
            .groupBy("key")
            .agg(
                F.max_by(
                    F.struct("value", "attrs", "op"), F.col("_v")
                ).alias("_r")
            )
            .filter(F.coalesce(F.col("_r.op"), F.lit("put")) == "put")
            .select("key", F.col("_r.value").alias("value"),
                    F.col("_r.attrs").alias("attrs"))
        )

    def footer_rows(self, buckets=None) -> int:
        """Physical row count of the live version's chain files, read
        from parquet footers — driver-side, NO Spark job. Exact live
        rows for ``append_only`` tables (unique keys, no tombstones);
        an upper bound otherwise (shadowed keys and tombstones count
        too). The cheap growth signal maintenance cadences key off
        (e.g. NearDupPrefixIndex's doubling-cadence auto-refresh).
        ``buckets``, if given, restricts the count to those hash
        buckets' chains — the rows a bucket-pruned :meth:`read_buckets`
        of the same set would scan (probe-volume accounting)."""
        want = None if buckets is None else {int(b) for b in buckets}
        return _footer_rows(
            p
            for b, ch in self._manifest(self.version).items()
            if want is None or b in want
            for p in self._chain_paths(ch, b)
        )

    def newest_rows(self) -> list[dict[str, Any]]:
        """``key``/``value``/``attrs`` rows of each bucket's NEWEST chain
        file, read with pyarrow — driver-side, NO Spark job. They are the
        live rows of a table whose every commit rewrites each bucket it
        touches in full (a persistent Bloom gate: see
        ``membership.bitmap_rows``); of any other table they are only
        the last delta."""
        import pyarrow.parquet as pq

        return [
            row
            for b, ch in self._manifest(self.version).items()
            for d in self._chain_paths(ch, b)[-1:]
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
            for row in pq.read_table(
                os.path.join(d, f), columns=["key", "value", "attrs"]
            ).to_pylist()
        ]

    def snapshot(self, version: int | None = None) -> DataFrame:
        """Current state (or any retained version — C8 time travel)."""
        v = self.version if version is None else version
        return self._read(self._manifest(v)) if v >= 0 else (
            self.spark.createDataFrame([], _SCHEMA)
        )

    def df(self) -> DataFrame:
        return self.snapshot()

    # -- mutation (batch merges) -------------------------------------------

    def _publish_changelog(self, version: int) -> None:
        """Link a committed version's staged ``_changelog`` files into
        the public ``changelog/v{n}`` segment. Idempotent (replays and
        recovery re-link only what is missing); a no-op for versions
        without a staged segment (empty commits and the compact()/
        replace_all()/rebucket() maintenance versions)."""
        if version < 0:
            return
        stage = os.path.join(self._vpath(version), "_changelog")
        if not os.path.isdir(stage):
            return
        seg = os.path.join(self.path, "changelog", f"v{version}")
        os.makedirs(seg, exist_ok=True)
        for f in os.listdir(stage):
            d = os.path.join(seg, f)
            if not os.path.exists(d):
                _link_or_copy(os.path.join(stage, f), d)

    def _commit_delta(
        self,
        tmp_delta: str | None,
        fence: tuple[str, int] | None = None,
        replace: bool = False,
        compact: tuple[int, ...] = (),
    ) -> None:
        """Assemble and publish the next version — the one version
        publisher, and the only code that compacts a bucket or writes a
        manifest. ``tmp_delta`` holds ALREADY-WRITTEN per-bucket delta
        files (``tmp_delta/_bucket=N/*.parquet``, written by
        :func:`_commit`); it must live under this table's ``versions/``
        with the ``delta-{v}.tmp`` name so compaction's path-derived
        version ordering sees the new rows as newest. A missing
        ``tmp_delta`` commits an empty delta: the version and its fence
        still advance (an empty micro-batch must still fence its
        epoch).

        - A commit appends each written bucket's delta to its chain. A
          bucket whose chain would exceed ``max_chain`` is compacted in
          the same commit (one merge job over just those buckets —
          amortized O(|bucket|/max_chain)).
        - ``replace`` starts from an empty manifest, so every chain
          points at this version only, and stages no changelog: the
          truncate-and-load of :meth:`replace_all`.
        - ``compact`` names buckets to merge that no delta touches
          (:meth:`compact`).

        ``fence`` — an optional (query, epoch) tag — joins the
        cumulative fence map every manifest carries, so it is recorded
        atomically with the commit point itself."""
        base = {} if replace else self._manifest(self.version)
        new_v = self.version + 1
        vtmp = self._vpath(new_v) + ".tmp"
        written = _delta_buckets(tmp_delta)
        merge = sorted(
            {b for b in written if len(base.get(b, ())) >= self.max_chain}
            | set(compact)
        )
        try:
            os.makedirs(vtmp)
            for b in sorted(written.keys() - set(merge)):
                _link_tree(written[b], os.path.join(vtmp, f"_bucket={b}"))
            kept = self._compact_into(
                {
                    b: self._chain_paths(base.get(b, []), b)
                    + ([written[b]] if b in written else [])
                    for b in merge
                },
                vtmp,
                new_v,
            )
            chains = {
                b: list(ch)
                for b, ch in base.items()
                if b not in written and b not in merge
            }
            for b in sorted(written.keys() | set(merge)):
                if b not in merge:
                    chains[b] = list(base.get(b, [])) + [new_v]
                elif b in kept:  # all-tombstone buckets vanish
                    chains[b] = [new_v]
            # changelog: the committed delta files ARE the log segment —
            # hardlinked (zero-copy, zero-job). The segment is staged
            # INSIDE the version dir (v{n}/_changelog) BEFORE the commit
            # rename, so it is atomic with the commit point: a crash
            # after the rename can at worst leave the segment
            # unpublished under changelog/v{n}, and reopening the table
            # re-links it from the committed version (exactly-once, not
            # at-most-once, even in the rename->publish window). The
            # staged copy keeps the RAW delta even for buckets the same
            # commit compacts — the log must carry the mutations, not
            # the merged bucket contents.
            if written and not replace:
                stage = os.path.join(vtmp, "_changelog")
                os.makedirs(stage)
                for b in sorted(written):
                    for f in os.listdir(written[b]):
                        if f.endswith(".parquet"):
                            _link_or_copy(
                                os.path.join(written[b], f),
                                os.path.join(stage, f"b{b}_{f}"),
                            )
            # cumulative fence map: every manifest carries the max
            # committed epoch per query, so reading fences is O(1)
            # (latest manifest only) and survives vacuum()/compact()
            # dropping the version that originally carried a fence
            fences = self.committed_epochs()
            if fence is not None:
                q, e = fence[0], int(fence[1])
                fences[q] = max(fences.get(q, e), e)
            with open(os.path.join(vtmp, "manifest.json"), "w") as fh:
                json.dump(
                    {
                        "n_buckets": self.n_buckets,
                        "partition_sep": self.partition_sep,
                        "chains": {str(b): ch for b, ch in chains.items()},
                        "fences": fences,
                    },
                    fh,
                )
            os.rename(vtmp, self._vpath(new_v))  # the commit point
            self._publish_changelog(new_v)
        finally:
            shutil.rmtree(vtmp, ignore_errors=True)
        # commit accounting from the parquet footers (zero Spark jobs)
        self.last_commit_rows = _footer_rows(written.values())

    def _compact_into(
        self, paths: dict[int, list[str]], vtmp: str, new_v: int
    ) -> set[int]:
        """Merge each bucket's files newest-wins into ONE file per
        bucket, moved into the version being assembled at ``vtmp``.
        Returns the buckets left with live rows."""
        if not paths:
            return set()
        ctmp = os.path.join(self.path, "versions", f"compact-{new_v}.tmp")
        try:
            (
                self._merge_files([p for b in sorted(paths) for p in paths[b]])
                .withColumn("op", F.lit("put"))
                .withColumn("_bucket", self._bucket_expr())
                .repartition(self.n_buckets, F.col("_bucket"))
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(ctmp)
            )
            kept = set()
            for b in paths:
                src = os.path.join(ctmp, f"_bucket={b}")
                if os.path.isdir(src):
                    os.rename(src, os.path.join(vtmp, f"_bucket={b}"))
                    kept.add(b)
            return kept
        finally:
            shutil.rmtree(ctmp, ignore_errors=True)

    def upsert(
        self, updates: DataFrame, fence: tuple[str, int] | None = None
    ) -> None:
        """Merge a (key, value[, attrs]) batch; one row per key
        (duplicate keys within the batch resolve to an arbitrary single
        row). Keys are normalized to strings (the documented contract),
        so numeric-key frames work. Commit cost is O(|batch|) — a
        per-bucket delta append, never a state rewrite. ``fence``
        tags the commit's manifest with a (query, epoch) pair for
        streaming replay detection (:func:`foreach_batch_upsert`)."""
        _commit([(self, _normalize_put_batch(updates))], fence=fence)

    def delete_where(self, predicate) -> None:
        """Delete all rows where the Column predicate is TRUE
        (generalizes C6). SQL three-valued semantics: rows where the
        predicate evaluates to NULL are NOT deleted. Victims become
        tombstone rows in their buckets' delta chains — kept rows are
        never rewritten, so deletion outcome cannot depend on bucket
        co-location. The changelog row carries the removed value/attrs."""
        if self.append_only:
            raise RuntimeError(
                "append-only StateTable: tombstones would break the "
                "merge-free read contract; rebuild atomically with "
                "replace_all() instead"
            )
        victims = (
            self.snapshot()
            .filter(predicate)
            .select("key", "value", "attrs")
            .withColumn("op", F.lit("delete"))
        )
        _commit([(self, victims)])

    def delete_range(self, begin: str, end: str) -> None:
        """C6: delete keys in [begin, end) (caching.py:383-390)."""
        self.delete_where((F.col("key") >= begin) & (F.col("key") < end))

    # -- driver-convenience point ops (C1) ---------------------------------

    def put(self, key: str, value: Any) -> None:
        self.upsert(
            self.spark.createDataFrame(
                [(str(key), _encode(value), {_CODEC_KEY: _CODEC_JSON})], _SCHEMA
            )
        )

    def get(self, key: str, default: Any = None) -> Any:
        """None/default on miss, never KeyError (interfaces.py:84-90)."""
        rows = (
            self._key_frame(key)
            .filter(F.col("key") == str(key))
            .select("value", "attrs")
            .take(1)
        )
        return _decode(rows[0][0], rows[0][1]) if rows else default

    def __contains__(self, key: str) -> bool:
        return bool(
            self._key_frame(key).filter(F.col("key") == str(key)).take(1)
        )

    def delete(self, key: str) -> None:
        self.delete_where(F.col("key") == str(key))

    def __call__(self, key: str, value: Any) -> None:
        """Cache-as-sink contract (S7, interfaces.py:97-103): calling the
        table persists and emits a changelog event."""
        self.put(key, value)

    # -- wide-column entities (C5) -----------------------------------------

    def put_entity(self, key: str, names: list[str], values: list[Any]) -> None:
        """caching.py:223-247 put_entity analog: key -> named columns."""
        attrs = {n: str(v) for n, v in zip(names, values)}
        df = self.spark.createDataFrame(
            [(str(key), None, attrs)], _SCHEMA
        )
        self.upsert(df)

    def get_entity(self, key: str) -> dict[str, str] | None:
        rows = (
            self._key_frame(key)
            .filter(F.col("key") == str(key))
            .select("attrs")
            .take(1)
        )
        if not rows or rows[0][0] is None:
            return None
        ent = {k: v for k, v in rows[0][0].items() if k != _CODEC_KEY}
        return ent or None

    def columns(self, key: str) -> list[str]:
        ent = self.get_entity(key)
        return sorted(ent) if ent else []

    # -- scans (C3/C4) ------------------------------------------------------

    def scan(
        self,
        prefix: str | None = None,
        from_key: str | None = None,
        backwards: bool = False,
    ) -> DataFrame:
        """Ordered scan as a DataFrame. ``prefix`` is rewritten to a
        sargable key range (parquet min/max skipping applies — the
        engine-level analog of RocksDB's early-terminating prefix
        iterator, caching.py:276-300)."""
        df = self.snapshot()
        if prefix is not None:
            df = df.filter(F.col("key") >= prefix)
            succ = _prefix_successor(prefix)
            if succ is not None:
                df = df.filter(F.col("key") < succ)
        if from_key is not None:
            df = df.filter(
                F.col("key") <= from_key if backwards else F.col("key") >= from_key
            )
        order = F.col("key").desc() if backwards else F.col("key").asc()
        return df.orderBy(order)

    def items(self, **kwargs) -> Iterator[tuple[str, Any]]:
        for r in self.scan(**kwargs).select("key", "value", "attrs").toLocalIterator():
            yield r["key"], _decode(r["value"], r["attrs"])

    def keys(self, **kwargs) -> Iterator[str]:
        for k, _ in self.items(**kwargs):
            yield k

    def values(self, **kwargs) -> Iterator[Any]:
        for _, v in self.items(**kwargs):
            yield v

    # -- CDC (C10/S8) -------------------------------------------------------

    def _log_enrich(self, df: DataFrame) -> DataFrame:
        """Attach version (from the segment path) and ts (the segment
        file's commit mtime) to raw hardlinked log rows."""
        return df.select(
            "key",
            "value",
            "attrs",
            F.coalesce("op", F.lit("put")).alias("op"),
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/changelog/v(\d+)/", 1
            )
            .cast("long")
            .alias("version"),
            F.col("_metadata.file_modification_time")
            .cast("timestamp")
            .alias("ts"),
        )

    def _log_segments(self) -> list[str]:
        """The changelog's segment dirs (``changelog/v{n}``)."""
        log_dir = os.path.join(self.path, "changelog")
        return [
            os.path.join(log_dir, d)
            for d in sorted(os.listdir(log_dir))
            if re.fullmatch(r"v\d+", d)
            and os.path.isdir(os.path.join(log_dir, d))
        ]

    def _changelog_floor(self) -> int:
        """First version whose changelog events are still retained (0
        when no retention sweep has ever run). Written by
        :meth:`changelog_vacuum` BEFORE segments are deleted, so readers
        can always distinguish "log starts here by policy" from "log
        starts here"."""
        marker = os.path.join(self.path, "changelog", "_retention.json")
        try:
            with open(marker) as fh:
                return int(json.load(fh)["truncated_before"])
        except (OSError, ValueError, KeyError):
            return 0

    def changelog(self, since_version: int | None = None) -> DataFrame:
        """All mutation events in version order (the update stream the
        reference publishes via ICache.__aiter__, interfaces.py:105-110).
        Events are the hardlinked commit deltas themselves (zero write
        amplification); version/ts derive from the segment path/mtime.

        ``since_version`` bounds the read to events of version >= it.
        After :meth:`changelog_vacuum` has dropped old segments, asking
        for events below the retention floor RAISES (the events are
        gone — silently returning a partial history would corrupt any
        consumer that replays "from the beginning"), and a floor-less
        call warns loudly that the history it returns is truncated."""
        floor = self._changelog_floor()
        if since_version is not None and since_version < floor:
            raise ValueError(
                f"changelog events below v{floor} were dropped by "
                f"changelog_vacuum (asked for since_version="
                f"{since_version}); replay from a snapshot() instead"
            )
        if since_version is None and floor > 0:
            warnings.warn(
                f"changelog history below v{floor} was dropped by "
                "changelog_vacuum — this read returns the retained tail "
                "only; pass since_version>=floor to acknowledge, or "
                "rebuild full state from snapshot()",
                RuntimeWarning,
                stacklevel=2,
            )
        segs = self._log_segments()
        if since_version is not None:
            segs = [
                p
                for p in segs
                if int(os.path.basename(p)[1:]) >= since_version
            ]
        if not segs:
            return self.spark.createDataFrame([], _LOG_SCHEMA)
        return self._log_enrich(
            self.spark.read.schema(_FILE_SCHEMA).parquet(*segs)
        )

    def changelog_stream(self, max_files_per_trigger: int | None = 1) -> DataFrame:
        """Unbounded changelog (file-source stream): downstream queries
        react to state updates — the CDC-ish pattern of
        cookbook.rst:522-588. New commit segments match the glob as they
        appear. ``max_files_per_trigger=1`` (default) exercises
        per-commit micro-batch cadence; pass ``None`` to let each
        trigger drain everything available (catch-up mode).

        Retention interaction (:meth:`changelog_vacuum`): a NEW reader
        starts from the retained tail (warned loudly below); an
        EXISTING checkpointed reader whose unread backlog reaches below
        the retention floor fails on the missing files — size retention
        above the maximum downstream reader lag (the Delta CDF
        retention contract)."""
        floor = self._changelog_floor()
        if floor > 0:
            warnings.warn(
                f"changelog history below v{floor} was dropped by "
                "changelog_vacuum — a new stream reader sees only the "
                "retained tail; checkpointed readers lagging below the "
                "floor will fail on missing segment files",
                RuntimeWarning,
                stacklevel=2,
            )
        reader = self.spark.readStream.schema(_FILE_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return self._log_enrich(
            reader.parquet(os.path.join(self.path, "changelog", "v[0-9]*"))
        )

    def as_mapping(self) -> "MutableMapping[str, str]":
        """MutableMapping view (raw string values) — e.g. the persistence
        store for streaming.checkpointing.Checkpoint (the reference
        persists checkpoints into its Cache the same way,
        checkpointing.py:69-85)."""
        table = self

        class _View(MutableMapping):
            def __getitem__(self, k: str) -> str:
                rows = (
                    table._key_frame(k)
                    .filter(F.col("key") == k)
                    .select("value")
                    .take(1)
                )
                if not rows:
                    raise KeyError(k)
                return rows[0][0]

            def get(self, k: str, default=None):
                try:
                    return self[k]
                except KeyError:
                    return default

            def __setitem__(self, k: str, v: str) -> None:
                table.upsert(
                    table.spark.createDataFrame([(k, v)], "key string, value string")
                )

            def __delitem__(self, k: str) -> None:
                table.delete(k)

            def __iter__(self):
                return table.keys()

            def __len__(self) -> int:
                return table.snapshot().count()

        return _View()

    # -- maintenance (C9's compact/destroy, engine-managed) -----------------

    def compact(self) -> None:
        """Force-merge every chained bucket (delta chains -> one file
        per bucket). The background-compaction analog of C9; routine
        compaction happens incrementally inside commits when a chain
        hits ``max_chain``. Compaction re-arranges storage; it is not a
        mutation, so it emits no changelog rows."""
        chained = [
            b for b, ch in self._manifest(self.version).items() if len(ch) > 1
        ]
        if chained:
            self._commit_delta(None, compact=tuple(chained))

    def rebucket(self, n_buckets: int) -> None:
        """Rewrite the CURRENT state under a new bucket count: a
        :meth:`replace_all` of the snapshot (the explicit resize
        maintenance op — sized like a RocksDB manual compaction, run
        when state volume has outgrown the bucket granularity chosen at
        creation). Earlier versions keep their manifests and stay
        time-travel readable (snapshot(v) reads whole manifests, so the
        bucket function changing across versions is invisible to it);
        point-lookup pruning and new commits use the new bucketing
        immediately."""
        if n_buckets == self.n_buckets:
            return
        live = self.snapshot()
        old_n, self.n_buckets = self.n_buckets, n_buckets
        try:
            self.replace_all(live)
        except BaseException:
            self.n_buckets = old_n
            raise

    def replace_all(self, updates: DataFrame) -> None:
        """Atomic truncate-and-load: one commit whose manifest points
        EVERY bucket chain at the new version only — the previous
        contents vanish from the live view without a single tombstone
        (old versions stay time-travel readable until vacuum()). The
        index-rebuild maintenance op: an append-only table cannot
        delete, and a delete_where(True) + re-upsert pair would leave
        an O(state) tombstone chain AND a window where readers see an
        empty table. Not a mutation stream for CDC purposes — like
        compact()/rebucket() it emits NO changelog rows (consumers of
        a rebuilt table re-baseline from snapshot()); epoch fences are
        carried forward."""
        _commit([(self, _normalize_put_batch(updates))], replace=True)

    def committed_epochs(self) -> dict[str, int]:
        """Highest committed epoch per fence query (driver-side, no
        Spark job). The fence record lives IN the manifest, so it is
        atomic with the commit point — a crash between "commit" and
        "record fence" is impossible by construction. Every commit
        carries the CUMULATIVE map forward ("fences"), so the latest
        manifest alone answers in O(1) and the answer survives
        vacuum()/compact() dropping the version that originally
        carried a fence."""
        latest = self.version
        if latest < 0:
            return {}
        fences = self._manifest_doc(latest)["fences"]
        return {q: int(e) for q, e in fences.items()}

    def expire(
        self, ttl_attr: str, cutoff: str, compact: bool = True
    ) -> None:
        """Row-TTL retention — the reference Cache's FIFO-bounded state
        window (slipstream/caching.py:85,109-133; the 25 MB
        ``target_table_size`` of docs/source/features.rst:64-66)
        re-expressed as an explicit policy over the versioned layout:
        tombstone every row whose ``attrs[ttl_attr]`` sorts strictly
        below ``cutoff``, then compact the now-chained buckets so the
        expired rows are physically dropped from the live version.
        Rows WITHOUT the attribute (NULL predicate) are retained —
        ``delete_where``'s documented three-valued semantics, so mixed
        tables with un-stamped rows never lose them to a sweep.

        Run periodically (e.g. from a streaming sink every N epochs)
        to hold live-row count bounded under continuous ingest; pair
        with :meth:`vacuum` to bound on-disk versions too."""
        self.delete_where(F.col("attrs").getItem(ttl_attr) < F.lit(cutoff))
        if compact:
            self.compact()

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop version directories not referenced by any of the last
        ``keep_last`` manifests. A directory stays live as long as ANY
        retained manifest still points a bucket chain at it (delta
        sharing across versions is the whole point of the layout)."""
        retained = self._versions()[-keep_last:]
        live = set(retained)
        for v in retained:
            for chain in self._manifest(v).values():
                live.update(chain)
        for v in self._versions():
            if v not in live:
                shutil.rmtree(self._vpath(v), ignore_errors=True)

    def changelog_vacuum(self, keep_segments: int) -> None:
        """Bound the CDC log under continuous ingest: drop all but the
        newest ``keep_segments`` changelog segment dirs — the last
        unbounded artifact once :meth:`expire` bounds live rows and
        :meth:`vacuum` bounds version dirs (the reference's FIFO cache
        bounds everything a consumer can replay the same way,
        caching.py:109-133; the Delta CDF-retention analog).

        The retention floor is recorded in ``changelog/_retention.json``
        BEFORE any segment is deleted, so readers always fail or warn
        loudly instead of silently replaying a truncated history (see
        :meth:`changelog` / :meth:`changelog_stream`). Size retention
        above the maximum downstream reader lag."""
        if keep_segments < 0:
            raise ValueError("keep_segments must be >= 0")
        segs = self._log_segments()
        segs.sort(key=lambda p: int(os.path.basename(p)[1:]))
        # max(0, ...): retention above the current log length keeps
        # EVERYTHING — a negative slice bound would silently drop the
        # oldest segments instead (len=6, keep=7 -> segs[:-1] drops 5),
        # the exact 'periodic vacuum with generous retention' pattern.
        drop = segs[: max(0, len(segs) - keep_segments)] if keep_segments else segs
        if not drop:
            return
        floor = max(
            self._changelog_floor(),
            int(os.path.basename(drop[-1])[1:]) + 1,
        )
        marker = os.path.join(self.path, "changelog", "_retention.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"truncated_before": floor}, fh)
        os.rename(tmp, marker)
        for p in drop:
            shutil.rmtree(p, ignore_errors=True)

    def destroy(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _normalize_put_batch(updates: DataFrame) -> DataFrame:
    """The upsert input contract as a frame: key cast to string,
    value/attrs defaulted, op='put'. Keys are NOT made unique here: the
    commit write drops duplicates after its bucket repartition, where
    the bucket shuffle already clusters equal keys (a dedup here would
    plan a second shuffle on ``key`` alone)."""
    for c, t in (("value", "string"), ("attrs", "map<string,string>")):
        if c not in updates.columns:
            updates = updates.withColumn(c, F.lit(None).cast(t))
    return updates.select(
        F.col("key").cast("string").alias("key"), "value", "attrs"
    ).withColumn("op", F.lit("put"))


def _footer_rows(dirs) -> int:
    """Rows of the parquet files directly under ``dirs``, read from
    their footers — driver-side, no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d in dirs
        if os.path.isdir(d)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _link_or_copy(src: str, dst: str) -> None:
    """Hardlink a file (zero-copy on one filesystem); byte copy across
    devices."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _link_tree(src: str, dst: str) -> None:
    """Populate a new ``dst`` with hardlinks to every file under
    ``src``, nested directories included."""
    shutil.copytree(src, dst, copy_function=_link_or_copy)


def _adopt_dir(src: str, dst: str) -> None:
    """Move a written delta tree into a table's versions/ — rename when
    same-filesystem, hardlink-or-copy fallback otherwise."""
    try:
        os.rename(src, dst)
    except OSError:
        _link_tree(src, dst)


def _delta_buckets(tmp_delta: str | None) -> dict[int, str]:
    """bucket -> its dir, for each bucket a written delta holds."""
    if tmp_delta is None or not os.path.isdir(tmp_delta):
        return {}
    out = {}
    for d in os.listdir(tmp_delta):
        if d.startswith("_bucket="):
            m = re.fullmatch(r"_bucket=(\d+)", d)
            if not m:
                # NULL keys hash to a NULL bucket and land in the
                # default partition dir — invisible to the manifest, so
                # they are a contract violation
                raise ValueError(
                    "StateTable keys must be non-NULL strings; "
                    f"the batch wrote bucket partition {d!r}"
                )
            out[int(m.group(1))] = os.path.join(tmp_delta, d)
    return out


def _grouped(writes: list[tuple[StateTable, DataFrame]]) -> DataFrame:
    """The union :func:`_commit` writes: every batch (file schema —
    key, value, attrs, op) tagged with its table's bucket and its group
    ordinal, one task per (group, bucket), one row per key within a
    group — behind ONE shuffle."""
    tagged = [
        df.withColumn("_bucket", t._bucket_expr()).withColumn("_grp", F.lit(i))
        for i, (t, df) in enumerate(writes)
    ]
    union = tagged[0]
    for part in tagged[1:]:
        union = union.unionByName(part)
    # group each (table, bucket) into one task -> ONE file per bucket
    # per version (otherwise every input partition writes a sliver into
    # every bucket dir: tasks x buckets files). An explicit partition
    # count is exempt from AQE coalescing, so without it every commit
    # schedules spark.sql.shuffle.partitions reduce tasks — mostly
    # empty for small batches; bounding it to the buckets written keeps
    # per-commit latency proportional to them (the streaming-sink hot
    # path). The key dedup reuses the repartition's clustering: the
    # bucket is a function of the key. A lone table's ordinal is a
    # constant the optimizer folds out of the dedup keys, so it must
    # not key the shuffle (the dedup would plan a second exchange).
    keys = ["_grp", "_bucket"] if len(writes) > 1 else ["_bucket"]
    total_buckets = sum(t.n_buckets for t, _ in writes)
    return union.repartition(total_buckets, *keys).dropDuplicates(
        [*keys, "key"]
    )


def _commit(
    writes: list[tuple[StateTable, DataFrame]],
    fence: tuple[str, int] | None = None,
    replace: bool = False,
) -> None:
    """The one writer: commit N mutation batches (file schema) into N
    DIFFERENT StateTables with ONE Spark write job. The union
    (:func:`_grouped`) is written once via ``partitionBy("_grp",
    "_bucket")``; each ``_grp=i`` subtree is adopted (renamed) into
    table i's ``versions/delta-{v}.tmp`` and published by that table's
    :meth:`StateTable._commit_delta` (``replace`` selects
    :meth:`StateTable.replace_all`'s truncate-and-load). That single
    materialization is the source of truth for the manifest, the
    changelog and any compaction, so a non-deterministic input
    (sample()/rand()/an uncached stream frame) cannot diverge between
    planning and data. A table whose batch wrote no rows still commits
    (its fence must advance on an empty micro-batch)."""
    if not writes:
        return
    # the shared write stages under the FIRST table's versions/; names
    # that do not match v\d+ are invisible to _versions(), so a torn
    # commit never surfaces as state
    gtmp = os.path.join(
        writes[0][0].path, "versions", f"group-{os.getpid()}.tmp"
    )
    try:
        (
            _grouped(writes)
            .write.mode("overwrite")
            .partitionBy("_grp", "_bucket")
            .parquet(gtmp)
        )
        for i, (t, _) in enumerate(writes):
            src = os.path.join(gtmp, f"_grp={i}")
            dst = os.path.join(
                t.path, "versions", f"delta-{t.version + 1}.tmp"
            )
            # a killed commit's leftover delta must not join this one
            shutil.rmtree(dst, ignore_errors=True)
            try:
                if os.path.isdir(src):
                    _adopt_dir(src, dst)
                t._commit_delta(dst, fence=fence, replace=replace)
            finally:
                shutil.rmtree(dst, ignore_errors=True)
    finally:
        shutil.rmtree(gtmp, ignore_errors=True)


def upsert_group(
    writes: list[tuple[StateTable, DataFrame]],
    fence: tuple[str, int] | None = None,
) -> None:
    """Upsert N batches into N DIFFERENT StateTables with ONE Spark job
    — the public face of the only writer, :func:`_commit`, which every
    mutation goes through (:meth:`StateTable.upsert` is a group of
    one). A sink that maintains several tables per epoch (e.g. the
    persistent near-dup index: postings + verification sets, both pure
    O(|batch|) appends under the same epoch) otherwise pays one write
    job's scheduling latency PER table; per-trigger fixed cost is
    dominated by the number of serial driver actions, so folding the
    writes is the direct lever (r11 VERDICT #2).

    Each batch is normalized exactly like :meth:`StateTable.upsert` and
    tagged with its table's OWN bucket expression (tables may differ in
    n_buckets and partition_sep); manifest, changelog staging, fence
    and compaction are each table's normal version assembly
    (:meth:`StateTable._commit_delta`).

    Atomicity is PER TABLE, exactly like concurrent single-table
    upserts: a crash between two adoptions leaves earlier tables
    committed and later ones not — the per-table epoch fences already
    make that partial landing replay-correct, so the group needs no
    cross-table commit point."""
    _commit([(t, _normalize_put_batch(df)) for t, df in writes], fence=fence)


class _EpochFence:
    """The one epoch fence every streaming sink commits through —
    exactly-once for the STATE and the CHANGELOG of each of a sink's
    tables (``tables``: name -> StateTable). Every commit records its
    (query, epoch_id) in the version manifest (atomic with the commit
    point); on the first delivery each table's last committed epoch is
    recovered from its manifest (:meth:`StateTable.committed_epochs`),
    so a replayed epoch (foreachBatch re-delivers the in-flight epoch
    after a crash) re-runs exactly the commits that did not land, even
    when a crash fell between two of an epoch's commits (partial
    replay), and a fully landed epoch is skipped.

    Fence contract (Delta-style): epoch ids must only move forward for
    a given ``query`` name. Restarting the streaming query from a NEW
    checkpoint directory resets epoch ids to 0 — pair the new
    checkpoint with a new ``query`` name (or fresh table paths), or
    every delivery is skipped until epochs pass the old fence."""

    def __init__(self, query: str, tables: dict[str, StateTable]):
        self.query = query
        self.tables = tables
        self.last: dict[str, int] | None = None

    def pending(self, epoch: int) -> set[str]:
        """Names of the tables whose commit of ``epoch`` has not landed
        — empty for a fully committed epoch, which the sink skips.
        Replay re-delivers AT MOST the in-flight epoch, so an epoch
        STRICTLY below every fence cannot be a replay: it means the
        query restarted from a new checkpoint (see the class
        docstring), and it warns loudly — data loss, not dedup."""
        if self.last is None:
            self.last = {
                n: t.committed_epochs().get(self.query, -1)
                for n, t in self.tables.items()
            }
        lo = min(self.last.values())
        if epoch < lo:
            warnings.warn(
                f"epoch {epoch} for fence query {self.query!r} is below "
                f"the committed fence {lo}: this looks like a "
                "streaming-checkpoint reset (replay re-delivers at most "
                "the in-flight epoch, never less). Deliveries will be "
                "SKIPPED until epoch ids exceed the fence — restart from "
                "a new checkpoint requires a new fence query name or a "
                "fresh state table path.",
                RuntimeWarning,
                stacklevel=3,
            )
        return {n for n, e in self.last.items() if epoch > e}

    def _land(
        self,
        epoch: int,
        group: dict[str, DataFrame],
        timing: dict[str, float] | None = None,
        label: str | None = None,
    ) -> None:
        """One commit of the tables of ``group`` (name -> rows) still
        due for ``epoch``; advances their fences once it lands."""
        due = [(n, rows) for n, rows in group.items() if epoch > self.last[n]]
        if not due:
            return
        t0 = monotonic()
        fence = (self.query, epoch)
        # both calls are the one writer; a lone table goes through its
        # own upsert, the per-table entry point commit tracing wraps
        if len(due) == 1:
            self.tables[due[0][0]].upsert(due[0][1], fence)
        else:
            upsert_group([(self.tables[n], rows) for n, rows in due], fence)
        # concurrent landings write distinct keys: the groups of one
        # epoch name distinct tables
        if timing is not None:
            timing[label] = round(monotonic() - t0, 3)
        for n, _ in due:
            self.last[n] = epoch

    @contextmanager
    def overlap(
        self,
        epoch: int,
        *groups: dict[str, DataFrame],
        timing: dict[str, float] | None = None,
        labels: tuple[str, ...] = (),
    ):
        """Commit each group (name -> rows; a group is one commit, so
        one write job) on a worker thread while the with-body runs —
        the groups and the body concurrently, so the epoch pays max,
        not sum, of their latencies. Leaving the body waits for every
        commit. ``timing``, if given, records each group's wall seconds
        under its ``labels`` entry. Call :meth:`pending` first."""
        with ThreadPoolExecutor(max_workers=max(1, len(groups))) as ex:
            futs = [
                ex.submit(self._land, epoch, g, timing, label)
                for g, label in zip(groups, labels or [None] * len(groups))
            ]
            yield
            for f in futs:
                f.result()

    def commit(self, epoch: int, *groups: dict[str, DataFrame]) -> None:
        """Land the groups concurrently: the first on the calling
        thread, the rest as in :meth:`overlap`."""
        with self.overlap(epoch, *groups[1:]):
            self._land(epoch, groups[0])


def foreach_batch_upsert(table: StateTable, query: str = "default"):
    """Streaming sink: upsert each micro-batch into the state table.

    Exactly-once — for the STATE and the CHANGELOG — via the epoch
    fence every sink shares (:class:`_EpochFence`): a replayed epoch
    NO-OPS instead of committing a duplicate version. Without the
    fence, state still converges (newest-wins merge of identical rows)
    but the changelog would gain duplicate mutation events for CDC
    consumers (S8, interfaces.py:105-110). ``query`` namespaces the
    fence when several streaming queries share one table; a new
    streaming checkpoint needs a new ``query`` name, and a delivery
    strictly below the recovered fence warns loudly since replay can
    never produce it.
    """
    fence = _EpochFence(query, {"table": table})

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        if fence.pending(e):
            fence.commit(e, {"table": batch_df})

    return sink
