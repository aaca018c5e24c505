"""StateTable (Cache analog) tests — the reference's Cache contract
(SURVEY §2.8 C1-C10) against the versioned parquet implementation,
mirroring its real-RocksDB test style (tests/test_cache.py in the
reference: CRUD, prefix families user:/order:, ordered scans)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from slipstream_async_spark.streaming.state import (
    StateTable,
    _grouped,
    _normalize_put_batch,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = StateTable(spark, str(tmp_path / "state"))
    yield t
    t.destroy()


def test_crud_miss_returns_none(table):
    # interfaces.py:84-90: miss -> None/default, never an error.
    assert table.get("nope") is None
    assert table.get("nope", 0) == 0
    table.put("k", {"a": 1})
    assert table.get("k") == {"a": 1}
    assert "k" in table
    table.put("k", [1, 2, 3])          # overwrite
    assert table.get("k") == [1, 2, 3]
    table.delete("k")
    assert table.get("k") is None


def test_ordered_and_prefix_scans(table):
    # reference tests/test_cache.py prefix families.
    for i in (1, 2, 3):
        table.put(f"user:{i}", i)
        table.put(f"order:{i}", i * 10)
    keys = list(table.keys())
    assert keys == sorted(keys)
    assert list(table.keys(prefix="user:")) == ["user:1", "user:2", "user:3"]
    assert list(table.keys(prefix="user:", backwards=True)) == [
        "user:3", "user:2", "user:1",
    ]
    # from_key backwards scan — the temporal-join lookup shape
    # (caching.py:302-317): latest key at-or-before from_key.
    assert next(table.keys(prefix="user:", from_key="user:2", backwards=True)) == "user:2"


def test_delete_range(table):
    for i in range(5):
        table.put(f"k{i}", i)
    table.delete_range("k1", "k3")     # [begin, end)
    assert list(table.keys()) == ["k0", "k3", "k4"]


def test_entities_wide_columns(table):
    # caching.py:223-247 put_entity/get_entity/columns.
    table.put_entity("user:1", ["name", "age"], ["alice", 30])
    assert table.get_entity("user:1") == {"name": "alice", "age": "30"}
    assert table.columns("user:1") == ["age", "name"]
    assert table.get_entity("user:2") is None


def test_versioning_and_changelog(table):
    table.put("a", 1)
    v1 = table.version
    table.put("a", 2)
    # C8 snapshot/time travel: old version still readable.
    old = {r["key"]: r["value"] for r in table.snapshot(v1).collect()}
    assert old["a"] == "1"
    assert table.get("a") == 2
    # C10 update events: one changelog row per mutation, in order.
    log = table.changelog().orderBy("version").collect()
    assert [r["op"] for r in log] == ["put", "put"]
    assert [r["value"] for r in log] == ["1", "2"]


def test_callable_sink_contract(table):
    # S7: calling the table persists + publishes (interfaces.py:97-103).
    table("k", "v")
    assert table.get("k") == "v"
    assert table.changelog().count() == 1


def test_batch_upsert_and_mapping_view(spark, table):
    df = spark.createDataFrame(
        [("x", "1"), ("y", "2")], "key string, value string"
    )
    table.upsert(df)
    assert table.snapshot().count() == 2
    m = table.as_mapping()
    m["z"] = "3"
    assert m["z"] == "3"
    assert m.get("missing") is None
    assert len(m) == 3


def test_changelog_stream(spark, table):
    """S8/C10: downstream streaming query over state updates."""
    table.put("a", 1)
    table.put("b", 2)
    q = (
        table.changelog_stream()
        .writeStream.format("memory").queryName("cdc_out")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    got = sorted(
        (r["key"], r["value"]) for r in spark.sql("SELECT * FROM cdc_out").collect()
    )
    q.stop()
    assert got == [("a", "1"), ("b", "2")]


def test_codec_provenance_not_content_sniffing(spark, tmp_path):
    """put() values round-trip through JSON typed; upsert() raw strings
    come back VERBATIM even when they look like JSON — decoding follows
    write provenance (the codec marker), never value content."""
    from slipstream_async_spark.streaming.state import StateTable

    t = StateTable(spark, str(tmp_path / "codec"))
    t.put("a", 42)
    t.put("b", {"x": 1})
    t.upsert(
        spark.createDataFrame(
            [("c", "42"), ("d", "true"), ("e", "[1,2]"), ("f", "plain")],
            "key string, value string",
        )
    )
    assert t.get("a") == 42 and t.get("b") == {"x": 1}
    assert t.get("c") == "42"  # raw string, NOT int
    assert t.get("d") == "true"  # raw string, NOT bool
    assert t.get("e") == "[1,2]"  # raw string, NOT list
    assert t.get("f") == "plain"
    got = dict(t.items())
    assert got == {"a": 42, "b": {"x": 1}, "c": "42", "d": "true",
                   "e": "[1,2]", "f": "plain"}
    # the codec marker is internal: entity view doesn't leak it
    assert t.get_entity("a") is None


# -- r9: LSM delta-chain commit contract ------------------------------------


def _version_rows(spark, table, version):
    """Rows physically written INTO one version directory (deltas +
    compactions), not the logical snapshot."""
    import glob

    files = glob.glob(f"{table._vpath(version)}/_bucket=*/*.parquet")
    if not files:
        return 0
    return spark.read.parquet(*files).count()


def _version_bytes(table, version):
    import glob

    return sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(f"{table._vpath(version)}/_bucket=*/*.parquet")
    )


def test_commit_cost_scales_with_batch_not_state(spark, tmp_path):
    """THE scale contract (reference: RocksDB's O(|write|) memtable
    ingest, caching.py:109-133): committing a small batch into a large
    standing state writes O(|batch|) rows/bytes, regardless of how many
    buckets the batch touches."""
    t = StateTable(spark, str(tmp_path / "prop"), n_buckets=8, max_chain=100)
    big = spark.range(100_000).selectExpr(
        "cast(id as string) as key",
        "concat(uuid(), uuid()) as value",  # incompressible payload
    )
    t.upsert(big)
    v_big = t.version
    small = spark.range(200).selectExpr(
        "concat('new', id) as key", "concat(uuid(), uuid()) as value"
    )
    t.upsert(small)
    v_small = t.version
    assert _version_rows(spark, t, v_big) == 100_000
    # the small commit wrote EXACTLY the batch rows — no state rewrite
    assert _version_rows(spark, t, v_small) == 200
    assert _version_bytes(t, v_small) < _version_bytes(t, v_big) / 10
    # and the logical snapshot is the union
    assert t.snapshot().count() == 100_200
    t.destroy()


def test_chain_merge_newest_wins_and_compaction(spark, tmp_path):
    """Delta chains merge newest-wins at read; when a bucket's chain
    hits max_chain the commit compacts it back to one file."""
    t = StateTable(spark, str(tmp_path / "chain"), n_buckets=2, max_chain=3)
    for i in range(7):  # same keys every time -> chains grow then compact
        t.upsert(
            spark.range(50).selectExpr(
                "cast(id as string) as key",
                f"cast({i} as string) as value",
            )
        )
    assert t.snapshot().count() == 50
    got = {r["key"]: r["value"] for r in t.snapshot().collect()}
    assert got["7"] == "6"  # last write wins across the whole chain
    # every bucket chain is bounded by max_chain
    chains = t._manifest(t.version)
    assert chains and all(len(ch) <= 3 for ch in chains.values())
    # time travel still exact
    v0_rows = {r["key"]: r["value"] for r in t.snapshot(0).collect()}
    assert v0_rows["7"] == "0"
    # explicit compact() folds every chain to length 1, snapshot unchanged
    t.compact()
    assert all(len(ch) == 1 for ch in t._manifest(t.version).values())
    got2 = {r["key"]: r["value"] for r in t.snapshot().collect()}
    assert got2 == got
    t.destroy()


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL three-valued delete semantics: rows where the predicate is
    NULL are never deleted — regardless of which bucket they share with
    a true victim (tombstones touch only victims; kept rows are never
    rewritten)."""
    t = StateTable(spark, str(tmp_path / "nulls"), n_buckets=1)  # co-locate all
    t.put_entity("ent", ["a"], ["1"])  # value NULL -> predicate NULL
    t.upsert(
        spark.createDataFrame(
            [("victim", "doomed"), ("keeper", "safe")],
            "key string, value string",
        )
    )
    t.delete_where(F.col("value") == "doomed")
    keys = set(t.keys())
    assert keys == {"ent", "keeper"}
    assert t.get_entity("ent") == {"a": "1"}
    # the delete changelog row carries the removed value
    dels = t.changelog().filter("op = 'delete'").collect()
    assert [(r["key"], r["value"]) for r in dels] == [("victim", "doomed")]
    t.destroy()


def test_numeric_keys_normalized_to_string(spark, tmp_path):
    """upsert casts keys to string (the documented contract) instead of
    failing analysis on bigint keys."""
    t = StateTable(spark, str(tmp_path / "numkeys"))
    t.upsert(spark.range(5).selectExpr("id as key", "cast(id*2 as string) as value"))
    assert t.get("3") == "6"
    assert t.snapshot().schema["key"].dataType.simpleString() == "string"
    t.destroy()


def test_null_keys_rejected(spark, tmp_path):
    t = StateTable(spark, str(tmp_path / "nullkey"))
    bad = spark.createDataFrame(
        [(None, "v"), ("k", "v")], "key string, value string"
    )
    with pytest.raises(ValueError, match="NULL"):
        t.upsert(bad)
    # nothing was committed
    assert t.version == -1
    t.destroy()


@pytest.mark.parametrize(
    "layout",
    ["no_manifest", "flat_manifest", "manifest_without_fences",
     "flat_changelog_file"],
)
def test_legacy_layout_detected(spark, tmp_path, layout):
    """Layouts no commit writes any more must fail loudly, not read as
    empty (or silently partial) state: a v{n} dir without manifest.json
    (pre-manifest), the flat bucket->version manifest (r8), a manifest
    without the cumulative fence map, and flat changelog files
    (pre-segment)."""
    import json
    import os

    p = tmp_path / "legacy"
    os.makedirs(p / "versions" / "v0")
    os.makedirs(p / "changelog")
    manifest = {
        "flat_manifest": {"0": 0, "3": 0},
        "manifest_without_fences": {
            "n_buckets": 4, "partition_sep": None, "chains": {"0": [0]}
        },
    }.get(layout)
    if manifest is not None:
        (p / "versions" / "v0" / "manifest.json").write_text(
            json.dumps(manifest)
        )
    if layout == "flat_changelog_file":
        (p / "versions" / "v0" / "manifest.json").write_text(json.dumps({
            "n_buckets": 4, "partition_sep": None, "chains": {},
            "fences": {},
        }))
        (p / "changelog" / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(RuntimeError, match="unsupported StateTable layout"):
        StateTable(spark, str(p))


def test_n_buckets_persisted_and_mismatch_rejected(spark, tmp_path):
    t = StateTable(spark, str(tmp_path / "nb"), n_buckets=4)
    t.put("k", 1)
    # reopen with default: adopts stored bucketing
    t2 = StateTable(spark, str(tmp_path / "nb"))
    assert t2.n_buckets == 4
    assert t2.get("k") == 1
    with pytest.raises(ValueError, match="n_buckets"):
        StateTable(spark, str(tmp_path / "nb"), n_buckets=8)
    t.destroy()


def test_replayed_upsert_is_idempotent(spark, tmp_path):
    """The streaming exactly-once argument: replaying the same batch
    (same keys, same values) converges to the same snapshot — duplicate
    keys across chain deltas resolve newest-wins, never multiply."""
    t = StateTable(spark, str(tmp_path / "replay"))
    batch = spark.range(100).selectExpr(
        "cast(id as string) as key", "cast(id as string) as value"
    )
    t.upsert(batch)
    t.upsert(batch)  # replay
    assert t.snapshot().count() == 100
    assert t.get("42") == "42"
    t.destroy()


def test_vacuum_preserves_chain_shared_versions(spark, tmp_path):
    """vacuum(keep_last=k) must retain every version directory any
    retained manifest's CHAINS still reference — delta sharing across
    versions is the point of the layout — and time travel within the
    retained window stays exact."""
    t = StateTable(spark, str(tmp_path / "vac"), n_buckets=2, max_chain=10)
    for i in range(5):
        t.upsert(
            spark.createDataFrame(
                [(f"k{i}", str(i))], "key string, value string"
            )
        )
    v_last = t.version
    t.vacuum(keep_last=2)
    # all five delta versions are still referenced by the latest chains
    assert t.snapshot().count() == 5
    assert {r["key"] for r in t.snapshot().collect()} == {
        "k0", "k1", "k2", "k3", "k4"
    }
    assert t.snapshot(v_last - 1).count() == 4  # retained window intact
    # compaction folds chains; a second vacuum can now drop old deltas
    t.compact()
    t.vacuum(keep_last=1)
    assert t.snapshot().count() == 5
    assert t.get("k3") == "3"
    t.destroy()


def test_torn_commit_dirs_are_invisible_and_recoverable(
    spark, tmp_path, monkeypatch
):
    """Crash leftovers (delta-N.tmp / vN.tmp without manifests) must
    not surface as state, break version listing, or block the next
    commit — including a killed commit's delta dir holding rows at
    exactly the name the next commit adopts its delta into, through
    both upsert and upsert_group (whose empty-batch side adopts
    nothing), and the cross-filesystem adoption fallback."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from slipstream_async_spark.streaming import state as st

    t = StateTable(spark, str(tmp_path / "torn"))
    u = StateTable(spark, str(tmp_path / "torn_u"))
    t.put("a", 1)
    vdir = os.path.join(t.path, "versions")
    os.makedirs(os.path.join(vdir, "delta-9.tmp", "_bucket=0"))
    os.makedirs(os.path.join(vdir, "v9.tmp", "_bucket=0"))
    assert t.version == 0  # torn dirs invisible

    def leave_torn_delta(table, key):
        d = os.path.join(
            table.path, "versions", f"delta-{table.version + 1}.tmp",
            f"_bucket={table._bucket_of(key)}",
        )
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({
                "key": ["stale"], "value": ["x"],
                "attrs": pa.array([None], pa.map_(pa.string(), pa.string())),
                "op": ["put"],
            }),
            os.path.join(d, "part-stale.parquet"),
        )

    leave_torn_delta(t, "b")
    t.put("b", 2)  # next commit proceeds
    assert t.version == 1
    assert t.get("a") == 1 and t.get("b") == 2
    assert t.snapshot().count() == 2
    leave_torn_delta(t, "c")
    leave_torn_delta(u, "c")
    st.upsert_group([
        (t, spark.createDataFrame([("c", "3")], "key string, value string")),
        (u, spark.createDataFrame([], "key string, value string")),
    ])
    assert t.version == 2 and u.version == 0
    assert sorted(r["key"] for r in t.snapshot().collect()) == ["a", "b", "c"]
    assert sorted(r["key"] for r in t.changelog().collect()) == ["a", "b", "c"]
    assert u.snapshot().count() == 0 and u.changelog().count() == 0
    # adoption fallback (rename impossible, e.g. across filesystems):
    # the nested _bucket=N dirs of a group subtree are linked over
    src = tmp_path / "grp" / "_bucket=3"
    os.makedirs(src)
    (src / "part-0.parquet").write_bytes(b"rows")

    def no_rename(a, b):
        raise OSError(18, "Invalid cross-device link")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", no_rename)
        st._adopt_dir(str(tmp_path / "grp"), str(tmp_path / "adopted"))
    assert (tmp_path / "adopted" / "_bucket=3" / "part-0.parquet").read_bytes() == b"rows"
    t.destroy()
    u.destroy()


def test_rebucket_resizes_and_persists(spark, tmp_path):
    """rebucket() rewrites state under a new bucket count in one
    compacted version; reopening adopts the new count, point lookups
    prune with the new hash, and prior versions stay readable."""
    t = StateTable(spark, str(tmp_path / "rb"), n_buckets=2)
    t.upsert(
        spark.range(200).selectExpr(
            "cast(id as string) as key", "cast(id as string) as value"
        ),
        fence=("q", 7),
    )
    v_before = t.version
    n_log = t.changelog().count()
    t.rebucket(16)
    assert t.n_buckets == 16
    assert t.snapshot().count() == 200
    assert t.committed_epochs() == {"q": 7}, "fences survive rebucket"
    assert t.changelog().count() == n_log, "a resize is not a mutation"
    assert t.get("123") == "123"
    assert t.snapshot(v_before).count() == 200  # time travel across resize
    t2 = StateTable(spark, str(tmp_path / "rb"))  # reopen adopts 16
    assert t2.n_buckets == 16
    assert t2.get("42") == "42"
    t2.upsert(
        spark.createDataFrame([("new", "1")], "key string, value string")
    )
    assert t2.snapshot().count() == 201
    t.destroy()


def test_many_commit_soak_compaction_bounds_chains(spark, tmp_path):
    """Soak: 30 interleaved upsert/delete commits against a model dict.
    Invariants after every Nth commit and at the end: (1) snapshot ==
    model exactly, (2) no bucket's delta chain exceeds max_chain (the
    read-amplification bound the LSM shape promises), (3) vacuum keeps
    the CURRENT version readable while dropping unreferenced dirs."""
    import os

    from slipstream_async_spark.streaming.state import StateTable

    t = StateTable(
        spark, str(tmp_path / "soak"), n_buckets=8, max_chain=3
    )
    model: dict[str, str] = {}
    for epoch in range(30):
        if epoch % 7 == 3:
            # range delete of a rotating key slice
            lo, hi = f"k{epoch % 10}", f"k{epoch % 10}z"
            t.delete_range(lo, hi)
            model = {k: v for k, v in model.items() if not (lo <= k < hi)}
        else:
            rows = [
                (f"k{(epoch * 3 + i) % 25}", f"v{epoch}-{i}")
                for i in range(6)
            ]
            t.upsert(
                spark.createDataFrame(rows, "key string, value string")
            )
            model.update(rows)
        if epoch % 5 == 4 or epoch == 29:
            got = {
                r["key"]: r["value"]
                for r in t.snapshot().select("key", "value").collect()
            }
            assert got == model, f"divergence at epoch {epoch}"
            chains = t._manifest(t.version)
            too_long = {
                b: len(ch) for b, ch in chains.items() if len(ch) > t.max_chain
            }
            assert not too_long, (
                f"epoch {epoch}: chains exceed max_chain: {too_long}"
            )
    # vacuum: current state must survive; old unreferenced versions go
    n_before = len(os.listdir(tmp_path / "soak" / "versions"))
    t.vacuum(keep_last=2)
    n_after = len(os.listdir(tmp_path / "soak" / "versions"))
    assert n_after < n_before
    got = {
        r["key"]: r["value"]
        for r in t.snapshot().select("key", "value").collect()
    }
    assert got == model


def test_foreach_batch_upsert_epoch_fenced(spark, tmp_path):
    """Exactly-once changelog under epoch replay: foreachBatch
    re-delivers the in-flight epoch after a crash; the fence recorded
    in the commit's manifest makes the replayed (query, epoch) a no-op
    — one version, ONE set of changelog rows, both for a same-closure
    replay and for a fresh sink instance (restart recovery)."""
    from slipstream_async_spark.streaming.state import foreach_batch_upsert

    t = StateTable(spark, str(tmp_path / "fence"))
    sink = foreach_batch_upsert(t, query="q")
    batch = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "key string, value string"
    )
    sink(batch, 0)
    v_after = t.version
    n_log = t.changelog().count()
    assert n_log == 2

    sink(batch, 0)  # same-process replay of the same epoch
    assert t.version == v_after
    assert t.changelog().count() == n_log

    # restart: a FRESH closure must recover the fence from manifests
    sink2 = foreach_batch_upsert(t, query="q")
    sink2(batch, 0)
    assert t.version == v_after
    assert t.changelog().count() == n_log

    # the next epoch commits normally
    sink2(spark.createDataFrame([("c", "3")], "key string, value string"), 1)
    assert t.version == v_after + 1
    assert t.changelog().count() == n_log + 1
    assert t.committed_epochs() == {"q": 1}

    # a different query name is an independent fence
    other = foreach_batch_upsert(t, query="q2")
    other(batch, 0)
    assert t.committed_epochs() == {"q": 1, "q2": 0}
    t.destroy()


def test_expire_ttl_bounds_live_rows(spark, tmp_path):
    """Row-TTL retention (the reference's FIFO-bounded state window,
    caching.py:109-133): under continuous ingest with a periodic
    expire(), the live-row count PLATEAUS instead of growing without
    bound, un-stamped rows (no ttl attr -> NULL predicate) survive
    every sweep, and compaction physically reclaims expired rows."""
    t = StateTable(spark, str(tmp_path / "ttl"), n_buckets=4, max_chain=4)
    t.upsert(
        spark.createDataFrame(
            [("pinned", "keep", None)],
            "key string, value string, attrs map<string,string>",
        )
    )
    counts = []
    for i in range(6):
        rows = [
            (f"k{i}-{j}", f"v{i}", {"ts": f"{i:04d}"}) for j in range(50)
        ]
        t.upsert(
            spark.createDataFrame(
                rows, "key string, value string, attrs map<string,string>"
            )
        )
        # retain the current and previous generation only
        t.expire("ts", f"{i - 1:04d}")
        counts.append(t.snapshot().count())
    # plateau: two generations (100) + the un-stamped row
    assert counts[-3:] == [101, 101, 101], counts
    assert t.get("pinned") == "keep"
    # expired rows are physically gone from the live version's files,
    # not just merged away at read time
    import os

    import pyarrow.parquet as pq

    base = t._manifest(t.version)
    on_disk = 0
    for b, chain in base.items():
        for p in t._chain_paths(chain, b):
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    on_disk += pq.ParquetFile(
                        os.path.join(p, f)
                    ).metadata.num_rows
    # live 101 rows + at most the newest generation's tombstones/deltas
    assert on_disk <= 101 + 2 * 50, on_disk
    t.destroy()


def test_scan_prefix_true_successor(spark, tmp_path):
    """Prefix scans must be EXACT for keys whose suffix starts at or
    above U+FFFF — the naive 'prefix + U+FFFF' upper bound wrongly
    excluded them (and keys containing U+FFFF itself)."""
    t = StateTable(spark, str(tmp_path / "pfx"))
    keys = ["ab", "ab￿", "ab￿x", "ab\U00010000", "abz", "ac", "a", "b"]
    t.upsert(
        spark.createDataFrame([(k, "v") for k in keys], "key string, value string")
    )
    got = [r["key"] for r in t.scan(prefix="ab").select("key").collect()]
    assert got == sorted(k for k in keys if k.startswith("ab"))
    # all-U+10FFFF prefix: no finite successor, lower bound alone is exact
    t2 = StateTable(spark, str(tmp_path / "pfx2"))
    mx = "\U0010ffff"
    t2.upsert(
        spark.createDataFrame(
            [(mx, "v"), (mx + "a", "v"), ("z", "v")], "key string, value string"
        )
    )
    got2 = [r["key"] for r in t2.scan(prefix=mx).select("key").collect()]
    assert got2 == [mx, mx + "a"]
    t.destroy()
    t2.destroy()


def test_scan_prefix_surrogate_gap_successor(spark, tmp_path):
    """A prefix ending at U+D7FF must scan, not raise: its naive +1
    successor is the lone surrogate U+D800, which cannot cross py4j's
    UTF-8 boundary. The bound skips the surrogate gap to U+E000 —
    still exact, since valid keys contain no code point in the gap."""
    t = StateTable(spark, str(tmp_path / "sgap"))
    d7ff = chr(0xD7FF)
    keys = ["a" + d7ff, "a" + d7ff + "z", "a" + chr(0xE000), "a", "b"]
    t.upsert(
        spark.createDataFrame(
            [(k, "v") for k in keys], "key string, value string"
        )
    )
    got = [
        r["key"]
        for r in t.scan(prefix="a" + d7ff).select("key").collect()
    ]
    assert got == sorted(k for k in keys if k.startswith("a" + d7ff))
    t.destroy()


def test_multi_table_dedup_sink_epoch_fenced(spark, tmp_path):
    """Multi-table sinks are fenced PER TABLE: a replayed epoch no-ops
    entirely when all commits landed, and re-runs ONLY the lost
    table's commit after a partial failure — both tables' changelogs
    stay exactly-once."""
    from slipstream_async_spark.streaming.dedup_flow import (
        indexed_incremental_dedup_sink,
    )
    from slipstream_async_spark.streaming.neardup_index import (
        NearDupPrefixIndex,
    )

    corpus = StateTable(spark, str(tmp_path / "corpus"))
    pairs = StateTable(spark, str(tmp_path / "pairs"))

    def make_sink():
        # a fresh index instance per sink: a restart re-reads it
        index = NearDupPrefixIndex(spark, str(tmp_path / "idx"))
        return indexed_incremental_dedup_sink(corpus, pairs, index)

    sink = make_sink()
    batch = spark.createDataFrame(
        [("1", "aaa bbb ccc ddd eee"), ("2", "aaa bbb ccc ddd fff")],
        "doc_id string, text string",
    )
    sink(batch, 0)
    vs = (corpus.version, pairs.version)
    logs = (corpus.changelog().count(), pairs.changelog().count())

    sink(batch, 0)  # same-closure replay
    assert (corpus.version, pairs.version) == vs

    sink2 = make_sink()  # restart recovery
    sink2(batch, 0)
    assert (corpus.version, pairs.version) == vs
    assert (corpus.changelog().count(), pairs.changelog().count()) == logs

    # partial replay: epoch 1's corpus commit landed but the pairs
    # commit was lost (simulated by committing corpus manually under
    # the sink's fence) — redelivery must re-run ONLY pairs
    batch2 = spark.createDataFrame(
        [("3", "qqq www rrr ttt yyy")], "doc_id string, text string"
    )
    corpus.upsert(
        batch2.select(
            F.col("doc_id").alias("key"), F.col("text").alias("value")
        ),
        fence=("incremental_dedup", 1),
    )
    vc = corpus.version
    vp = pairs.version
    sink3 = make_sink()
    sink3(batch2, 1)
    assert corpus.version == vc, "fenced corpus commit must not re-run"
    assert pairs.version == vp + 1, "lost pairs commit must re-run"
    assert corpus.committed_epochs() == {"incremental_dedup": 1}
    assert pairs.committed_epochs() == {"incremental_dedup": 1}
    corpus.destroy()
    pairs.destroy()

    # the bloom-gated sink shares the fence: epoch 1's fingerprint
    # commit landed, the bloom and dupes commits were lost — the
    # replay re-runs only those two
    from slipstream_async_spark.functions.text import text_fingerprint
    from slipstream_async_spark.streaming.dedup_flow import (
        bloom_gated_exact_dedup_sink,
    )

    fps, bloom, dupes = (
        StateTable(spark, str(tmp_path / n)) for n in ("fps", "bloom", "dupes")
    )
    bloom_gated_exact_dedup_sink(fps, bloom, dupes)(batch, 0)
    fps.upsert(
        batch2.select(
            text_fingerprint("text").alias("key"),
            F.col("doc_id").alias("value"),
        ),
        fence=("bloom_dedup", 1),
    )
    vs = (fps.version, bloom.version, dupes.version)
    logs = fps.changelog().count()
    bloom_gated_exact_dedup_sink(fps, bloom, dupes)(batch2, 1)
    assert (fps.version, bloom.version, dupes.version) == (
        vs[0], vs[1] + 1, vs[2] + 1
    ), "only the lost bloom and dupes commits may re-run"
    assert fps.changelog().count() == logs
    for t in (fps, bloom, dupes):
        assert t.committed_epochs() == {"bloom_dedup": 1}
        t.destroy()


def test_fences_survive_compaction_and_vacuum(spark, tmp_path):
    """The cumulative fence map rides every manifest, so epoch fencing
    keeps working after maintenance rewrites drop the version that
    originally carried a fence — a replayed epoch still no-ops."""
    from slipstream_async_spark.streaming.state import foreach_batch_upsert

    t = StateTable(spark, str(tmp_path / "fv"), n_buckets=2, max_chain=2)
    sink = foreach_batch_upsert(t, query="q")
    mk = lambda n: spark.createDataFrame(  # noqa: E731
        [(f"k{i}", str(n)) for i in range(6)], "key string, value string"
    )
    for e in range(4):
        sink(mk(e), e)
    t.compact()
    t.vacuum(keep_last=1)
    assert t.committed_epochs() == {"q": 3}
    v = t.version
    sink2 = foreach_batch_upsert(t, query="q")  # restart after vacuum
    sink2(mk(99), 3)  # replayed last epoch
    assert t.version == v, "replay after compact+vacuum must no-op"
    sink2(mk(4), 4)
    assert t.committed_epochs() == {"q": 4}
    assert t.get("k0") == "4"
    t.destroy()


def test_one_file_per_bucket_per_version(spark, tmp_path):
    """The commit write contract: each version holds at most ONE file
    per bucket regardless of the input's partitioning (the bounded
    repartition groups a bucket into one task; without it every input
    partition would write a sliver into every bucket dir)."""
    import glob

    t = StateTable(spark, str(tmp_path / "onef"), n_buckets=4)
    t.upsert(
        spark.range(1000)
        .repartition(13)  # adversarial input partitioning
        .selectExpr("cast(id as string) as key", "'v' as value")
    )
    for b in range(4):
        files = glob.glob(f"{t._vpath(t.version)}/_bucket={b}/*.parquet")
        assert len(files) <= 1, (b, files)
    assert t.snapshot().count() == 1000
    t.destroy()


def test_changelog_publish_crash_window_recovered(spark, tmp_path):
    """The changelog segment is staged INSIDE the version dir before
    the commit rename, so a crash between the rename (commit point)
    and the publish link cannot lose events: reopening the table heals
    the unpublished segment — exactly-once, not at-most-once, even
    with epoch fencing making the replayed epoch a no-op."""
    import os

    path = str(tmp_path / "clog")
    t = StateTable(spark, path, n_buckets=2)
    t.upsert(
        spark.createDataFrame([("a", "1")], "key string, value string")
    )
    assert t.changelog().count() == 1
    # crash simulation: suppress the publish step for one commit
    orig = StateTable._publish_changelog
    StateTable._publish_changelog = lambda self, v: None
    try:
        t.upsert(
            spark.createDataFrame(
                [("b", "2"), ("c", "3")], "key string, value string"
            )
        )
    finally:
        StateTable._publish_changelog = orig
    v = t.version
    assert not os.path.isdir(os.path.join(path, "changelog", f"v{v}"))
    assert os.path.isdir(os.path.join(t._vpath(v), "_changelog"))
    assert t.changelog().count() == 1, "events invisible pre-recovery"
    # reopen = restart recovery: the staged segment is re-linked
    t2 = StateTable(spark, path)
    assert os.path.isdir(os.path.join(path, "changelog", f"v{v}"))
    assert t2.changelog().count() == 3
    # idempotent: reopening again neither duplicates nor fails
    t3 = StateTable(spark, path)
    assert t3.changelog().count() == 3
    t3.destroy()


def test_changelog_vacuum_retention(spark, tmp_path):
    """changelog_vacuum bounds the CDC log (the last unbounded
    artifact): old segments are dropped, the retention floor is
    recorded BEFORE deletion, and readers below the floor fail or warn
    LOUDLY instead of silently replaying a truncated history."""
    import warnings as _w

    t = StateTable(spark, str(tmp_path / "ret"), n_buckets=2)
    for i in range(5):
        t.upsert(
            spark.createDataFrame(
                [(f"k{i}", str(i))], "key string, value string"
            )
        )
    assert t.changelog().count() == 5
    t.changelog_vacuum(keep_segments=2)
    # floor = first retained version (v0..v4 committed; keep v3,v4)
    assert t._changelog_floor() == 3
    with pytest.warns(RuntimeWarning, match="dropped by changelog_vacuum"):
        tail = t.changelog()
    assert sorted(r["key"] for r in tail.collect()) == ["k3", "k4"]
    # acknowledging the floor reads clean (no warning)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        ok = t.changelog(since_version=3)
        assert sorted(r["key"] for r in ok.collect()) == ["k3", "k4"]
    assert not [w for w in rec if issubclass(w.category, RuntimeWarning)]
    # asking for history below the floor is an ERROR, not a partial read
    with pytest.raises(ValueError, match="dropped by changelog_vacuum"):
        t.changelog(since_version=0)
    # a new stream reader over the truncated log warns too
    with pytest.warns(RuntimeWarning, match="retained tail"):
        t.changelog_stream()
    # idempotent / monotone: vacuuming again keeps the floor
    t.changelog_vacuum(keep_segments=2)
    assert t._changelog_floor() == 3
    t.destroy()


def test_changelog_vacuum_retention_above_log_length_keeps_all(
    spark, tmp_path
):
    """Retention ABOVE the current segment count must be a no-op, not
    a deletion: ``segs[: len - keep]`` with a negative bound would drop
    the OLDEST segments (len=2, keep=7 -> segs[:-5]) — the routine
    'periodic vacuum with generous retention' pattern turned into
    permanent CDC loss. The floor must also stay untouched so existing
    readers keep replaying the full history."""
    t = StateTable(spark, str(tmp_path / "gen"), n_buckets=2)
    for i in range(2):
        t.upsert(
            spark.createDataFrame(
                [(f"k{i}", str(i))], "key string, value string"
            )
        )
    t.changelog_vacuum(keep_segments=7)
    assert t._changelog_floor() == 0
    assert sorted(r["key"] for r in t.changelog().collect()) == ["k0", "k1"]
    # boundary: keep == len is likewise a full keep
    t.changelog_vacuum(keep_segments=2)
    assert t._changelog_floor() == 0
    assert t.changelog().count() == 2
    # and keep_segments=0 still truncates everything (explicit opt-in)
    t.changelog_vacuum(keep_segments=0)
    assert t._changelog_floor() == 2
    t.destroy()


@pytest.mark.parametrize(
    "kind",
    ["foreach_batch_upsert", "indexed_incremental_dedup_sink",
     "bloom_gated_exact_dedup_sink"],
)
def test_fence_regression_warns_on_checkpoint_reset(spark, tmp_path, kind):
    """A delivered epoch STRICTLY below the recovered fence cannot be
    a replay (replay re-delivers at most the in-flight epoch == the
    fence) — it means the streaming checkpoint was reset while the
    state table kept its fences. Every sink (one shared fence) must
    warn loudly while skipping; the equal-epoch replay stays silent."""
    import warnings as _w

    from slipstream_async_spark.streaming import dedup_flow
    from slipstream_async_spark.streaming.neardup_index import (
        NearDupPrefixIndex,
    )
    from slipstream_async_spark.streaming.state import foreach_batch_upsert

    def table(name):
        return StateTable(spark, str(tmp_path / name), n_buckets=4)

    if kind == "foreach_batch_upsert":
        tables = [table("reset")]
        batch = spark.createDataFrame(
            [("a", "1")], "key string, value string"
        )

        def make():
            return foreach_batch_upsert(tables[0], query="q")
    else:
        batch = spark.createDataFrame(
            [("1", "aaa bbb ccc ddd"), ("2", "aaa bbb ccc eee")],
            "doc_id string, text string",
        )
        if kind == "bloom_gated_exact_dedup_sink":
            tables = [table("fps"), table("bloom"), table("dupes")]

            def make():
                return dedup_flow.bloom_gated_exact_dedup_sink(
                    *tables, query="q"
                )
        else:
            index = NearDupPrefixIndex(
                spark, str(tmp_path / "idx"), n_buckets=4
            )
            tables = [table("corpus"), table("pairs"),
                      index.postings, index.sets, index.seen]

            def make():
                return dedup_flow.indexed_incremental_dedup_sink(
                    tables[0], tables[1], index, query="q"
                )

    def versions():
        return [t.version for t in tables]

    make()(batch, 5)
    v = versions()
    # equal-epoch replay: silent no-op
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        make()(batch, 5)
    assert not [w for w in rec if issubclass(w.category, RuntimeWarning)]
    # checkpoint reset: epoch restarts at 0 — loud warning, still skipped
    with pytest.warns(RuntimeWarning, match="below the committed fence"):
        make()(batch, 0)
    assert versions() == v
    for t in tables:
        t.destroy()


def test_upsert_group_one_job_many_tables(spark, tmp_path):
    """upsert_group commits N tables' batches from ONE Spark write job
    (the multi-table sink's fixed-cost fold): results, fences,
    changelogs, and commit accounting are identical to N standalone
    upserts — across tables with different n_buckets, partition_sep,
    and append_only settings — and an empty batch still advances its
    table's fence."""
    from slipstream_async_spark.streaming.state import upsert_group

    sep = "\x1f"
    a = StateTable(spark, str(tmp_path / "a"), n_buckets=4)
    b = StateTable(
        spark, str(tmp_path / "b"), n_buckets=8, partition_sep=sep,
        append_only=True,
    )
    rows_a = spark.createDataFrame(
        [("k1", "v1"), ("k2", "v2")], "key string, value string"
    )
    rows_b = spark.createDataFrame(
        [(f"s{i}{sep}d{i}", f"p{i}") for i in range(5)],
        "key string, value string",
    )
    # count WRITE actions (job counts are AQE-stage-split and fragile):
    # the fold's claim is one parquet write for N tables, not N
    wcls = type(rows_a.write)
    orig, writes = wcls.parquet, []
    wcls.parquet = lambda self, path, **kw: (writes.append(path),
                                             orig(self, path, **kw))[1]
    try:
        upsert_group([(a, rows_a), (b, rows_b)], fence=("q", 3))
    finally:
        wcls.parquet = orig
    assert len(writes) == 1, f"the group must make ONE write, got {writes}"
    assert a.get("k1") == "v1" and a.get("k2") == "v2"
    assert b.get(f"s2{sep}d2") == "p2"
    assert a.committed_epochs() == {"q": 3}
    assert b.committed_epochs() == {"q": 3}
    assert a.last_commit_rows == 2 and b.last_commit_rows == 5
    # bucket pruning still works on the group-committed append_only side
    bucket = b._bucket_of("s3")
    keys = {r["key"] for r in b.read_buckets([bucket]).collect()}
    assert f"s3{sep}d3" in keys
    # changelog segments carry the group-committed rows
    assert sorted(r["key"] for r in a.changelog().collect()) == ["k1", "k2"]
    # second group: one table updates, the other's batch is EMPTY —
    # the empty side's version and fence must still advance
    va, vb = a.version, b.version
    empty = spark.createDataFrame([], "key string, value string")
    upsert_group(
        [(a, spark.createDataFrame([("k1", "v9")], "key string, value string")),
         (b, empty)],
        fence=("q", 4),
    )
    assert a.get("k1") == "v9"
    assert a.version == va + 1 and b.version == vb + 1
    assert b.committed_epochs() == {"q": 4} and b.last_commit_rows == 0
    # NULL keys are a loud contract violation, same as plain upsert
    with pytest.raises(Exception, match="non-NULL"):
        upsert_group(
            [(a, spark.createDataFrame([(None, "x")],
                                       "key string, value string"))]
        )
    # reopened tables see the group-committed state (manifest-complete)
    a2 = StateTable(spark, str(tmp_path / "a"))
    assert a2.get("k2") == "v2"
    a.destroy()
    b.destroy()


def test_upsert_group_triggers_compaction(spark, tmp_path):
    """A group-adopted delta participates in chain compaction exactly
    like a standalone commit: when a bucket's chain exceeds max_chain,
    the same commit compacts it and newest-wins ordering holds (the
    path-derived version regex must see the adopted delta as the
    newest version)."""
    from slipstream_async_spark.streaming.state import upsert_group

    t = StateTable(spark, str(tmp_path / "c"), n_buckets=1, max_chain=2)
    u = StateTable(spark, str(tmp_path / "d"), n_buckets=1)
    for i in range(2):
        t.upsert(
            spark.createDataFrame([("k", f"v{i}")], "key string, value string")
        )
    # third commit for the same bucket -> chain would be 3 > max_chain=2
    upsert_group(
        [(t, spark.createDataFrame([("k", "v2")], "key string, value string")),
         (u, spark.createDataFrame([("x", "y")], "key string, value string"))]
    )
    assert t.get("k") == "v2", "the adopted delta must win the merge"
    # compacted: single-version chain for the bucket
    assert list(t._manifest(t.version).values()) == [[t.version]]
    assert u.get("x") == "y"
    t.destroy()
    u.destroy()


def test_append_only_reads_and_replace_all(spark, tmp_path):
    """append_only tables skip the newest-wins merge on chained-bucket
    reads (unique keys + no tombstones make the chain's union the live
    set); deletes are refused LOUDLY; replace_all is an atomic
    truncate-and-load that leaves single-file chains, carries fences,
    and keeps prior versions time-travel readable."""
    t = StateTable(
        spark,
        str(tmp_path / "ao"),
        n_buckets=2,
        max_chain=100,  # let chains grow: the merge-free read is the point
        append_only=True,
    )
    for i in range(4):  # disjoint keys per commit -> growing chains
        t.upsert(
            spark.createDataFrame(
                [(f"k{i}-{j}", f"v{i}") for j in range(10)],
                "key string, value string",
            ),
            fence=("q", i),
        )
    assert t.snapshot().count() == 40
    assert max(len(ch) for ch in t._manifest(t.version).values()) > 1
    assert t.get("k2-3") == "v2"
    import pytest as _pt

    with _pt.raises(RuntimeError, match="append-only"):
        t.delete_where(F.lit(True))
    v_before = t.version
    t.replace_all(
        spark.createDataFrame(
            [("n1", "x"), ("n2", "y")], "key string, value string"
        )
    )
    assert sorted(r["key"] for r in t.snapshot().collect()) == ["n1", "n2"]
    assert all(len(ch) == 1 for ch in t._manifest(t.version).values())
    assert t.committed_epochs() == {"q": 3}, "fences survive replace_all"
    assert t.snapshot(v_before).count() == 40, "time travel intact"
    # post-replace appends keep working merge-free
    t.upsert(
        spark.createDataFrame([("n3", "z")], "key string, value string")
    )
    assert t.get("n3") == "z" and t.snapshot().count() == 3
    t.destroy()


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def test_commit_write_plans_one_exchange(spark, tmp_path):
    """A commit writes one row per key behind ONE shuffle: the key
    dedup runs after the bucket repartition, whose clustering already
    satisfies it, instead of planning a second exchange on ``key``."""
    t = StateTable(spark, str(tmp_path / "t"), n_buckets=4)
    u = StateTable(spark, str(tmp_path / "u"), n_buckets=2)
    batch = spark.createDataFrame(
        [(str(i % 5), str(i)) for i in range(20)], "key string, value string"
    )
    single = _grouped([(t, _normalize_put_batch(batch))])
    assert _exchanges(single) == 1
    assert single.count() == 5
    group = _grouped(
        [(t, _normalize_put_batch(batch)), (u, _normalize_put_batch(batch))]
    )
    assert _exchanges(group) == 1
    assert group.count() == 10
    t.upsert(batch)
    assert t.snapshot().count() == 5
