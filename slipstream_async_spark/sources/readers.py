"""Sources: bounded and unbounded DataFrame readers.

Reference capability: any ``AsyncIterable`` is a source and a Kafka ``Topic``
is both source and sink (slipstream/core.py:292-594, 675-700). Here sources
are Spark readers: ``spark.read`` for bounded inputs, ``spark.readStream``
for unbounded. The Kafka wrapper is gated behind availability of the Kafka
connector jars (not in this container) — the reader builder is real, the
test path uses file-backed streams which exercise identical Structured
Streaming semantics (micro-batches, watermarks, state).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark cannot read
    as timestamps. Footer-only read — O(KB) regardless of table size.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (columnar scan; Catalyst prunes/pushes).

    TIMESTAMP(NANOS) parquet columns (illegal for Spark's vectorized
    reader) are read as epoch-nano longs and floor-converted to
    microsecond timestamps — matching DuckDB's ns->us truncation so the
    oracle comparison sees identical values.
    """
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_timestamp_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # Integer `div`, not `/`: float division of epoch-nanos (~1.7e18)
        # exceeds double's 2^53 integer range and drifts by ±1us.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# Parquet-footer row-group counts, memoized per file version: (path,
# size, mtime_ns), so a file rewritten in place is probed again. The
# probe is driver-side O(KB) footer reads, paid once per distinct file
# per process — never a plan->RDD conversion (which re-runs physical
# planning on every call and, under AQE, would eagerly execute upstream
# shuffle stages if a caller ever passed a post-exchange frame).
_ROW_GROUPS: dict[tuple[str, int, int], int] = {}


def _carrying_tasks(df: DataFrame) -> int:
    """Upper bound on scan tasks that will carry rows: the total parquet
    row-group count of the plan's input files (each row group is read by
    exactly one task, so splits beyond this are empty). Returns a large
    number when the inputs are not inspectable local parquet — the
    conservative answer, making ``spread`` a no-op."""
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        return 1 << 30
    if not files:
        return 1 << 30
    try:
        import pyarrow.parquet as pq

        n = 0
        for f in files:
            path = f[7:] if f.startswith("file://") else f
            path = path[5:] if path.startswith("file:") else path
            st = os.stat(path)
            key = (path, st.st_size, st.st_mtime_ns)
            if key not in _ROW_GROUPS:
                _ROW_GROUPS[key] = pq.ParquetFile(path).metadata.num_row_groups
            n += _ROW_GROUPS[key]
    except Exception:
        return 1 << 30
    return n


# Logical nodes that keep their child's partitioning: a Repartition
# found below a chain of these still decides the frame's fan-out.
_NARROW_NODES = frozenset({"Project", "Filter", "SubqueryAlias"})


def _already_fanned(df: DataFrame) -> bool:
    """True when the analyzed plan's top is an explicit repartition
    (``repartition``/``coalesce``), reached through narrow nodes only.
    A walk, not a substring match: a column or literal named
    "Repartition", or one buried under a join, does not count."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            name = node.nodeName()
            if name in ("Repartition", "RepartitionByExpression"):
                return True
            if name not in _NARROW_NODES:
                return False
            node = node.children().head()
    except (AttributeError, Py4JError):  # no JVM plan (e.g. Spark Connect)
        return False


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before heavy
    per-row compute (guide §2.5, "input skew: one huge unsplittable
    file ... repartition immediately after the read").

    A single-row-group parquet file plans as ONE data-carrying scan task
    no matter how many cores the session has, so every scan-fused
    expression (regex tokenization, per-row md5 fan-outs, shingling)
    runs serially — the local bench's small single-row-group files hit
    exactly this. The repartition is CONDITIONAL on the input's
    row-group count: when the scan already yields >= parallelism
    data-carrying splits (any real at-scale table, where files /
    row-groups number in the thousands), this returns the input
    unchanged and adds no exchange — so the fix cannot add a data-scale
    shuffle at 100 TB.

    Contract: apply to scan-side frames only (a bare ``load_table`` scan
    plus narrow projections/filters). The probe reads parquet footers of
    the plan's input files; anything else (no files, non-parquet,
    unreadable) is treated as already-parallel and passes through.

    With ``key_cols`` the fan-out hash-partitions on those columns —
    deterministic row placement (retry-safe without the round-robin
    lane's sort-before-repartition pass); pass a unique or
    high-cardinality key. Without keys it falls back to round-robin.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Already-fanned frames (a caller spread the scan before a narrow
    # filter/projection, then passed it into an operator that spreads
    # too) pass through — the old .rdd probe saw their >= target
    # partitions; the footer probe must not re-add an exchange.
    if _already_fanned(df):
        return df
    if _carrying_tasks(df) >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


# Monotone counter making every scoped_cache tag unique per build within
# a process — deterministic (no clock/random), so plans stay reproducible.
_SCOPE_SEQ = 0


def scoped_cache(df: DataFrame, label: str, storage_level=None) -> DataFrame:
    """Cache a reused lineage with a QUERY-LOCAL scope (guide §5 caching).

    A bare ``.cache()`` registers the canonicalized analyzed plan with
    Spark's session-global CacheManager, which then substitutes the
    InMemoryRelation into ANY sameResult-matching fragment of other
    queries compiled in the same session — silently rewriting sibling
    queries' plan shapes (and breaking plan contracts) even though their
    results are unchanged. This helper tags the lineage with a unique
    literal column before persisting and selects the tag away after, so
    the cached plan can never structurally match a fragment of another
    query: the cache pays back inside this query's action (both/all
    branches referencing the returned frame substitute the same
    InMemoryRelation) and is invisible to every other query.

    The tag is a constant literal — run-length encoded to nothing in the
    cached columnar batches — and the returned frame has exactly the
    input's schema.
    """
    global _SCOPE_SEQ
    _SCOPE_SEQ += 1
    cols = df.columns
    tagged = df.withColumn("__scope", F.lit(f"{label}:{_SCOPE_SEQ}"))
    if storage_level is not None:
        tagged = tagged.persist(storage_level)
    else:
        tagged = tagged.cache()
    return tagged.select(*cols)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all driver tables and register each as a temp view.

    Registering views makes the SQL surface (spark.sql) usable with the
    same table names the DuckDB oracle sees.
    """
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs


def read_stream_from_parquet(
    spark: SparkSession, path: str, schema=None, max_files_per_trigger: int = 1
) -> DataFrame:
    """Unbounded DataFrame over a parquet directory (test/stream harness).

    Stands in for the reference's generic async-iterable source
    (slipstream/core.py:173-175): a bounded fixture replayed as a stream.
    """
    reader = spark.readStream.format("parquet").option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # Streaming readers need an explicit schema; infer from a batch peek.
        reader = reader.schema(spark.read.parquet(path).schema)
    return reader.load(path)


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    subscribe: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (reference Topic.__aiter__, slipstream/core.py:550-556).

    Output schema is the fixed Kafka-source envelope: key/value BINARY,
    topic, partition, offset, timestamp, headers — the Spark analog of the
    reference's ConsumerRecord. ``starting_offsets`` accepts "earliest",
    "latest", or a per-partition JSON — the analog of Topic.seek
    (slipstream/core.py:368-423) expressed declaratively.

    Requires the spark-sql-kafka connector jars; raises a clear error when
    absent (the test container has no Kafka).
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", subscribe)
        .option("startingOffsets", starting_offsets)
        .option("includeHeaders", "true")
        .load()
    )


def kafka_sink(df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str):
    """Kafka sink (reference Topic.__call__, slipstream/core.py:454-493).

    Expects columns ``key`` and ``value`` (binary or string); Spark batches
    produces per partition — unlike the reference's per-message
    ``send_and_wait`` ack (slipstream/core.py:480), which serializes every
    produce round-trip.
    """
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (SURVEY §2.1 S14). With an explicit ``schema`` the read is
    single-pass; without one Spark runs an extra inference pass over the
    files — never do that at 100 TB, pass the schema."""
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema=None, **options: str
) -> DataFrame:
    """JSON-lines scan (SURVEY §2.1 S14 + the JsonCodec boundary,
    slipstream/codecs.py:9-28). Same schema rule as CSV: explicit schema
    = one pass, no inference scan."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(
    spark: SparkSession, path: str, **options: str
) -> DataFrame:
    """ORC scan (SURVEY §2.1 S14 — the fourth columnar/file codec next
    to parquet/csv/json; reference file-source parity is the scan
    surface itself, `slipstream/sources.py`). ORC carries its schema in
    the footer like parquet, so no inference pass exists; predicate
    pushdown and column pruning apply exactly as for parquet
    (spark.sql.orc.filterPushdown is on by default)."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC write — the round-trip partner of read_orc."""
    df.write.mode(mode).orc(path)
