"""Sources: bounded and unbounded DataFrame readers.

Reference capability: any ``AsyncIterable`` is a source and a Kafka ``Topic``
is both source and sink (slipstream/core.py:292-594, 675-700). Here sources
are Spark readers: ``spark.read`` for bounded inputs, ``spark.readStream``
for unbounded. The Kafka wrapper is gated behind availability of the Kafka
connector jars (not in this container) — the reader builder is real, the
test path uses file-backed streams which exercise identical Structured
Streaming semantics (micro-batches, watermarks, state).

Every parquet read here states its schema: one memoized footer read per
file (``_footer``) gives ``load_table`` its schema and ``spread`` its
row-group count, so building a frame runs no Spark job and sets no session
config. The one schema-less read is ``load_table``'s fallback for a footer
the Arrow mapping cannot match exactly.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

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


# Parquet footers, memoized per file version (path, size, mtime_ns), so a
# file rewritten in place is read again. One driver-side O(KB) read per
# file gives ``load_table`` its schema and ``spread`` its row-group count.
_FOOTERS: dict[tuple[str, int, int], tuple[pa.Schema | None, int]] = {}

# Spark type names whose Arrow mapping equals Spark's parquet inference;
# Arrow durations, times and nulls map to types Spark does not infer.
_EXACT_TYPE = re.compile(
    r"boolean|byte|short|integer|long|float|double|decimal\(\d+,\d+\)"
    r"|string|binary|date|timestamp(_ntz)?|array|map|struct"
)


def _footer(path: str) -> tuple[pa.Schema | None, int]:
    """A local parquet file's Arrow schema and row-group count. The schema
    is None when a column is INT96 (which Arrow reports as
    ``timestamp[ns]`` but Spark infers as a timestamp) or a nanosecond
    timestamp below the top level. Raises for any other input."""
    path = path.removeprefix("file://").removeprefix("file:")
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _FOOTERS:
        pf = pq.ParquetFile(path)
        inexact = any(
            c.physical_type == "INT96"
            or ("." in c.path and "nanoseconds" in str(c.logical_type))
            for c in map(pf.schema.column, range(len(pf.schema)))
        )
        _FOOTERS[key] = (
            None if inexact else pf.schema_arrow,
            pf.metadata.num_row_groups,
        )
    return _FOOTERS[key]


def _footer_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, list[str]] | None:
    """The schema Spark's own inference gives a local parquet file, and
    its TIMESTAMP(NANOS) columns, typed ``LongType`` as
    ``spark.sql.legacy.parquet.nanosAsLong`` would. Zoneless timestamps
    follow ``spark.sql.parquet.inferTimestampNTZ.enabled``, as inference
    does. None when the footer cannot be read or holds a type this
    mapping cannot match exactly."""
    try:
        arrow = _footer(path)[0]
    except (OSError, pa.ArrowException):
        return None
    if arrow is None:
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    nanos = [
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    arrow = pa.schema(
        [f.with_type(pa.int64()) if f.name in nanos else f for f in arrow]
    )
    try:
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    except PySparkTypeError:
        return None
    names = re.findall(
        r'"(?:type|elementType|keyType|valueType)":"([^"]+)"', schema.json()
    )
    if not all(_EXACT_TYPE.fullmatch(t) for t in names):
        return None
    return schema, nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (columnar scan; Catalyst prunes/pushes)
    with the schema from its footer: no Spark job, no session config set.

    TIMESTAMP(NANOS) parquet columns (illegal for Spark's readers) are
    read as epoch-nano longs and floor-converted to microsecond
    timestamps — matching DuckDB's ns->us truncation so the oracle
    comparison sees identical values. A footer ``_footer_schema`` cannot
    map takes Spark's inferred read, one job.
    """
    path = f"{sf_dir}/{name}.parquet"
    footer = _footer_schema(spark, path)
    if footer is None:
        return spark.read.parquet(path)
    schema, nanos = footer
    df = spark.read.schema(schema).parquet(path)
    for c in nanos:
        # Integer `div`, not `/`: float division of epoch-nanos (~1.7e18)
        # exceeds double's 2^53 integer range and drifts by ±1us.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _carrying_tasks(df: DataFrame) -> int:
    """Upper bound on scan tasks that will carry rows: the total parquet
    row-group count of the plan's input files (each row group is read by
    exactly one task, so splits beyond this are empty). Returns a large
    number when the inputs are not inspectable local parquet — the
    conservative answer, making ``spread`` a no-op."""
    try:
        files = df.inputFiles()
    except Exception:
        return 1 << 30
    try:
        return sum(_footer(f)[1] for f in files) if files else 1 << 30
    except (OSError, pa.ArrowException):
        return 1 << 30


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
    plus narrow projections/filters). The probe reads the memoized
    footers (``_footer``) of the plan's input files; anything else (no
    files, non-parquet, unreadable) is treated as already-parallel.

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


def read_stream_from_parquet(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """Unbounded DataFrame over a parquet directory (test/stream harness).

    Stands in for the reference's generic async-iterable source
    (slipstream/core.py:173-175): a bounded fixture replayed as a stream.
    ``schema`` is required: file streams need one, and a batch peek to
    infer it would run a hidden job.
    """
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )


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
