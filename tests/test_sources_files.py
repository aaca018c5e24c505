"""S14 file-scan coverage: CSV and JSON-lines sources round-trip the
events fixture bit-for-bit against the parquet original (schema given
explicitly — the single-pass form the readers document for scale).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from slipstream_async_spark.sources.readers import (
    _carrying_tasks,
    load_table,
    read_csv,
    read_json,
    spread,
)

SF = "/root/testdata/sf0.001"
SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _events(spark):
    # props holds commas/quotes; value holds floats — a fair codec test.
    return load_table(spark, SF, "events").orderBy("event_id")


def _norm(df):
    return [
        (r["event_id"], r["ts"], r["user_id"], r["event_type"],
         round(r["value"], 9), r["props"])
        for r in df.orderBy("event_id").collect()
    ]


def test_csv_round_trip(spark, tmp_path):
    src = _events(spark)
    path = os.path.join(str(tmp_path), "events_csv")
    (
        src.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .write.option("header", "true").option("quoteAll", "true")
        .csv(path)
    )
    back = read_csv(
        spark, path, schema=SCHEMA,
        timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS",
    )
    assert _norm(back) == _norm(src)


def test_json_round_trip(spark, tmp_path):
    src = _events(spark)
    path = os.path.join(str(tmp_path), "events_json")
    (
        src.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .write.json(path)
    )
    back = read_json(
        spark, path, schema=SCHEMA,
        timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS",
    )
    assert _norm(back) == _norm(src)


def test_csv_without_schema_infers(spark, tmp_path):
    src = _events(spark).select("event_id", "user_id", "value")
    path = os.path.join(str(tmp_path), "infer_csv")
    src.write.option("header", "true").csv(path)
    back = read_csv(spark, path)
    assert back.count() == src.count()
    kinds = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert kinds["value"] == "double"


def test_avro_codec_round_trip_or_clear_error(spark):
    """Avro codec boundary (reference custom Avro codec,
    cookbook.rst:174-208): round-trips when the spark-avro jar is on the
    classpath; otherwise must fail with Spark's actionable
    AVRO_DATA_SOURCE error (never a silent wrong answer)."""
    import pytest
    from pyspark.sql import functions as F

    from slipstream_async_spark.sources.codecs import avro_decode, avro_encode

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    schema = (
        '{"type":"record","name":"r","fields":'
        '[{"name":"id","type":"long"},{"name":"s","type":"string"}]}'
    )
    try:
        enc = df.select(avro_encode(F.struct("id", "s")).alias("payload"))
        back = (
            enc.select(avro_decode("payload", schema).alias("r"))
            .select("r.id", "r.s")
            .collect()
        )
    except Exception as e:  # jar absent in this container
        assert "AVRO" in str(e).upper()
        pytest.skip("spark-avro jar not on classpath")
    assert sorted((r["id"], r["s"]) for r in back) == [(1, "a"), (2, "b")]


def test_orc_round_trip(spark, tmp_path):
    """ORC is a footer-schema columnar format like parquet: a round
    trip preserves schema and values exactly, with no inference pass,
    and filters push into the scan."""
    from slipstream_async_spark.sources.readers import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, None)],
        "id long, s string, v double",
    )
    path = str(tmp_path / "orc_rt")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    plan = (
        back.filter(F.col("id") > 1)
        .select("id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # parse the PushedFilters payload instead of asserting an exact
    # rendering (filter order / scan-exec formatting is Spark-version
    # dependent; the contract is only that the predicate reached the
    # ORC scan) — the test_plan_contracts.py form
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan(id,1)" in pushed


def _write_ints(path, row_group_size=None):
    pq.write_table(pa.table({"x": list(range(64))}), path, row_group_size=row_group_size)


def test_spread_reads_plan_nodes_not_plan_text(spark, tmp_path):
    """``spread`` passes a frame through only when an explicit
    repartition tops its plan (under narrow nodes): a literal that
    merely spells "Repartition" is no fan-out."""
    path = os.path.join(str(tmp_path), "one_group.parquet")
    _write_ints(path)  # one row group: one data-carrying scan task
    df = spark.read.parquet(path)
    tagged = df.withColumn("tag", F.lit("Repartition"))
    top = spread(tagged)._jdf.queryExecution().analyzed().nodeName()
    assert top == "Repartition"
    fanned = df.repartition(3).filter("x > 1").select("x")
    assert spread(fanned) is fanned


def test_row_group_probe_sees_a_rewritten_file(spark, tmp_path):
    """The footer memo is keyed per file version, so a file rewritten
    in place under the same path is probed again."""
    path = os.path.join(str(tmp_path), "rewritten.parquet")
    _write_ints(path)
    assert _carrying_tasks(spark.read.parquet(path)) == 1
    _write_ints(path, row_group_size=4)
    assert _carrying_tasks(spark.read.parquet(path)) == 16
