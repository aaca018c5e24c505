from slipstream_async_spark.sources.readers import (
    TABLES,
    load_table,
    read_stream_from_parquet,
)
from slipstream_async_spark.sources.codecs import json_decode, json_encode

__all__ = [
    "TABLES",
    "load_table",
    "read_stream_from_parquet",
    "json_decode",
    "json_encode",
]
