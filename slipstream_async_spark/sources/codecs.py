"""Codecs: serialization at the byte/string boundary.

Reference: ``JsonCodec`` encodes/decodes message values
(slipstream/codecs.py:9-28) and ``Topic`` auto str-encodes/decodes keys
(slipstream/core.py:462-467, 507-514). In Spark the codec boundary is a
column expression — JVM-side, codegen'd, no per-record Python:

- decode: ``from_json(col.cast("string"), schema)`` or ``get_json_object``
  for single-path extraction;
- encode: ``to_json(struct(...))``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_decode(col: Column | str, schema) -> Column:
    """Decode a JSON string/binary column into a struct column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c.cast("string"), schema)


def json_encode(*cols) -> Column:
    """Encode columns into a JSON string column (JsonCodec.encode analog)."""
    return F.to_json(F.struct(*cols))


def avro_decode(col: Column | str, json_format_schema: str) -> Column:
    """Decode an Avro binary column (reference cookbook.rst:174-208 custom
    Avro codec). Requires the external ``spark-avro`` connector jar
    (``--packages org.apache.spark:spark-avro_2.13:<ver>``); the import is
    lazy so environments without the jar can use every other codec."""
    from pyspark.sql.avro.functions import from_avro

    c = F.col(col) if isinstance(col, str) else col
    return from_avro(c, json_format_schema)


def avro_encode(col: Column | str) -> Column:
    """Encode a struct column to Avro binary (see avro_decode)."""
    from pyspark.sql.avro.functions import to_avro

    c = F.col(col) if isinstance(col, str) else col
    return to_avro(c)
