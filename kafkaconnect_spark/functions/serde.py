"""Converters — schema-aware encode/decode at the topic edge (SURVEY §2.5).

Three converters from the reference:

- C1 JsonConverter schemas.enable=true (Connect default): wire bytes are
  ``{"schema": <connect-schema>, "payload": <row>}``
  (실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:156-157; the
  wrapper is visible verbatim in the hand-crafted tombstone at
  실습수행/JDBC Sink Connector 실습.md:349).
- C2 JsonConverter schemas.enable=false: bare JSON object
  (connector_configs/mysql_jdbc_om_source_noschema.json:22-25).
- C3 AvroConverter + Schema Registry: Confluent wire format
  (magic byte 0x00 + 4-byte big-endian schema id + avro binary body).
  Implemented in functions/avro_wire.py; gated because this container
  ships no spark-avro jar — the framing/registry logic is real and
  unit-tested, the avro body is one in-repo columnar codec run as
  Arrow UDFs.

All JSON work is built-in ``to_json``/``from_json``/``schema_of_json``
— JVM-side, no Python UDFs.

Documented divergence from Connect's JsonConverter (alongside the
decimal divergence noted in SURVEY §7): temporal payloads are ISO-8601
strings (to_json's rendering) while the schema block declares Connect's
logical int64/int32 names — a real JsonConverter consumer expecting
epoch-millis integers would need a TimestampConverter SMT (T5) at the
boundary. Internally the engine round-trips this shape losslessly and
the golden-file tests pin it.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Connect schema JSON  <->  Spark StructType
# ---------------------------------------------------------------------------

_SPARK_TO_CONNECT: list[tuple[type, str]] = [
    (T.BooleanType, "boolean"),
    (T.ByteType, "int8"),
    (T.ShortType, "int16"),
    (T.IntegerType, "int32"),
    (T.LongType, "int64"),
    (T.FloatType, "float"),
    (T.DoubleType, "double"),
    (T.StringType, "string"),
    (T.BinaryType, "bytes"),
]


def _connect_type(dt: T.DataType) -> dict:
    for spark_t, connect_t in _SPARK_TO_CONNECT:
        if isinstance(dt, spark_t):
            return {"type": connect_t}
    if isinstance(dt, T.TimestampType):
        return {"type": "int64", "name": "org.apache.kafka.connect.data.Timestamp", "version": 1}
    if isinstance(dt, T.DateType):
        return {"type": "int32", "name": "org.apache.kafka.connect.data.Date", "version": 1}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "name": "org.apache.kafka.connect.data.Decimal",
            "version": 1,
            "parameters": {"scale": str(dt.scale)},
        }
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {**_connect_type(f.dataType), "optional": f.nullable, "field": f.name}
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": _connect_type(dt.elementType)}
    raise TypeError(f"no Connect mapping for Spark type {dt}")


def connect_schema_for(schema: T.StructType, name: str | None = None) -> dict:
    """Generate the Connect JSON schema block for a row StructType —
    what JsonConverter(schemas.enable=true) puts under "schema"."""
    out = _connect_type(schema)
    out["optional"] = False
    if name:
        out["name"] = name
    return out


# ---------------------------------------------------------------------------
# serialize / deserialize Column helpers
# ---------------------------------------------------------------------------

def json_serialize(
    value_col: Column | str,
    schema: T.StructType | None = None,
    schemas_enable: bool = False,
    schema_name: str | None = None,
) -> Column:
    """Struct column → JSON string bytes for the topic.

    With schemas_enable, wraps as {"schema": ..., "payload": ...}; the
    schema block is constant per pipeline run (schema is fixed per
    Structured Streaming run — SURVEY §1.3), so it's a literal, not a
    per-row computation. Tombstones (null struct) stay NULL bytes —
    null value ≠ JSON "null" (실습수행/JDBC Sink Connector 실습.md:349).
    """
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    if not schemas_enable:
        return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(F.to_json(c))
    if schema is None:
        raise ValueError("schemas_enable=true requires the row schema")
    schema_literal = json.dumps(connect_schema_for(schema, schema_name), separators=(",", ":"))
    wrapped = F.concat(
        F.lit('{"schema":' + schema_literal + ',"payload":'), F.to_json(c), F.lit("}")
    )
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(wrapped)


def json_deserialize(
    raw_col: Column | str,
    schema: T.StructType,
    schemas_enable: bool = False,
    permissive: bool = False,
) -> Column:
    """JSON string → typed struct; NULL bytes stay NULL (tombstone).

    FAILFAST like Connect's JsonConverter: malformed bytes throw a
    parse error instead of PERMISSIVE's silent all-NULL row (which
    would flow downstream as a garbage upsert — or, worse, read as a
    tombstone where NULL value means DELETE). ``permissive=True`` is
    for the KIP-298 errors.tolerance=all path ONLY: it returns the
    schema EXTENDED with a ``_corrupt_record`` string column (Spark's
    corrupt-record channel) — non-null there ⇔ the bytes were
    malformed. A bare PERMISSIVE parse instead yields an all-null
    STRUCT for poison input, indistinguishable from a legitimately
    all-null record."""
    c = F.col(raw_col) if isinstance(raw_col, str) else raw_col
    c = c.cast("string")
    if not permissive:
        opts = {"mode": "FAILFAST"}
        if schemas_enable:
            wrapper = T.StructType([T.StructField("payload", schema, True)])
            return F.from_json(c, wrapper, opts)["payload"]
        return F.from_json(c, schema, opts)
    corrupt = T.StructField("_corrupt_record", T.StringType(), True)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}
    ext = T.StructType(list(schema.fields) + [corrupt])
    if schemas_enable:
        wrapper = T.StructType([T.StructField("payload", schema, True), corrupt])
        x = F.from_json(c, wrapper, opts)
        # well-formed JSON without a payload (a bare record under the
        # wrong converter) is corrupt too — the FAILFAST path's NULL
        return F.when(c.isNull(), F.lit(None).cast(ext)).otherwise(
            F.struct(
                *[x["payload"][f.name].alias(f.name) for f in schema.fields],
                F.coalesce(x["_corrupt_record"], F.when(x["payload"].isNull(), c)).alias(
                    "_corrupt_record"
                ),
            )
        )
    return F.from_json(c, ext, opts)
