"""The columnar Avro codec against fixed wire bytes, NaN against null,
and per-row verdicts of a mixed good/bad batch.

The golden hex below was written by the earlier per-value codec (one
``BytesIO`` walk per value), so it pins that the columnar codec keeps
the wire bytes, for one-row calls and for a many-row Arrow batch."""

from __future__ import annotations

import datetime
import io
import math
import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkaconnect_spark.functions.avro_wire import (
    SchemaRegistry,
    _decode_record,
    _encode_record,
    avro_deserialize_udf,
    avro_schema_for,
    avro_serialize_udf,
    encode_message,
    frame,
)

INNER = T.StructType(
    [
        T.StructField("a", T.IntegerType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("deep", T.StructType([T.StructField("z", T.LongType(), True)]), True),
    ]
)
POINT = T.StructType(
    [T.StructField("x", T.IntegerType(), True), T.StructField("y", T.DoubleType(), True)]
)
SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("l", T.LongType(), True),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("b", T.BinaryType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("price", T.DecimalType(10, 2), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("nums", T.ArrayType(T.LongType()), True),
        T.StructField("pts", T.ArrayType(POINT), True),
        T.StructField("inner", INNER, True),
    ]
)
AVRO = avro_schema_for(SCHEMA, "golden")

RECORDS = [
    # every union on its null branch
    dict(id=0, **{f.name: None for f in SCHEMA.fields[1:]}),
    # long/int edges, -0.0, empty string/bytes/arrays, pre-1970 instant
    # and day, negative decimal, a nested record of nulls
    dict(
        id=2**63 - 1, l=-(2**63), i=2**31 - 1, f=-0.0, d=-0.0, s="", b=b"", flag=False,
        ts=datetime.datetime(1969, 12, 31, 23, 59, 59, 999000), day=datetime.date(1969, 7, 20),
        price=Decimal("-1234.56"), tags=[], nums=[], pts=[],
        inner={"a": None, "s": None, "deep": None},
    ),
    # non-ASCII text, post-2038 instant, a decimal whose |unscaled| needs
    # a sign byte (-128), arrays of strings, longs and records
    dict(
        id=-(2**63), l=2**63 - 1, i=-(2**31), f=1.5, d=3.141592653589793,
        s="héllo ✓ 日本", b=b"\x00\xff\x80", flag=True,
        ts=datetime.datetime(2040, 2, 29, 12, 34, 56, 789000), day=datetime.date(2100, 1, 1),
        price=Decimal("-1.28"), tags=["a", "ü", ""], nums=[0, -1, 2**40],
        pts=[{"x": 1, "y": -0.0}, {"x": None, "y": None}],
        inner={"a": -5, "s": "x", "deep": {"z": -(2**63)}},
    ),
    # zeros, control characters, a 200-byte string, a null nested record
    dict(
        id=1, l=0, i=0, f=65504.0, d=-2.5e-300, s="\x00\x01\x1f\x7f\t\n\"\\", b=b"\x7f",
        flag=None, ts=datetime.datetime(1900, 1, 1), day=datetime.date(1970, 1, 1),
        price=Decimal("0.00"), tags=["x" * 200], nums=None, pts=None, inner=None,
    ),
    # one- and two-byte varint boundaries (-64, 63, 64, -65), infinity,
    # the earliest day, the largest decimal(10, 2)
    dict(
        id=-1, l=-64, i=63, f=None, d=float("inf"), s="z", b=None, flag=True,
        ts=datetime.datetime(1970, 1, 1), day=datetime.date(1, 1, 1),
        price=Decimal("99999999.99"), tags=None, nums=[64, -65], pts=[],
        inner={"a": 2**31 - 1, "s": "", "deep": {"z": None}},
    ),
]

GOLDEN = [
    "000000000000000000000000000000",
    (
        "feffffffffffffffff0102ffffffffffffffffff0102feffffff0f0200000080"
        "020000000000000080020002000200020102c9020206fe1dc002000200020002"
        "000000"
    ),
    (
        "ffffffffffffffffff0102feffffffffffffffff0102ffffffff0f020000c03f"
        "02182d4454fb210940022268c3a96c6c6f20e29c9320e697a5e69cac020600ff"
        "80020102aa92c4c8f0800102f4e5050204ff800206026104c3bc000002060001"
        "80808080804000020402020200000000000000800000000202090202780202ff"
        "ffffffffffffffff01"
    ),
    (
        "02020002000200e07f47022f30b7b3a7c9ba81021000011f7f090a225c02027f"
        "0002ff8ff19fca8001020002020002029003"
        + "78" * 200
        + "00000000"
    ),
    (
        "01027f027e0002000000000000f07f02027a000201020002f3e457020a02540b"
        "e3ff000204800181010002000202feffffff0f02000200"
    ),
]


@pytest.mark.parametrize("k", range(len(RECORDS)))
def test_one_row_golden_bytes(k):
    out = io.BytesIO()
    _encode_record(AVRO, RECORDS[k], out)
    assert out.getvalue().hex() == GOLDEN[k]
    assert _decode_record(AVRO, io.BytesIO(bytes.fromhex(GOLDEN[k]))) == RECORDS[k]


def _as_dict(v):
    if hasattr(v, "asDict"):
        return {k: _as_dict(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_as_dict(x) for x in v]
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def test_batch_golden_bytes_through_both_udfs(spark):
    """All records in one Arrow batch: each row's frame holds its golden
    body, and the batch decodes back to the records."""
    sid = SchemaRegistry().register("golden-value", AVRO)
    df = spark.createDataFrame([tuple(r.values()) for r in RECORDS], SCHEMA).coalesce(1)
    wire = df.select(
        "id", avro_serialize_udf(AVRO, sid)(F.struct(*SCHEMA.names)).alias("raw")
    ).persist()
    got = {r.id: bytes(r.raw) for r in wire.collect()}
    assert got == {r["id"]: frame(sid, bytes.fromhex(g)) for r, g in zip(RECORDS, GOLDEN)}
    back = wire.select(avro_deserialize_udf(SCHEMA, AVRO, expected_id=sid)("raw").alias("v"))
    decoded = {r.v.id: _as_dict(r.v) for r in back.collect()}
    assert decoded == {r["id"]: r for r in RECORDS}
    # -0.0 survives as -0.0, not 0.0
    assert math.copysign(1.0, decoded[2**63 - 1]["d"]) == -1.0
    wire.unpersist()


VALUE = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)
VALUE_AVRO = avro_schema_for(VALUE, "scored")


def test_nan_double_is_not_null(spark):
    """A NaN double goes out on the value branch with its 8 bytes and
    reads back as NaN; only a null goes out as the null branch."""
    sid = SchemaRegistry().register("scored-value", VALUE_AVRO)
    df = spark.createDataFrame([(1, "n", float("nan")), (2, "z", None)], VALUE)
    wire = df.select(
        "id", avro_serialize_udf(VALUE_AVRO, sid)(F.struct(*VALUE.names)).alias("raw")
    ).persist()
    got = {r.id: bytes(r.raw) for r in wire.collect()}
    assert got[1] == frame(sid, b"\x02\x02\x02n\x02" + struct.pack("<d", float("nan")))
    assert got[2] == frame(sid, b"\x04\x02\x02z\x00")
    back = wire.select(avro_deserialize_udf(VALUE, VALUE_AVRO, expected_id=sid)("raw").alias("v"))
    rows = {r.v.id: r.v.score for r in back.collect()}
    assert math.isnan(rows[1]) and rows[2] is None
    wire.unpersist()


def test_mixed_batch_verdicts_permissive_and_strict(spark):
    """One batch of good and bad frames: under permissive decode only
    the bad rows carry ``_corrupt_record`` and the good rows decode as
    they do alone; trailing bytes after a record are ignored; strict
    decode still fails on a foreign schema id with the restart message."""
    sid = SchemaRegistry().register("scored-value", VALUE_AVRO)
    recs = {
        1: {"id": 1, "name": "a", "score": 0.5},
        2: {"id": 2, "name": "bb", "score": 1.5},
        3: {"id": 3, "name": None, "score": -2.0},
        4: {"id": 4, "name": "trail", "score": None},
        5: {"id": 5, "name": None, "score": None},
    }
    wire = {k: encode_message(VALUE_AVRO, r, sid) for k, r in recs.items()}
    batch = [
        ("good", wire[1]),
        ("bad_magic", b"\x01" + wire[1][1:]),
        ("truncated", wire[2][:-3]),  # cut inside the double
        ("wrong_id", frame(sid + 1, wire[3][5:])),
        ("trailing", wire[4] + b"\xde\xad\xbe"),
        ("good_nulls", wire[5]),
    ]
    df = spark.createDataFrame(batch, "tag string, raw binary").coalesce(1)
    de = avro_deserialize_udf(VALUE, VALUE_AVRO, expected_id=sid, permissive=True)
    got = {r.tag: r.v for r in df.select("tag", de("raw").alias("v")).collect()}
    bad = {"bad_magic", "truncated", "wrong_id"}
    assert {t for t, v in got.items() if v._corrupt_record is not None} == bad
    assert "magic" in got["bad_magic"]._corrupt_record
    assert "schema evolved mid-stream" in got["wrong_id"]._corrupt_record
    for tag, k in (("good", 1), ("trailing", 4), ("good_nulls", 5)):
        assert got[tag].asDict() == {**recs[k], "_corrupt_record": None}
    for tag in bad:
        assert (got[tag].name, got[tag].score) == (None, None)

    good = df.where(F.col("tag").isin("good", "trailing", "good_nulls"))
    strict = avro_deserialize_udf(VALUE, VALUE_AVRO, expected_id=sid)
    alone = sorted(r.v.asDict().items() for r in good.select(strict("raw").alias("v")).collect())
    assert alone == sorted(recs[k].items() for k in (1, 4, 5))
    with pytest.raises(Exception) as err:
        df.where(F.col("tag") == "wrong_id").select(strict("raw")).collect()
    assert (
        f"message written with schema id {sid + 1}, reader bound to {sid} — schema "
        "evolved mid-stream; restart the pipeline against the new version"
    ) in str(err.value)
    with pytest.raises(Exception, match="magic"):
        df.select(strict("raw")).collect()
