"""One record wire format for every pipeline kind (engine ``Codec``):
the spooldir source honours ``value.converter`` and encodes struct keys
as JSON like the jdbc source, the parquet sink shares the jdbc sink's
poison-pill guard and KIP-298 error policy, and a multi-topic append
keeps every topic's offsets contiguous."""

from __future__ import annotations

import base64
import functools
import json
import sqlite3

import pytest
from pyspark.sql import functions as F

from kafkaconnect_spark.operators.transforms import build_transform_chain
from kafkaconnect_spark.plans.spec import TransformSpec
from kafkaconnect_spark.streaming.engine import Engine

CSV = "id,name,email\n1,alpha,a@x.com\n2,beta,b@x.com\n3,gamma,c@x.com\n"
ROWS = [(1, "alpha", "a@x.com"), (2, "beta", "b@x.com"), (3, "gamma", "c@x.com")]
KEY_SMT = {
    "transforms": "create_key",
    "transforms.create_key.type": "org.apache.kafka.connect.transforms.ValueToKey",
    "transforms.create_key.fields": "id",
}


def _engine(spark, tmp_path, db=None, tables=None):
    url = "jdbc:sqlite:" + str(db) if db else None
    return Engine(
        spark,
        servers=f"file://{tmp_path}/topics",
        checkpoint_root=tmp_path / "ckpt",
        table_resolver=(lambda t: tables[t]) if tables else None,
        connection_factories={url: functools.partial(sqlite3.connect, str(db))} if db else {},
    ), url


def _spooldir(tmp_path, extra):
    spool = tmp_path / "spool"
    (spool / "finished").mkdir(parents=True)
    (spool / "batch1.csv").write_text(CSV)
    cfg = {
        "connector.class": "com.github.jcustenborder.kafka.connect.spooldir.SpoolDirCsvSourceConnector",
        "topic": "csv_topic",
        "input.path": str(spool),
        "input.file.pattern": "^.*\\.csv$",
        "finished.path": str(spool / "finished"),
        "csv.first.row.as.header": "true",
        "schema.generation.enabled": "true",
    }
    cfg.update(extra)
    return {"name": "csv_source", "config": cfg}


def _jdbc_sink(url, topic, table, extra=None):
    cfg = {
        "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
        "topics": topic,
        "connection.url": url,
        "insert.mode": "upsert",
        "pk.mode": "record_key",
        "pk.fields": "id",
        "table.name.format": table,
    }
    cfg.update(extra or {})
    return {"name": f"{table}_sink", "config": cfg}


def _sink_rows(db, table):
    with sqlite3.connect(db) as c:
        return sorted(c.execute(f"SELECT id, name, email FROM {table}").fetchall())


def test_spooldir_avro_converter_round_trips_through_avro_sink(spark, tmp_path):
    db = tmp_path / "sink.db"
    eng, url = _engine(spark, tmp_path, db)
    avro = {
        "value.converter": "io.confluent.connect.avro.AvroConverter",
        "value.converter.schema.registry.url": f"file://{tmp_path}/registry.json",
    }
    eng.register(_spooldir(tmp_path, avro))
    eng.run_once("csv_source")

    values = [r.value for r in eng.transport.read_batch(["csv_topic"]).collect()]
    assert len(values) == 3
    # Confluent framing: magic byte 0 + 4-byte schema id, base64 on the
    # file transport — not a JSON document
    assert all(base64.b64decode(v)[:1] == b"\x00" for v in values)
    assert not any(v.startswith("{") for v in values)

    # the sink resolves the schema from the registry and keys by id
    key_smts = {
        **KEY_SMT,
        "transforms": "create_key, extract_key",
        "transforms.extract_key.type": "org.apache.kafka.connect.transforms.ExtractField$Key",
        "transforms.extract_key.field": "id",
    }
    eng.register(_jdbc_sink(url, "csv_topic", "avro_sink", {**avro, **key_smts}))
    eng.run_once("avro_sink_sink")
    assert _sink_rows(db, "avro_sink") == ROWS


def test_spooldir_struct_key_is_the_jdbc_source_json(spark, tmp_path):
    db = tmp_path / "sink.db"
    rows = spark.createDataFrame(ROWS, "id int, name string, email string")
    eng, url = _engine(spark, tmp_path, db, tables={"customers": rows})
    eng.register(_spooldir(tmp_path, KEY_SMT))
    eng.register(
        {
            "name": "jdbc_source",
            "config": {
                "connector.class": "io.confluent.connect.jdbc.JdbcSourceConnector",
                "connection.url": "jdbc:mysql://fake:3306/om",
                "topic.prefix": "jdbc_",
                "table.whitelist": "customers",
                "mode": "incrementing",
                "incrementing.column.name": "id",
                **KEY_SMT,
            },
        }
    )
    eng.run_once()

    def keys(topic):
        return sorted(r.key for r in eng.transport.read_batch([topic]).collect())

    spool_keys = keys("csv_topic")
    assert spool_keys == keys("jdbc_customers")
    assert [json.loads(k)["payload"] for k in spool_keys] == [{"id": i} for i in (1, 2, 3)]

    # a sink keyed by the record key alone (no key SMT) upserts every row
    eng.register(_jdbc_sink(url, "csv_topic", "keyed"))
    eng.run_once("keyed_sink")
    assert _sink_rows(db, "keyed") == ROWS


def _lake_sink(tmp_path, name, extra=None):
    cfg = {
        "connector.class": "kafkaconnect_spark.ParquetLakeSinkConnector",
        "topics": "lake_topic",
        "path": str(tmp_path / "lake"),
        "pk.mode": "record_key",
        "pk.fields": "id",
        "partition.field": "day",
        "order.field": "id",
        "value.schema.ddl": "id int, name string, day string",
        "value.converter.schemas.enable": "true",
    }
    cfg.update(extra or {})
    return {"name": name, "config": cfg}


def test_parquet_sink_poison_pill_follows_error_tolerance(spark, tmp_path):
    eng, _ = _engine(spark, tmp_path)
    good = '{"schema":{},"payload":{"id":%d,"name":"n%d","day":"d1"}}'
    # a bare record under schemas.enable=true parses to NULL: poison,
    # not a tombstone
    poison = '{"id":3,"name":"n3","day":"d1"}'
    wire = [("1", good % (1, 1)), ("2", good % (2, 2)), ("3", poison)]
    eng.transport.append(
        spark.createDataFrame(wire, "key string, value string").withColumn(
            "topic", F.lit("lake_topic")
        )
    )

    eng.register(_lake_sink(tmp_path, "strict"))
    with pytest.raises(Exception, match="malformed value record") as err:
        eng.run_once("strict")
    assert "cannot apply null-value tombstones" not in str(err.value)

    eng.register(
        _lake_sink(
            tmp_path,
            "tolerant",
            {"errors.tolerance": "all", "errors.deadletterqueue.topic.name": "lake_dlq"},
        )
    )
    eng.run_once("tolerant")
    got = {(r.id, r.name) for r in spark.read.parquet(str(tmp_path / "lake")).collect()}
    assert got == {(1, "n1"), (2, "n2")}
    dlq = eng.transport.read_batch(["lake_dlq"]).collect()
    assert [(r.key, r.value) for r in dlq] == [("3", poison)]


def test_multi_topic_append_counts_and_contiguous_offsets(spark, tmp_path):
    eng, _ = _engine(spark, tmp_path)
    transport = eng.transport
    # earlier appends leave the two output topics at different offsets
    schema = "key string, value string, topic string"
    transport.append(spark.createDataFrame([("k", "v", "a_out")] * 3, schema))
    transport.append(spark.createDataFrame([("k", "v", "b_out")] * 5, schema))

    def next_offset(topic):
        return json.loads((tmp_path / "topics" / topic / "meta.json").read_text())["next_offset"]

    before = {t: next_offset(t) for t in ("a_out", "b_out")}
    assert before == {"a_out": 3, "b_out": 5}

    route = build_transform_chain(
        [
            TransformSpec(
                "route",
                "org.apache.kafka.connect.transforms.RegexRouter",
                {"regex": "(.*)_in", "replacement": "$1_out"},
            )
        ]
    )
    batch = spark.createDataFrame(
        [(str(i), f"v{i}", "a_in" if i % 3 else "b_in") for i in range(12)],
        schema,
    )
    per_topic = {"a_out": 8, "b_out": 4}
    assert transport.append(route(batch)) == 12

    log = transport.read_batch(["a_out", "b_out"]).where(F.col("key") != "k").collect()
    assert sorted(int(r.key) for r in log) == list(range(12))
    for topic, n in per_topic.items():
        offsets = sorted(r.offset for r in log if r.topic == topic)
        assert offsets == list(range(before[topic], before[topic] + n))
        assert next_offset(topic) == before[topic] + n
