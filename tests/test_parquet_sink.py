"""parquet-sink: a null-value (key-only) tombstone carries no partition
value, so the sink fails the batch and leaves the lake as it was."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafkaconnect_spark.streaming.engine import Engine

RECORD = '{"schema":{},"payload":{"id":%d,"name":"%s","day":"%s"}}'


def test_null_value_tombstone_fails_the_batch_and_keeps_the_lake(spark, tmp_path):
    eng = Engine(spark, servers=f"file://{tmp_path}/topics", checkpoint_root=tmp_path / "ckpt")
    lake = tmp_path / "lake"

    def produce(records):
        eng.transport.append(
            spark.createDataFrame(records, "key string, value string").withColumn(
                "topic", F.lit("lake_topic")
            )
        )

    def snapshot():
        files = {p: p.read_bytes() for p in lake.rglob("*") if p.is_file()}
        rows = sorted(tuple(r) for r in spark.read.parquet(str(lake)).collect())
        return files, rows

    produce([("1", RECORD % (1, "a", "d1")), ("2", RECORD % (2, "b", "d2"))])
    eng.register(
        {
            "name": "lake_sink",
            "config": {
                "connector.class": "kafkaconnect_spark.ParquetLakeSinkConnector",
                "topics": "lake_topic",
                "path": str(lake),
                "pk.mode": "record_key",
                "pk.fields": "id",
                "partition.field": "day",
                "order.field": "id",
                "value.schema.ddl": "id int, name string, day string",
                "value.converter.schemas.enable": "true",
            },
        }
    )
    eng.run_once("lake_sink")
    before = snapshot()
    assert before[1] == [(1, "a", "d1"), (2, "b", "d2")]

    produce([("2", RECORD % (2, "b2", "d2")), ("1", None), ("3", RECORD % (3, "c", "d3"))])
    with pytest.raises(Exception, match="cannot apply null-value tombstones"):
        eng.run_once("lake_sink")
    assert snapshot() == before
