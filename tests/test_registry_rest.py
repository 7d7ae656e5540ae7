"""Confluent Schema Registry REST protocol — client↔server contract
over real HTTP (stdlib server wrapping the file-backed registry; no
external service). Reference surface: 실습수행/Schema Registry 기반의
Connector 구성 실습.md:136-174 (subjects/versions/ids/config resources,
the 409 on an incompatible register under BACKWARD)."""

from __future__ import annotations

import pytest

from kafkaconnect_spark.functions.avro_wire import (
    CompatibilityError,
    SchemaRegistry,
    decode_message,
    encode_message,
)
from kafkaconnect_spark.functions.registry_rest import (
    RestSchemaRegistryClient,
    registry_for_url,
    serve_registry,
)

V1 = {
    "type": "record", "name": "Cust",
    "fields": [{"name": "id", "type": "long"}],
}
V2_OK = {
    "type": "record", "name": "Cust",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "email", "type": ["null", "string"], "default": None},
    ],
}
V2_BAD = {
    "type": "record", "name": "Cust",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "required_no_default", "type": "string"},
    ],
}


@pytest.fixture()
def rest(tmp_path):
    backing = SchemaRegistry(tmp_path / "registry.json")
    server, url = serve_registry(backing)
    yield RestSchemaRegistryClient(url), backing, url
    server.shutdown()


def test_register_roundtrip_and_idempotency(rest):
    client, backing, _ = rest
    sid = client.register("orders-value", V1)
    assert sid == 1
    # idempotent re-register returns the SAME id (the Confluent
    # contract the engine's restart path depends on)
    assert client.register("orders-value", V1) == sid
    # visible through the backing registry and back through HTTP
    assert backing.get_by_id(sid) == V1
    assert client.get_by_id(sid) == V1
    assert client.subjects() == ["orders-value"]


def test_latest_tracks_versions(rest):
    client, _, _ = rest
    client.register("c-value", V1)
    sid2 = client.register("c-value", V2_OK)
    got_id, got_schema = client.latest("c-value")
    assert (got_id, got_schema) == (sid2, V2_OK)


def test_incompatible_register_is_409_compatibility_error(rest):
    client, _, _ = rest
    client.register("c-value", V1)
    # adding a required field without default under BACKWARD — the
    # reference's own failure probe (실습.md:444-549)
    with pytest.raises(CompatibilityError):
        client.register("c-value", V2_BAD)
    # per-subject NONE override via PUT /config/<subject> lets it pass
    client.set_compatibility("NONE", "c-value")
    assert client.compatibility("c-value") == "NONE"
    assert client.register("c-value", V2_BAD) > 1


def test_unknown_ids_and_subjects_raise_keyerror(rest):
    client, _, _ = rest
    with pytest.raises(KeyError):
        client.get_by_id(999)
    with pytest.raises(KeyError):
        client.latest("nope-value")


def test_invalid_compatibility_mode_rejected(rest):
    client, _, _ = rest
    with pytest.raises(ValueError):
        client.set_compatibility("SIDEWAYS")


def test_wire_format_end_to_end_over_http(rest):
    client, _, _ = rest
    sid = client.register("t-value", V1)
    wire = encode_message(V1, {"id": 7}, sid)
    # decode resolves the writer schema THROUGH the REST client —
    # exactly what a consumer against a real registry does
    assert decode_message(wire, client.get_by_id) == {"id": 7}


def test_registry_for_url_dispatch(tmp_path, rest):
    _, _, url = rest
    assert isinstance(registry_for_url(url), RestSchemaRegistryClient)
    file_reg = registry_for_url(f"file://{tmp_path}/r.json")
    assert isinstance(file_reg, SchemaRegistry)
    assert file_reg.path is not None
    mem = registry_for_url("")
    assert isinstance(mem, SchemaRegistry) and mem.path is None


def test_engine_avro_pipeline_against_http_registry(tmp_path, spark):
    """The full converter path with an http:// registry URL — the
    config shape every reference Avro connector uses
    (mysql_jdbc_om_source_avro.json's schema.registry.url)."""
    backing = SchemaRegistry(tmp_path / "reg.json")
    server, url = serve_registry(backing)
    try:
        import pyspark.sql.types as T

        from kafkaconnect_spark.streaming.engine import Codec, Engine

        (tmp_path / "topics").mkdir(exist_ok=True)
        eng = Engine(
            spark,
            servers=f"file://{tmp_path}/topics",
            checkpoint_root=tmp_path / "ckpt",
        )
        schema = T.StructType([T.StructField("id", T.LongType())])
        ser, de = Codec.of(
            {"value.converter": "io.confluent.connect.avro.AvroConverter",
             "value.converter.schema.registry.url": url},
            eng.transport.is_file,
        ).value_serde(schema, topic="t1")
        # the subject landed in the REAL (http-served) registry, and a
        # row round-trips through the wire-format serde built from it
        assert backing.subjects() == ["t1-value"]
        df = spark.createDataFrame(
            [((5,),)], T.StructType([T.StructField("value", schema)])
        )
        back = (
            df.select(ser("value").alias("raw"))
            .select(de("raw").alias("back"))
            .collect()[0]["back"]
        )
        assert back["id"] == 5
    finally:
        server.shutdown()
