"""Engine — the Connect-worker analogue: registry + lifecycle + compile.

Maps the reference's REST surface (SURVEY §2.6 O4) onto Spark:

- register  (scripts/register_connector:1)   → compile spec, start
- show      (scripts/show_connectors:1)      → list names / status
- delete    (scripts/delete_connector:1)     → stop + forget
- pause / resume (실습수행/JDBC Sink Connector 실습.md:338-343)
  → stop keeping checkpoint / restart from checkpoint
- restart   (…실습 - 03.md:268)              → stop + start
- reset-offsets (실습수행/특정 Connector의 connect-offsets 리셋하기.md)
  → delete source offsets / checkpoint (O2)

Pipelines compile to:
- jdbc-source      → driver-paced poll loop (IncrementalPoller) → SMT
                     chain → the configured converter → topic append.
                     One logical source fans out to one pipeline per
                     whitelisted table (S5), all sharing the offset
                     store.
- spooldir-source  → file-streaming query → records → SMT chain → the
                     configured converter → topic append.
- jdbc-sink        → topic stream → deserialize → SMT chain →
                     foreachBatch JdbcSinkWriter (upsert/delete).
- parquet-sink     → topic stream → deserialize → SMT chain → per-batch
                     partitioned MERGE into a parquet lake.
- cdc-source       → Debezium-format topic ingest: envelope parse +
                     optional unwrap; the engine treats Debezium
                     topics as the CDC interface (SURVEY §2.1 S7/S8 —
                     Spark cannot tail a binlog; snapshot.mode maps to
                     startingOffsets earliest/latest).

Every source publishes through ``Engine._publish`` and both stream
sinks decode through ``Engine._decode``; the record wire format itself
(converter, base64 on the file transport, tombstone guards, key
encoding) lives in one place, ``Codec``.

``run_once()`` executes one synchronous cycle for every registered
pipeline (tests, cron-style schedulers); ``start()`` runs continuous
micro-batches (ProcessingTime = poll.interval.ms).

Single-writer-per-source-table rule (…실습 - 01.md:638-640): the
registry refuses two active source pipelines claiming the same
(connection, table).
"""

from __future__ import annotations

import json
import re
import shutil
import threading
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkaconnect_spark.dialects import dialect_for_url
from kafkaconnect_spark.functions.serde import json_deserialize, json_serialize
from kafkaconnect_spark.operators.transforms import build_transform_chain
from kafkaconnect_spark.operators.upsert import JdbcSinkWriter
from kafkaconnect_spark.plans.spec import PipelineSpec, SpecError, _as_bool
from kafkaconnect_spark.sources.jdbc_poller import IncrementalPoller, OffsetStore
from kafkaconnect_spark.sources.spooldir import (
    generate_schema,
    read_spooldir_stream,
    split_errors,
)
from kafkaconnect_spark.sources.topics import TopicTransport

TableResolver = Callable[[str], DataFrame]
"""Given a table name, return its DataFrame (parquet dir, JDBC read,
catalog table — deployment-specific)."""


@dataclass
class Pipeline:
    spec: PipelineSpec
    state: str = "RUNNING"  # RUNNING | PAUSED | FAILED
    run_one: Callable[[], int] | None = None  # one micro-cycle; returns rows moved
    streaming_query: Any = None
    error: str | None = None
    extras: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class Codec:
    """One pipeline's record wire format: Connect's ``value.converter``
    (C1/C2 JsonConverter with or without the schema block, C3
    AvroConverter + Schema Registry), applied the same way by every
    pipeline kind.

    Avro values are framed Confluent wire bytes (functions/avro_wire.py);
    on the file transport they are base64-wrapped because its topic log
    stores strings (a real Kafka write carries the bytes natively).
    Keys: a struct key goes out as JSON (schema block per
    ``schemas_enable``), a scalar key as a string, a missing key as null.
    """

    registry_url: str | None  # None: JsonConverter
    schemas_enable: bool
    base64: bool

    @classmethod
    def of(cls, cfg: dict, file_transport: bool) -> Codec:
        """The spec's converter — the one reader of ``value.converter*``."""
        conv = str(cfg.get("value.converter", "JsonConverter")).rsplit(".", 1)[-1]
        return cls(
            # http(s):// → Confluent REST protocol, file:// → file-backed,
            # empty → in-memory (registry_rest.registry_for_url)
            registry_url=str(cfg.get("value.converter.schema.registry.url", ""))
            if conv == "AvroConverter"
            else None,
            # default true, like Connect's JsonConverter
            schemas_enable=str(cfg.get("value.converter.schemas.enable", "true")).lower()
            == "true",
            base64=file_transport,
        )

    def value_serde(self, schema: T.StructType, topic: str, permissive: bool = False):
        """(serialize, deserialize): column name → Column, for values of
        ``schema``. Avro registers ``schema`` under ``<topic>-value``.
        ``permissive`` decodes bad bytes into a ``_corrupt_record``
        field instead of failing (errors.tolerance=all)."""
        if self.registry_url is None:
            return (
                lambda col: json_serialize(col, schema, schemas_enable=self.schemas_enable),
                lambda col: json_deserialize(
                    col, schema, schemas_enable=self.schemas_enable, permissive=permissive
                ),
            )
        from kafkaconnect_spark.functions.avro_wire import (
            avro_deserialize_udf,
            avro_schema_for,
            avro_serialize_udf,
        )
        from kafkaconnect_spark.functions.registry_rest import registry_for_url

        avro = avro_schema_for(schema, "ConnectDefault")
        sid = registry_for_url(self.registry_url).register(f"{topic}-value", avro)
        ser_udf = avro_serialize_udf(avro, sid)
        de_udf = avro_deserialize_udf(schema, avro, expected_id=sid, permissive=permissive)
        de_type = (
            T.StructType(schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)])
            if permissive
            else schema
        )
        wrap, unwrap = (F.base64, F.unbase64) if self.base64 else (lambda c: c, lambda c: c)

        # tombstones are guarded on BOTH sides of the UDF boundary: a
        # null value must go out as null wire bytes (never as a record
        # of nulls, which would destroy the delete), and null wire bytes
        # must come back as a null STRUCT (the writer splits on value IS
        # NULL — K2); the guards hold that here, whatever the UDF does.
        def serialize(col: str) -> Column:
            c = F.col(col)
            return wrap(F.when(c.isNull(), F.lit(None).cast("binary")).otherwise(ser_udf(c)))

        def deserialize(col: str) -> Column:
            raw = unwrap(F.col(col))
            return F.when(raw.isNull(), F.lit(None).cast(de_type)).otherwise(de_udf(raw))

        return serialize, deserialize

    def registered_schema(self, topic: str) -> T.StructType:
        """The latest ``<topic>-value`` schema in the registry (Avro)."""
        from kafkaconnect_spark.functions.avro_wire import spark_schema_for
        from kafkaconnect_spark.functions.registry_rest import registry_for_url

        return spark_schema_for(registry_for_url(self.registry_url).latest(f"{topic}-value")[1])

    def key(self, records: DataFrame) -> Column:
        """The wire key of ``records``."""
        if "key" not in records.columns:
            return F.lit(None).cast("string")
        key_type = records.schema["key"].dataType
        if isinstance(key_type, T.StructType):
            return json_serialize("key", key_type, schemas_enable=self.schemas_enable)
        return F.col("key").cast("string")

    def key_struct(self, pk: list[str], value_schema: T.StructType) -> Column:
        """A wire key as the struct of the ``pk`` fields, typed like the
        value's: a JSON struct key, or (one pk field) a scalar key such
        as ExtractField$Key leaves."""
        key_schema = T.StructType([T.StructField(c, T.StringType(), True) for c in pk])
        parsed = json_deserialize("key", key_schema, schemas_enable=self.schemas_enable)
        cols = {c: parsed[c] for c in pk}
        if len(pk) == 1:
            cols[pk[0]] = F.when(F.col("key").startswith("{"), parsed[pk[0]]).otherwise(
                F.col("key")
            )
        return F.struct(*[col.cast(value_schema[c].dataType).alias(c) for c, col in cols.items()])


class _SinkInput(NamedTuple):
    """What a stream sink decodes its micro-batches with."""

    codec: Codec
    schema: T.StructType
    deserialize: Callable[[str], Column]
    tolerate: bool  # errors.tolerance=all
    dlq: str | None


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        servers: str,
        checkpoint_root: str | Path,
        table_resolver: TableResolver | None = None,
        connection_factories: dict[str, Callable[[], Any]] | None = None,
        table_lister: Callable[[], list[str]] | None = None,
    ):
        self.spark = spark
        self.transport = TopicTransport(spark, servers)
        self.checkpoint_root = Path(checkpoint_root)
        self.table_resolver = table_resolver
        self.table_lister = table_lister
        self.connection_factories = connection_factories or {}
        self.pipelines: dict[str, Pipeline] = {}
        self._claimed_tables: dict[tuple[str, str], str] = {}
        self._threads: dict[str, threading.Thread] = {}
        self._stop_flags: dict[str, threading.Event] = {}
        # per-micro-batch StreamingQueryProgress durations, appended by
        # every _drain_stream call — the operator-facing latency record
        # (bench.py folds it into p50/p95 batch latency per round)
        self.progress_log: list[dict] = []

    def _drain_stream(self, name: str, stream, process, ckpt: str) -> int:
        """One availableNow drain of a foreachBatch pipeline, recording
        each micro-batch's StreamingQueryProgress durations (batch_id,
        input rows, triggerExecution/addBatch ms) in progress_log so
        batch-latency percentiles are measurable, not narrated."""
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for pr in q.recentProgress:
            dur = pr.get("durationMs") or {}
            self.progress_log.append(
                {
                    "pipeline": name,
                    "batch_id": pr.get("batchId"),
                    "num_input_rows": pr.get("numInputRows"),
                    "trigger_ms": dur.get("triggerExecution"),
                    "add_batch_ms": dur.get("addBatch"),
                }
            )
        return -1  # streaming sources don't expose a row count cheaply

    # ------------------------------------------------------------------
    # lifecycle verbs (O4)
    # ------------------------------------------------------------------
    def register(self, spec: PipelineSpec | dict | str | Path) -> Pipeline:
        if not isinstance(spec, PipelineSpec):
            spec = PipelineSpec.from_json(spec)
        if spec.name in self.pipelines:
            raise SpecError(f"pipeline {spec.name!r} already registered")
        claims: list[tuple[str, str]] = []
        if spec.kind == "jdbc-source":
            conn_url = str(spec.config.get("connection.url", ""))
            # snapshot the table list ONCE — with a catalog lister it
            # can drift between calls, leaking claims
            tables = self._effective_tables(spec)
            for table in tables:
                owner = self._claimed_tables.get((conn_url, table))
                if owner:
                    raise SpecError(
                        f"table {table!r} already sourced by pipeline {owner!r} "
                        "(single-writer-per-table rule)"
                    )
            claims = [(conn_url, t) for t in tables]
        # compile BEFORE recording claims: a failed compile must not
        # leave orphaned claims no delete() can ever release
        pipeline = self._compile(spec)
        for claim in claims:
            self._claimed_tables[claim] = spec.name
        pipeline.extras["claimed_tables"] = claims
        self.pipelines[spec.name] = pipeline
        return pipeline

    def show(self) -> dict[str, str]:
        return {name: p.state for name, p in self.pipelines.items()}

    def status(self, name: str) -> dict[str, Any]:
        p = self.pipelines[name]
        return {"name": name, "state": p.state, "kind": p.spec.kind, "error": p.error}

    def pause(self, name: str) -> None:
        """Stop processing, keep checkpoint/offsets — resume continues
        where it left off (JDBC Sink Connector 실습.md:338-343)."""
        p = self.pipelines[name]
        self._stop_continuous(name)
        if p.streaming_query is not None:
            p.streaming_query.stop()
            p.streaming_query = None
        p.state = "PAUSED"

    def resume(self, name: str) -> None:
        p = self.pipelines[name]
        if p.state != "PAUSED":
            return
        fresh = self._compile(p.spec)
        # carry the register-time claims across the recompile — delete()
        # releases exactly these, and a fresh Pipeline would lose them
        fresh.extras["claimed_tables"] = p.extras.get("claimed_tables", [])
        fresh.state = "RUNNING"
        self.pipelines[name] = fresh

    def restart(self, name: str) -> None:
        self.pause(name)
        self.resume(name)

    def delete(self, name: str) -> None:
        p = self.pipelines.pop(name)
        self._stop_continuous(name)
        if p.streaming_query is not None:
            p.streaming_query.stop()
        for claim in p.extras.get("claimed_tables", []):
            # the claims recorded at register time, not a fresh catalog
            # scan — the catalog can have drifted since
            self._claimed_tables.pop(claim, None)

    def reset_offsets(self, name: str, table: str | None = None) -> None:
        """O2: offset reset — next run re-reads from the beginning
        (특정 Connector의 connect-offsets 리셋하기.md:23-27). Source
        pipelines drop their poller offsets; stream pipelines drop the
        checkpoint."""
        p = self.pipelines[name]
        if p.state == "RUNNING" and (p.streaming_query or name in self._threads):
            raise RuntimeError("pause the pipeline before resetting offsets")
        store = p.extras.get("offset_store")
        if store is not None:
            # poller pipelines: the OffsetStore IS the resume state and
            # lives under the checkpoint dir — a blanket rmtree here
            # would wipe EVERY table (defeating --table surgical reset)
            # and delete the store's own directory out from under it
            store.reset(table)
            return
        ckpt = self.checkpoint_root / name
        if ckpt.exists():
            shutil.rmtree(ckpt, ignore_errors=True)

    # ------------------------------------------------------------------
    # execution
    # ------------------------------------------------------------------
    def run_once(self, name: str | None = None) -> dict[str, int]:
        """One synchronous micro-cycle per (running) pipeline; returns
        rows moved per pipeline. Sources run before sinks so a cycle
        moves data end-to-end."""
        moved: dict[str, int] = {}
        items = (
            [(name, self.pipelines[name])]
            if name
            else sorted(
                self.pipelines.items(),
                key=lambda kv: 0 if kv[1].spec.kind.endswith("source") else 1,
            )
        )
        for pname, p in items:
            if p.state != "RUNNING" or p.run_one is None:
                continue
            try:
                moved[pname] = p.run_one()
            except Exception as e:  # surface like a failed Connect task
                p.state = "FAILED"
                p.error = f"{type(e).__name__}: {e}"
                raise
        return moved

    def start(self, name: str) -> None:
        """Continuous mode: poll.interval.ms-paced loop in a daemon
        thread (sources) — stream pipelines are continuous already via
        their StreamingQuery."""
        p = self.pipelines[name]
        if p.run_one is None or name in self._threads:
            return
        if p.state in ("PAUSED", "FAILED"):
            # starting a paused pipeline would violate the operator's
            # pause; a failed one needs an explicit restart/resume
            return
        stop = threading.Event()
        interval = p.spec.poll_interval_ms / 1000.0

        def loop() -> None:
            while not stop.is_set():
                try:
                    p.run_one()
                except Exception as e:
                    p.state = "FAILED"
                    p.error = f"{type(e).__name__}: {e}"
                    return
                stop.wait(interval)

        t = threading.Thread(target=loop, daemon=True, name=f"pipeline-{name}")
        self._stop_flags[name] = stop
        self._threads[name] = t
        t.start()

    def stop(self, name: str) -> None:
        """Stop background execution WITHOUT touching lifecycle state —
        the CLI's bounded `run` verb uses this so a pipeline that
        FAILED during the window stays FAILED with its error visible
        (pause+resume would overwrite the state and recompile the
        error away), and a PAUSED one stays PAUSED."""
        p = self.pipelines[name]
        self._stop_continuous(name)
        if p.streaming_query is not None:
            p.streaming_query.stop()
            p.streaming_query = None

    def _stop_continuous(self, name: str) -> None:
        if name in self._threads:
            self._stop_flags[name].set()
            self._threads[name].join(timeout=30)
            del self._threads[name]
            del self._stop_flags[name]

    def _effective_tables(self, spec: PipelineSpec) -> list[str]:
        """S5 table selection: whitelist wins; else catalog scan via
        table_lister minus table.blacklist (connector_configs/
        mysql_jdbc_om_source_mt.json:12-13)."""
        if spec.tables:
            return spec.tables
        if spec.kind == "jdbc-source" and self.table_lister is not None:
            bl = set(spec.blacklist)
            return [t for t in self.table_lister() if t not in bl]
        return []

    # ------------------------------------------------------------------
    # records on the wire: publish (sources) and decode (sinks)
    # ------------------------------------------------------------------
    def _publish(self, records: DataFrame, codec: Codec, subject_topic: str) -> int:
        """Serialize a source's post-chain records (``value`` struct,
        optional ``key``, ``topic``) with the pipeline's codec and append
        them to their topics; returns the number appended. The value
        serde resolves AFTER the SMT chain: transforms reshape the value
        struct, and a pre-chain schema would put a stale schema block
        (or Avro writer schema) on the wire. Avro registers the schema
        under ``<subject_topic>-value``."""
        serialize, _ = codec.value_serde(records.schema["value"].dataType, subject_topic)
        return self.transport.append(
            records.select(
                codec.key(records).alias("key"), serialize("value").alias("value"), "topic"
            )
        )

    def _sink_input(self, spec: PipelineSpec, topics: list[str]) -> _SinkInput:
        """A stream sink's decode, compiled once: KIP-298 error policy
        (errors.tolerance=none, the default, fails the task on a
        malformed record; =all skips it, optionally routing the raw
        record to errors.deadletterqueue.topic.name), then the value
        schema: explicit DDL > Schema Registry (Avro) > sample the
        topic's current JSON records.

        A sampled schema is CACHED in the spec (same pattern as the
        spooldir `__inferred.schema`): the CLI registry persists the
        spec, so rehydration doesn't re-run Spark sampling jobs per
        invocation, doesn't brick every verb once the sampled topic is
        later empty, and a resume can't silently re-sample a different
        schema against the existing checkpoint."""
        cfg = spec.config
        tolerance = str(cfg.get("errors.tolerance", "none")).lower()
        if tolerance not in ("none", "all"):
            raise SpecError(f"errors.tolerance must be 'none' or 'all', got {tolerance!r}")
        dlq = cfg.get("errors.deadletterqueue.topic.name")
        if dlq is not None and tolerance != "all":
            raise SpecError(
                "errors.deadletterqueue.topic.name requires "
                "errors.tolerance=all (a tolerance-none task fails the "
                "batch before anything could reach the DLQ)"
            )
        codec = Codec.of(cfg, self.transport.is_file)
        if cfg.get("__resolved.value.schema"):
            schema = T.StructType.fromJson(json.loads(str(cfg["__resolved.value.schema"])))
        elif cfg.get("value.schema.ddl"):
            schema = T._parse_datatype_string(str(cfg["value.schema.ddl"]))
        elif codec.registry_url is not None:
            schema = codec.registered_schema(topics[0])
        else:
            sample = self.transport.read_batch(topics).where(F.col("value").isNotNull())
            rows = sample.select("value").limit(1).collect()
            if not rows:
                raise SpecError(
                    f"cannot resolve value schema for topics {topics}: topic empty "
                    "and no value.schema.ddl given"
                )
            payload = json.loads(rows[0][0])
            payload = payload.get("payload", payload) if codec.schemas_enable else payload
            ddl = self.spark.range(1).select(F.schema_of_json(F.lit(json.dumps(payload))))
            schema = T._parse_datatype_string(ddl.collect()[0][0])
            cfg["__resolved.value.schema"] = json.dumps(schema.jsonValue())
        _, deserialize = codec.value_serde(schema, topics[0], permissive=tolerance == "all")
        return _SinkInput(codec, schema, deserialize, tolerance == "all", dlq)

    def _decode(self, batch_df: DataFrame, name: str, sink: _SinkInput) -> DataFrame:
        """A stream sink's micro-batch with its value bytes decoded.

        Poison-pill guard: a parse can yield NULL for malformed input
        (a bare record under schemas.enable=true, an empty string), and
        NULL value == tombstone == DELETE downstream — a corrupt record
        must not silently delete live data. Only a null WIRE value is a
        genuine tombstone."""
        parsed = sink.deserialize("value")
        if not sink.tolerate:
            parse_err = (
                f"pipeline {name!r}: malformed value record (parse "
                "returned NULL for non-null bytes) — not a tombstone; "
                "check the converter config, or set errors.tolerance=all "
                "(+ errors.deadletterqueue.topic.name) to skip/route it"
            )
            return batch_df.withColumn(
                "value",
                F.when(F.col("value").isNull(), parsed).otherwise(
                    F.coalesce(parsed, F.raise_error(F.lit(parse_err)).cast(sink.schema))
                ),
            )
        # permissive serde: parsed carries a _corrupt_record channel —
        # non-null there ⇔ poison bytes (a null wire value stays a
        # genuine tombstone: parsed is NULL and the flag coalesces to
        # false)
        malformed = F.coalesce(parsed["_corrupt_record"].isNotNull(), F.lit(False))
        if sink.dlq is not None:
            self.transport.append(
                batch_df.where(malformed).select(
                    F.col("key").cast("string").alias("key"),
                    F.col("value").cast("string").alias("value"),
                    F.lit(str(sink.dlq)).alias("topic"),
                )
            )
        clean = F.when(
            F.col("value").isNull() | parsed.isNull(), F.lit(None).cast(sink.schema)
        ).otherwise(F.struct(*[parsed[f.name].alias(f.name) for f in sink.schema.fields]))
        return batch_df.where(~malformed).withColumn("value", clean)

    def _streamed(self, spec: PipelineSpec, stream: DataFrame, process, **extras) -> Pipeline:
        """A foreachBatch pipeline: each cycle is one _drain_stream."""
        ckpt = str(self.checkpoint_root / spec.name)
        return Pipeline(
            spec=spec,
            run_one=lambda: self._drain_stream(spec.name, stream, process, ckpt),
            extras=extras,
        )

    # ------------------------------------------------------------------
    # compilation: spec -> pipeline
    # ------------------------------------------------------------------
    def _compile(self, spec: PipelineSpec) -> Pipeline:
        if spec.kind == "jdbc-source":
            return self._compile_jdbc_source(spec)
        if spec.kind == "spooldir-source":
            return self._compile_spooldir(spec)
        if spec.kind == "jdbc-sink":
            return self._compile_jdbc_sink(spec)
        if spec.kind == "parquet-sink":
            return self._compile_parquet_sink(spec)
        if spec.kind == "cdc-source":
            return self._compile_cdc_ingest(spec)
        raise SpecError(f"cannot compile kind {spec.kind!r}")

    def _compile_jdbc_source(self, spec: PipelineSpec) -> Pipeline:
        if self.table_resolver is None:
            raise SpecError("engine needs a table_resolver for jdbc-source pipelines")
        cfg = spec.config
        mode = str(cfg["mode"])
        poller = IncrementalPoller(
            self.spark,
            mode,
            inc_col=cfg.get("incrementing.column.name"),
            ts_col=cfg.get("timestamp.column.name"),
            batch_max_rows=int(cfg["batch.max.rows"]) if cfg.get("batch.max.rows") else None,
            ts_delay_ms=int(cfg.get("timestamp.delay.interval.ms", 0) or 0),
        )
        store = OffsetStore(self.checkpoint_root, spec.name)
        chain = build_transform_chain(spec.transforms)
        codec = Codec.of(cfg, self.transport.is_file)
        tables = self._effective_tables(spec)
        if not tables:
            raise SpecError(
                "jdbc-source needs table.whitelist, or table.blacklist/"
                "catalog scan with a table_lister on the engine"
            )
        # O5: topic auto-creation with configured partitions/replication
        # (connector_configs/mysql_jdbc_om_source.json:10-11)
        n_parts = int(cfg.get("topic.creation.default.partitions", 1))
        repl = int(cfg.get("topic.creation.default.replication.factor", 1))
        for table in tables:
            self.transport.create_topic(spec.topic_for_table(table), n_parts, repl)

        def run_one() -> int:
            total = 0
            for table in tables:
                topic = spec.topic_for_table(table)
                batch, new_offset = poller.poll(self.table_resolver(table), store.get(table))
                total += self._publish(chain(_records(batch, topic)), codec, topic)
                # commit offset only after the append succeeded
                # (at-least-once, like connect-offsets commit post-produce)
                store.put(table, new_offset)
                batch.unpersist()  # poll() pinned it for offset/append consistency
            return total

        return Pipeline(spec=spec, run_one=run_one, extras={"offset_store": store})

    def _compile_spooldir(self, spec: PipelineSpec) -> Pipeline:
        cfg = spec.config
        topic = str(cfg["topic"])
        input_path = str(cfg["input.path"])
        # Connect's file pattern is a regex (^.*\.csv$); Spark's
        # file source wants a glob — translate the common suffix form,
        # accept an explicit glob, and reject anything else loudly
        # (silently ingesting *.csv when the spec says .txt reads the
        # WRONG files).
        raw = str(cfg.get("input.file.pattern", "^.*\\.csv$"))
        m = re.fullmatch(r"\^?\.\*\\\.(\w+)\$?", raw)
        if m:
            pattern = f"*.{m.group(1)}"
        elif re.fullmatch(r"\*\.\w+", raw):
            pattern = raw
        else:
            raise SpecError(
                f"unsupported input.file.pattern {raw!r} — use the "
                "suffix regex form (^.*\\.ext$) or a glob (*.ext)"
            )
        # schema is inferred ONCE (first successful registration) and
        # cached in the spec, which the CLI registry persists: without
        # the cache, rehydration re-infers on every CLI invocation and
        # CRASHES once cleanSource=archive has moved the spool files —
        # bricking even `show`/`delete` — and a resume could silently
        # re-infer a different schema against the existing checkpoint.
        cached = cfg.get("__inferred.schema")
        if cached:
            schema = T.StructType.fromJson(json.loads(str(cached)))
        else:
            schema = generate_schema(self.spark, input_path, pattern)
            cfg["__inferred.schema"] = json.dumps(schema.jsonValue())
        chain = build_transform_chain(spec.transforms)
        codec = Codec.of(cfg, self.transport.is_file)
        error_path = cfg.get("error.path")
        # KIP-298 parity on the source side: corrupt CSV lines can also
        # route to a dead-letter TOPIC (same config key as the sink),
        # in addition to the SpoolDir-style error.path directory
        src_dlq = cfg.get("errors.deadletterqueue.topic.name")

        stream = read_spooldir_stream(
            self.spark,
            input_path,
            schema,
            finished_path=str(cfg["finished.path"]) if cfg.get("finished.path") else None,
            pattern=pattern,
            halt_on_error=str(cfg.get("halt.on.error", "false")).lower() == "true",
        )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            good, bad = split_errors(batch_df)
            if error_path is not None:
                bad.write.mode("append").text(str(error_path).rstrip("/") + "/corrupt")
            if src_dlq is not None:
                self.transport.append(
                    bad.select(
                        F.lit(None).cast("string").alias("key"),
                        F.col(bad.columns[0]).cast("string").alias("value"),
                        F.lit(str(src_dlq)).alias("topic"),
                    )
                )
            self._publish(chain(_records(good, topic)), codec, topic)

        return self._streamed(spec, stream, process, schema=schema)

    def _compile_jdbc_sink(self, spec: PipelineSpec) -> Pipeline:
        cfg = spec.config
        if "topics" not in cfg:
            raise SpecError(
                "jdbc-sink: topics.regex is not supported by this engine — "
                "list the topics explicitly via `topics`"
            )
        topics = _topic_list(cfg["topics"])
        if len(topics) > 1:
            # ${topic} routing is resolved per PIPELINE, not per record:
            # a multi-topic sink would funnel every topic into one table
            # with one schema — register one sink per topic instead
            # (the reference does exactly that: one sink config per
            # table, connector_configs/mysql_jdbc_sink_*.json)
            raise SpecError(
                "jdbc-sink: one topic per sink pipeline — register "
                f"{len(topics)} sinks for {topics}"
            )
        url = str(cfg.get("connection.url", ""))
        dialect = dialect_for_url(url)
        factory = self.connection_factories.get(url)
        if factory is None:
            raise SpecError(
                f"no connection factory registered for {url!r} "
                "(pass connection_factories={url: callable} to Engine)"
            )
        table = str(cfg.get("table.name.format", "${topic}")).replace(
            "${topic}", topics[0]
        )
        chain = build_transform_chain(spec.transforms)
        # Schema resolution at registration (SURVEY §1.3)
        sink = self._sink_input(spec, topics)
        pk = spec.pk_fields
        writer = JdbcSinkWriter(
            table=table,
            pk=pk,
            dialect=dialect,
            connection_factory=factory,
            delete_enabled=_as_bool(cfg.get("delete.enabled", False)),
            auto_create=_as_bool(cfg.get("auto.create", True)),
            auto_evolve=_as_bool(cfg.get("auto.evolve", False)),
            insert_mode=str(cfg.get("insert.mode", "upsert")),
            num_writers=int(cfg.get("tasks.max", 1)) if dialect.name == "sqlite" else None,
        )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            recs = chain(self._decode(batch_df, spec.name, sink))
            if pk:
                recs = recs.withColumn("key", sink.codec.key_struct(pk, sink.schema))
            writer.process_batch(recs, batch_id)

        return self._streamed(spec, self.transport.read_stream(topics), process, writer=writer)

    def _compile_parquet_sink(self, spec: PipelineSpec) -> Pipeline:
        """Parquet-lake sink (engine-native, SURVEY §2.7): per-batch
        dynamic-partition-overwrite MERGE — upsert by pk.fields, newest
        order.field wins, optional delete.field tombstones. Only the
        partitions present in a batch are rewritten
        (operators/layout.merge_into_partitioned)."""
        from kafkaconnect_spark.operators.layout import merge_into_partitioned

        cfg = spec.config
        topics = _topic_list(cfg["topics"])
        path = str(cfg["path"])
        partition_field = str(cfg["partition.field"])
        order_field = str(cfg["order.field"])
        delete_field = cfg.get("delete.field")
        chain = build_transform_chain(spec.transforms)
        sink = self._sink_input(spec, topics)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            recs = chain(self._decode(batch_df, spec.name, sink))
            # null-value (key-only) tombstones carry no partition value,
            # so this sink cannot target them — fail loudly rather than
            # silently retaining deleted rows; route deletes through a
            # flagged column (delete.field, e.g. Debezium rewrite mode).
            # raise_error fires in the merge's first pass, before it
            # writes anything.
            err = (
                f"pipeline {spec.name!r}: parquet-sink cannot apply "
                "null-value tombstones (no partition value); use "
                "delete.field with flagged delete records"
            )
            value_type = recs.schema["value"].dataType
            value = F.coalesce("value", F.raise_error(F.lit(err)).cast(value_type))
            merge_into_partitioned(
                self.spark,
                recs.select(value.alias("value")).select("value.*"),
                path,
                spec.pk_fields,
                partition_field,
                order_field,
                delete_col=str(delete_field) if delete_field else None,
            )

        return self._streamed(spec, self.transport.read_stream(topics), process, path=path)

    def _compile_cdc_ingest(self, spec: PipelineSpec) -> Pipeline:
        """Debezium-format topic ingest (S7/S8): parse envelope, apply
        SMT chain (typically ExtractNewRecordState + RegexRouter), and
        re-publish flat records — the 'source-side unwrap' shape of
        …실습 - 01.md:287-311. Both sides are schemaless JSON, whatever
        the spec's converter keys say."""
        cfg = spec.config
        if not cfg.get("cdc.topic.pattern"):
            raise SpecError(
                "cdc-source ingest needs cdc.topic.pattern (comma list of "
                "Debezium topics) — this engine ingests Debezium-format "
                "topics; it cannot tail a binlog from database.hostname"
            )
        in_topics = [t.strip() for t in str(cfg["cdc.topic.pattern"]).split(",")]
        chain = build_transform_chain(spec.transforms)
        # a cdc ingest RE-PUBLISHES to the topic column; without a
        # RegexRouter the records land back in the input topic and the
        # next trigger re-ingests them — an unbounded feedback loop
        if not any("RegexRouter" in t.type for t in spec.transforms):
            raise SpecError(
                "cdc-source ingest requires a RegexRouter transform to "
                "rewrite the output topic — otherwise unwrapped records "
                "feed back into the input topic forever"
            )
        ddl = cfg.get("value.schema.ddl")
        if not ddl:
            raise SpecError("cdc-source ingest needs value.schema.ddl (row schema)")
        from kafkaconnect_spark.functions.envelope import envelope_schema

        env_schema = envelope_schema(T._parse_datatype_string(str(ddl)))
        codec = Codec(registry_url=None, schemas_enable=False, base64=self.transport.is_file)
        _, deserialize = codec.value_serde(env_schema, in_topics[0])

        def process(batch_df: DataFrame, batch_id: int) -> None:
            recs = chain(batch_df.withColumn("value", deserialize("value")))
            self._publish(recs, codec, in_topics[0])

        stream = self.transport.read_stream(
            in_topics,
            starting_offsets="latest"
            if str(cfg.get("snapshot.mode", "initial")) == "schema_only"
            else "earliest",
        )
        return self._streamed(spec, stream, process)


def _records(rows: DataFrame, topic: str) -> DataFrame:
    """Source rows as records: the whole row as the ``value`` struct."""
    return rows.select(
        F.struct(*[F.col(c).alias(c) for c in rows.columns]).alias("value")
    ).withColumn("topic", F.lit(topic))


def _topic_list(topics: Any) -> list[str]:
    return [t.strip() for t in str(topics).split(",") if t.strip()]
