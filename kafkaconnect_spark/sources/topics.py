"""Topic transport — Kafka when available, file-backed topics otherwise.

Every reference pipeline ends (source) or begins (sink) at a Kafka
topic. On a real deployment this module emits
``spark.readStream/writeStream.format("kafka")`` with the canonical
record schema (key/value binary, topic, partition, offset, timestamp).

This container ships no Kafka broker and no spark-kafka connector jar,
so the same contract is also implemented over a directory-per-topic
parquet log ("file transport"): each append writes a parquet file of
records carrying monotonically increasing per-topic offsets; readers
use Spark's file streaming source, whose file-name checkpointing gives
the same resume semantics as Kafka consumer offsets (SURVEY §2.6 O1).

The transport choice is a URL scheme in the spec's bootstrap/brokers
field: ``file:///path/to/topics`` → file transport, anything else →
kafka format. Engine code upstream/downstream is identical — the
record schema is the Kafka source schema either way.
"""

from __future__ import annotations

import functools
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


def is_file_transport(servers: str) -> bool:
    return str(servers).startswith("file://")


def _topic_dir(servers: str, topic: str) -> Path:
    return Path(servers[len("file://"):]) / topic


class TopicTransport:
    """Append / stream-read / batch-read named topics."""

    def __init__(self, spark: SparkSession, servers: str):
        self.spark = spark
        self.servers = servers
        self.is_file = is_file_transport(servers)

    # ---- write ---------------------------------------------------------
    def append(self, records: DataFrame, default_topic: str | None = None) -> int:
        """Batch append (one micro-batch of records); returns the number
        of records written. ``records`` must have string/binary
        key+value; topic column optional if ``default_topic`` given."""
        df = records
        if "topic" not in df.columns:
            if not default_topic:
                raise ValueError("records need a topic column or a default_topic")
            df = df.withColumn("topic", F.lit(default_topic))
        # df's lineage can carry serde UDFs / transform chains — persist
        # it so the per-topic counts and every write read ONE evaluation
        # (the offset accounting must match the rows actually written)
        df = df.persist()
        try:
            counts = dict(df.groupBy("topic").count().collect())
            if self.is_file:
                # per-topic dir; offsets = stored base + row_number
                self._append_per_topic(df, counts)
            else:
                (
                    df.selectExpr(
                        "CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value", "topic"
                    )
                    .write.format("kafka")
                    .option("kafka.bootstrap.servers", self.servers)
                    .save()
                )
            return sum(counts.values())
        finally:
            df.unpersist()

    def _append_per_topic(self, df: DataFrame, counts: dict[str, int]) -> None:
        import fcntl

        for topic, n in counts.items():
            tdir = _topic_dir(self.servers, topic)
            tdir.mkdir(parents=True, exist_ok=True)
            # exclusive advisory lock for the offset read→write window:
            # concurrent appenders (two started pipelines, two CLI
            # processes) would otherwise both read base=N and assign
            # duplicate offsets, then undercount next_offset
            lock_f = open(tdir / ".lock", "w")
            fcntl.flock(lock_f, fcntl.LOCK_EX)
            try:
                self._append_one_topic(df, topic, tdir, n)
            finally:
                fcntl.flock(lock_f, fcntl.LOCK_UN)
                lock_f.close()

    def _append_one_topic(self, df: DataFrame, topic: str, tdir: Path, n: int) -> None:
        base = self._next_offset(tdir)
        n_parts = self._partitions(tdir)
        # keyed partition assignment like Kafka's default partitioner
        # (hash(key) % partitions; null keys → partition 0). NB: the
        # shim keeps ONE offset sequence per topic (Kafka has one per
        # partition) — ordering consumers need (partition, offset).
        part_expr = (
            F.when(F.col("key").isNull(), F.lit(0))
            .otherwise(F.pmod(F.xxhash64(F.col("key")), F.lit(n_parts)))
            .cast("int")
            if n_parts > 1
            else F.lit(0)
        )
        part = df.where(F.col("topic") == topic)
        w = (
            part.withColumn(
                "offset",
                F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
                + F.lit(base - 1),
            )
            .withColumn("partition", part_expr)
            .withColumn(
                "timestamp",
                F.col("timestamp") if "timestamp" in part.columns else F.current_timestamp(),
            )
            .select(
                F.col("key").cast("string"),
                F.col("value").cast("string"),
                "topic",
                "partition",
                "offset",
                "timestamp",
            )
        )
        w.coalesce(1).write.mode("append").parquet(str(tdir / "log"))
        self._set_next_offset(tdir, base + n)

    # ---- read ----------------------------------------------------------
    def read_stream(self, topics: list[str], starting_offsets: str = "earliest") -> DataFrame:
        return self._read(topics, stream=True, starting_offsets=starting_offsets)

    def read_batch(self, topics: list[str]) -> DataFrame:
        """Whole-topic batch read (test/verify path — kafkacat analogue,
        scripts/show_topic_messages:1-7)."""
        return self._read(topics, stream=False)

    def _read(self, topics: list[str], stream: bool, starting_offsets: str = "earliest") -> DataFrame:
        """The union of ``topics`` as canonical records, streamed or as
        one batch. File transport: a streamed topic's log directory is
        created if missing, a batch read skips a topic with no records
        yet. startingOffsets=latest = skip records that exist when the
        stream is built (snapshot.mode=schema_only analogue, SURVEY
        §2.1 S7): snapshot the topic's end offset now and filter —
        exactly Kafka's latest semantics, robust to file timestamps."""
        reader = self.spark.readStream if stream else self.spark.read
        if not self.is_file:
            reader = reader.format("kafka").option("kafka.bootstrap.servers", self.servers)
            if stream:
                reader = reader.option("startingOffsets", starting_offsets)
            return (
                reader.option("subscribe", ",".join(topics))
                .load()
                .select(
                    F.col("key").cast("string"),
                    F.col("value").cast("string"),
                    "topic",
                    "partition",
                    "offset",
                    "timestamp",
                )
            )
        dfs = []
        for topic in topics:
            tdir = _topic_dir(self.servers, topic) / "log"
            if stream:
                tdir.mkdir(parents=True, exist_ok=True)
            elif not any(tdir.glob("*.parquet")):
                continue
            df = reader.schema(RECORD_SCHEMA).format("parquet").load(str(tdir))
            if starting_offsets == "latest":
                start_at = self._next_offset(tdir.parent)
                df = df.where((F.col("topic") != topic) | (F.col("offset") >= start_at))
            dfs.append(df)
        if not dfs:
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return functools.reduce(DataFrame.unionByName, dfs)

    # ---- topic admin (O5) ------------------------------------------------
    def create_topic(self, topic: str, partitions: int = 1, replication: int = 1) -> None:
        """topic.creation.default.partitions/replication.factor
        (connector_configs/mysql_jdbc_om_source.json:10-11). On Kafka
        this is an AdminClient create_topics call; the file shim
        records partition count in the topic meta (replication is
        meaningless on a filesystem and recorded for parity only)."""
        if not self.is_file:
            # kafka-python/AdminClient not shipped in this container;
            # on a real deployment: KafkaAdminClient.create_topics.
            return
        tdir = _topic_dir(self.servers, topic)
        tdir.mkdir(parents=True, exist_ok=True)
        meta = self._meta(tdir)
        meta.setdefault("next_offset", 0)
        meta["partitions"] = int(partitions)
        meta["replication.factor"] = int(replication)
        (tdir / "meta.json").write_text(json.dumps(meta))

    # ---- file-transport offset counter ----------------------------------
    @staticmethod
    def _meta(tdir: Path) -> dict:
        meta = tdir / "meta.json"
        if meta.exists():
            return json.loads(meta.read_text())
        return {}

    def _next_offset(self, tdir: Path) -> int:
        return int(self._meta(tdir).get("next_offset", 0))

    def _partitions(self, tdir: Path) -> int:
        return int(self._meta(tdir).get("partitions", 1))

    def _set_next_offset(self, tdir: Path, n: int) -> None:
        meta = self._meta(tdir)
        meta["next_offset"] = int(n)
        (tdir / "meta.json").write_text(json.dumps(meta))
