"""JDBC sink writer — upsert / tombstone-delete / auto-DDL (SURVEY §2.2).

Connect's JDBC sink task buffers a consumer batch, then issues
keyed upserts (insert.mode=upsert,
connector_configs/mysql_jdbc_sink_customers.json:10-12) and deletes on
tombstones (delete.enabled=true, :13). The Spark-native equivalent is
a ``foreachBatch`` function that makes one pass over the batch:

1. **Shuffle once on the PK** — ``repartition`` by the ``key.<pk>``
   fields (into ``tasks.max`` partitions on SQLite), so each key lands
   in exactly one task.
2. **Last-write-wins dedupe within the batch** — one terminal action
   per key, via ``row_number() over (partition by pk order by
   timestamp desc, offset desc)`` (offsets are comparable only within
   one source partition; the timestamp is the cross-partition signal
   and the offset breaks ties within a partition). Catalyst won't do
   this for us (SURVEY §4); it's the one custom piece of sink logic.
   The windows are partitioned by the PK (plus the source partition),
   which the shuffle of (1) already satisfies, so Spark adds no
   exchange for them.
3. **Write per partition** — every task opens its own DB connection
   (like each Connect sink task), executes its parameterized upserts
   and, with delete.enabled, its tombstone deletes via executemany,
   and commits once: like Connect's sink task, a partition's writes
   are one transaction. Because of (2) each key has one record, so the
   upsert and delete sets are disjoint and their apply order can't
   violate per-key ordering.

Nothing is persisted: the one write action reads the deduped frame
once. A sink without ``pk.fields`` (``insert.mode=insert``) has no key
semantics: it runs no dedupe and no shuffle and inserts every record.

End-to-end guarantee matches the reference: at-least-once delivery +
idempotent keyed MERGE ⇒ re-processing a batch re-applies the same
final state (SURVEY §3 E2).

Scale notes (100 TB): the one shuffle is keyed by PK — the same
partitioning serves dedupe and write co-location. Batch size is
governed by the stream trigger (maxOffsetsPerTrigger /
maxFilesPerTrigger), not by collecting to the driver; nothing here is
driver-side except optional DDL.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import itertools
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkaconnect_spark.dialects import Dialect

ConnectionFactory = Callable[[], Any]  # returns a DB-API 2.0 connection


def dedupe_last_per_key(
    df: DataFrame, pk_cols: list[Column], order_cols: list[Column]
) -> DataFrame:
    """Keep the last record per key by ``order_cols`` (each applied
    DESC). Shuffles on the key unless ``df`` is already partitioned by
    it."""
    w = Window.partitionBy(*pk_cols).orderBy(*[c.desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# types SQLite cannot bind natively: stored as text
_SQLITE_TEXT = (T.DateType, T.TimestampType, T.TimestampNTZType, T.DecimalType)


def _to_db_value(v: Any) -> Any:
    """A date or timestamp as the ISO text SQLite stores; a decimal as
    its exact digits."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    return v.isoformat() if isinstance(v, _dt.date) else v


class _PartitionWriter:
    """Picklable executor-side closure: one DB connection and one commit
    per partition. Each row is ``(tombstone, *value fields, *key
    fields)``: a record binds its value fields to ``sql``, a tombstone
    its key fields to ``delete_sql``, in order; on SQLite the date,
    timestamp and decimal fields are bound as text."""

    CHUNK = 5000  # bound Python-side buffering per partition

    def __init__(
        self, sql: str, delete_sql: str | None, schema: T.StructType, n_value: int,
        connect: ConnectionFactory, sqlite: bool,
    ):
        self.sql = (sql, delete_sql)
        self.end = 1 + n_value
        self.connect = connect
        self.text = [
            i for i, f in enumerate(schema.fields) if sqlite and isinstance(f.dataType, _SQLITE_TEXT)
        ]

    def __call__(self, rows: Iterator[Any]) -> None:
        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return  # an empty partition opens no connection
        conn = self.connect()
        try:
            cur = conn.cursor()
            pending: tuple[list[tuple], list[tuple]] = ([], [])
            for row in itertools.chain([first], rows):
                if self.text:
                    row = list(row)
                    for i in self.text:
                        row[i] = _to_db_value(row[i])
                kind = 1 if row[0] else 0
                pending[kind].append(tuple(row[self.end:] if kind else row[1:self.end]))
                if len(pending[kind]) >= self.CHUNK:
                    cur.executemany(self.sql[kind], pending[kind])
                    pending[kind].clear()
            for sql, params in zip(self.sql, pending):
                if params:
                    cur.executemany(sql, params)
            conn.commit()
        finally:
            conn.close()


class JdbcSinkWriter:
    """foreachBatch body for a jdbc-sink pipeline.

    Parameters mirror the reference config keys:
    table (table.name.format, K3), pk (pk.fields, K1),
    delete_enabled (K2), auto_create (K4), auto_evolve (K5),
    insert_mode ("upsert" | "insert").
    """

    def __init__(
        self,
        table: str,
        pk: list[str],
        dialect: Dialect,
        connection_factory: ConnectionFactory,
        delete_enabled: bool = False,
        auto_create: bool = False,
        auto_evolve: bool = False,
        insert_mode: str = "upsert",
        num_writers: int | None = None,
    ):
        self.table = table
        self.pk = pk
        self.dialect = dialect
        self.connect = connection_factory
        self.delete_enabled = delete_enabled
        self.auto_create = auto_create
        self.auto_evolve = auto_evolve
        self.insert_mode = insert_mode
        self.num_writers = num_writers

    # ---- DDL helpers (driver-side, once per batch) ---------------------
    def _existing_columns(self, conn: Any) -> list[str] | None:
        cur = conn.cursor()
        try:
            if self.dialect.name == "sqlite":
                cur.execute(f"PRAGMA table_info({self.dialect.q(self.table)})")
                cols = [r[1] for r in cur.fetchall()]
                return cols or None
            # schema-qualify when the configured table is (a same-named
            # table in another schema must not mask the real target)
            parts = self.table.split(".")
            tbl = parts[-1]
            if len(parts) > 1:
                cur.execute(
                    "SELECT column_name FROM information_schema.columns "
                    f"WHERE table_name = {self.dialect.placeholder} "
                    f"AND table_schema = {self.dialect.placeholder}",
                    (tbl, parts[-2]),
                )
            else:
                # filter to the CONNECTION's current schema/database —
                # unfiltered, a same-named table in any other schema
                # makes the target look present (with the wrong column
                # set), skipping auto.create and masking drift
                cur_schema = (
                    "DATABASE()" if self.dialect.name == "mysql" else "current_schema()"
                )
                cur.execute(
                    "SELECT column_name FROM information_schema.columns "
                    f"WHERE table_name = {self.dialect.placeholder} "
                    f"AND table_schema = {cur_schema}",
                    (tbl,),
                )
            cols = [r[0] for r in cur.fetchall()]
            return cols or None
        finally:
            cur.close()

    def ensure_table(self, value_schema: T.StructType) -> None:
        """auto.create + auto.evolve (add-column only, like the
        reference: …실습 - 03.md:131,253-273)."""
        conn = self.connect()
        try:
            existing = self._existing_columns(conn)
            cur = conn.cursor()
            if existing is None:
                if not self.auto_create:
                    raise RuntimeError(
                        f"target table {self.table} missing and auto.create=false"
                    )
                cur.execute(self.dialect.create_table_sql(self.table, value_schema, self.pk))
            else:
                missing = [f for f in value_schema.fields if f.name not in existing]
                if missing and not self.auto_evolve:
                    raise RuntimeError(
                        f"schema drift (new columns {[f.name for f in missing]}) "
                        "and auto.evolve=false"
                    )
                for f in missing:
                    if not f.nullable:
                        # parity: auto-evolve cannot add NOT NULL w/o default
                        # (…실습 - 03.md:253-273) — surface, don't guess.
                        raise RuntimeError(
                            f"cannot auto-evolve NOT NULL column {f.name}; "
                            "manual ALTER + pipeline restart required"
                        )
                    cur.execute(self.dialect.add_column_sql(self.table, f))
            conn.commit()
        finally:
            conn.close()

    # ---- the foreachBatch body -----------------------------------------
    def process_batch(self, records: DataFrame, batch_id: int = 0) -> None:
        """``records``: canonical record frame — ``key`` struct of PK
        fields, ``value`` struct (null = tombstone), optional
        ``partition``/``offset``/``timestamp`` ordering metadata."""
        value_type = records.schema["value"].dataType
        if not isinstance(value_type, T.StructType):
            raise TypeError("records.value must be a struct column")
        self.ensure_table(value_type)

        n = self.num_writers
        keys = [F.col(f"key.{c}") for c in self.pk]
        if keys:
            # the batch's one shuffle: both dedupe windows below are
            # partitioned by the key (plus the source partition), which
            # this partitioning satisfies, and it is the writers' too
            records = records.repartition(n, *keys) if n else records.repartition(*keys)
            records = self._last_per_key(records, keys)
        elif n:
            records = records.coalesce(n)

        value = F.col("value")
        key_cols = []
        if self.delete_enabled and keys:
            # parity with the reference's PK-less-delete probe
            # (…PostgreSQL CDC….md:339-353): a tombstone whose key
            # fields are NULL (source lacked REPLICA IDENTITY FULL /
            # a PK) would DELETE nothing — surface it, don't no-op.
            # raise_error fires executor-side while the writer reads its
            # partition, before that partition commits anything.
            err = (
                f"tombstone with NULL key field(s) {self.pk} cannot be "
                "applied — source table needs a PK or REPLICA IDENTITY FULL"
            )
            key_type = records.schema["key"].dataType
            key_cols = [
                F.when(
                    value.isNull(),
                    F.coalesce(k, F.raise_error(F.lit(err)).cast(key_type[c].dataType)),
                ).alias(f"__key_{c}")
                for c, k in zip(self.pk, keys)
            ]
        else:
            records = records.where(value.isNotNull())
        # select("value.*") yields the fields in value_cols order
        rows = records.select(value.isNull().alias("__tombstone"), "value.*", *key_cols)
        value_cols = [f.name for f in value_type.fields]
        sql = (
            self.dialect.upsert_sql(self.table, value_cols, self.pk)
            if self.insert_mode == "upsert"
            else self.dialect.insert_sql(self.table, value_cols)
        )
        delete_sql = self.dialect.delete_sql(self.table, self.pk) if key_cols else None
        rows.foreachPartition(
            _PartitionWriter(
                sql, delete_sql, rows.schema, len(value_cols), self.connect,
                self.dialect.name == "sqlite",
            )
        )

    @staticmethod
    def _last_per_key(records: DataFrame, keys: list[Column]) -> DataFrame:
        """One record per key. Kafka offsets are authoritative WITHIN a
        source partition (CreateTime timestamps need not be monotone
        there — producer retries/clock steps reorder them), but offsets
        are NOT comparable across partitions (a hot partition's stale
        offset 100000 would beat another's fresh offset 52). So: phase 1
        reduces per (key, source-partition) by offset — exact Connect
        semantics — and phase 2 picks among the per-partition winners by
        timestamp, the only cross-partition signal. For the common
        keyed-topic case (one partition per key) phase 2 is a no-op and
        this is pure offset ordering."""
        cols = records.columns
        order_cols = [F.col(c) for c in ("timestamp", "offset") if c in cols]
        if not order_cols:
            # no ordering metadata: still collapse to ONE record per key
            # so the upsert and delete sets stay DISJOINT (a key with
            # both a value and a tombstone would otherwise be upserted
            # and deleted regardless of intent). Preference is
            # deterministic: a value record beats a tombstone, ties
            # break on the value itself.
            return dedupe_last_per_key(records, keys, [F.col("value").isNotNull(), F.col("value")])
        if "partition" in cols and "offset" in cols:
            records = dedupe_last_per_key(records, keys + [F.col("partition")], [F.col("offset")])
        return dedupe_last_per_key(records, keys, order_cols)
