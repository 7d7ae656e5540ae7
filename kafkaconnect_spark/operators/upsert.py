"""JDBC sink writer — upsert / tombstone-delete / auto-DDL (SURVEY §2.2).

Connect's JDBC sink task buffers a consumer batch, then issues
keyed upserts (insert.mode=upsert,
connector_configs/mysql_jdbc_sink_customers.json:10-12) and deletes on
tombstones (delete.enabled=true, :13). The Spark-native equivalent is
a ``foreachBatch`` function:

1. **Last-write-wins dedupe within the batch** — one terminal action
   per key, via ``row_number() over (partition by pk order by
   timestamp desc, offset desc)`` (offsets are comparable only within
   one source partition; the timestamp is the cross-partition signal
   and the offset breaks ties within a partition). Catalyst won't do
   this for us (SURVEY §4); it's the one custom piece of sink logic.
2. **Split** on ``value IS NULL``: tombstone → DELETE set, else UPSERT
   set. Because of (1) the sets are disjoint per key, so apply order
   between the sets can't violate per-key ordering.
3. **Write per partition** — rows are repartitioned by PK so each key
   lands in exactly one task; every task opens its own DB connection
   (like each Connect sink task) and executes parameterized
   upsert/delete statements via executemany.

End-to-end guarantee matches the reference: at-least-once delivery +
idempotent keyed MERGE ⇒ re-processing a batch re-applies the same
final state (SURVEY §3 E2).

Scale notes (100 TB): the shuffle in (1)/(3) is keyed by PK — the same
partitioning serves dedupe and write co-location, one shuffle total.
Batch size is governed by the stream trigger (maxOffsetsPerTrigger /
maxFilesPerTrigger), not by collecting to the driver; nothing here is
driver-side except optional DDL.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkaconnect_spark.dialects import Dialect

ConnectionFactory = Callable[[], Any]  # returns a DB-API 2.0 connection


def dedupe_last_per_key(
    df: DataFrame, pk_cols: list[Any], order_cols: list[Any]
) -> DataFrame:
    """Keep the last record per key by ``order_cols`` (names or Column
    expressions; each is applied DESC). One shuffle on the key."""
    order = [
        (c if isinstance(c, Column) else F.col(str(c))).desc() for c in order_cols
    ]
    w = Window.partitionBy(*pk_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _to_db_value(v: Any) -> Any:
    """A date or timestamp as the ISO text SQLite stores."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    return v.isoformat() if isinstance(v, _dt.date) else v


class _PartitionWriter:
    """Picklable executor-side closure: one DB connection per partition.
    Each row's fields are the statement's parameters, in order; on
    SQLite the date and timestamp fields are bound as ISO text."""

    def __init__(self, sql: str, schema: T.StructType, connect: ConnectionFactory, sqlite: bool):
        self.sql = sql
        self.connect = connect
        temporal = (T.DateType, T.TimestampType, T.TimestampNTZType)
        self.temporal = [
            i for i, f in enumerate(schema.fields) if sqlite and isinstance(f.dataType, temporal)
        ]

    CHUNK = 5000  # bound Python-side buffering per partition

    def _params(self, row: Any) -> tuple:
        if not self.temporal:
            return tuple(row)
        vals = list(row)
        for i in self.temporal:
            vals[i] = _to_db_value(vals[i])
        return tuple(vals)

    def __call__(self, rows: Iterator[Any]) -> None:
        conn = None
        batch: list[tuple] = []
        try:
            for row in rows:
                batch.append(self._params(row))
                if len(batch) >= self.CHUNK:
                    if conn is None:
                        conn = self.connect()
                    conn.cursor().executemany(self.sql, batch)
                    batch.clear()
            if batch:
                if conn is None:
                    conn = self.connect()
                conn.cursor().executemany(self.sql, batch)
            if conn is not None:
                conn.commit()
        finally:
            if conn is not None:
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
        ``partition``/``offset`` ordering metadata."""
        value_type = records.schema["value"].dataType
        if not isinstance(value_type, T.StructType):
            raise TypeError("records.value must be a struct column")
        self.ensure_table(value_type)

        from pyspark import StorageLevel

        # ordering: Kafka offsets are authoritative WITHIN a source
        # partition (CreateTime timestamps need not be monotone there —
        # producer retries/clock steps reorder them), but offsets are
        # NOT comparable across partitions (a hot partition's stale
        # offset 100000 would beat another's fresh offset 52). So:
        # phase 1 reduces per (key, source-partition) by offset — exact
        # Connect semantics — and phase 2 picks among the per-partition
        # winners by timestamp, the only cross-partition signal. For
        # the common keyed-topic case (one partition per key) phase 2
        # is a no-op and this is pure offset ordering.
        pk_key_cols = [F.col(f"key.{c}") for c in self.pk]
        has_part = "partition" in records.columns
        order_cols = [c for c in ("timestamp", "offset") if c in records.columns] or None
        if order_cols:
            if has_part and "offset" in records.columns:
                records = dedupe_last_per_key(
                    records, pk_key_cols + [F.col("partition")], ["offset"]
                )
            records = dedupe_last_per_key(records, pk_key_cols, order_cols)
        else:
            # no ordering metadata: still collapse to ONE record per
            # key so the upsert and delete sets stay DISJOINT — the
            # delete-after-upsert apply order depends on it (a key with
            # both a value and a tombstone would otherwise be upserted
            # then deleted regardless of intent). Preference is
            # deterministic: a value record beats a tombstone, ties
            # break on the value itself.
            records = dedupe_last_per_key(
                records,
                pk_key_cols,
                [F.col("value").isNotNull(), F.col("value")],
            )
        # both the upsert and the delete pass execute this frame —
        # persist so the dedupe shuffle runs once per batch
        records = records.persist(StorageLevel.MEMORY_AND_DISK)
        try:

            n = self.num_writers
            upserts = records.where(F.col("value").isNotNull()).select("value.*")
            if n:
                upserts = upserts.repartition(n, *[F.col(c) for c in self.pk])
            value_cols = [f.name for f in value_type.fields]
            sql = (
                self.dialect.upsert_sql(self.table, value_cols, self.pk)
                if self.insert_mode == "upsert"
                else self.dialect.insert_sql(self.table, value_cols)
            )
            sqlite = self.dialect.name == "sqlite"
            # select("value.*") yields the fields in value_cols order
            upserts.foreachPartition(_PartitionWriter(sql, value_type, self.connect, sqlite))

            if self.delete_enabled:
                deletes = records.where(F.col("value").isNull()).select("key.*")
                # parity with the reference's PK-less-delete probe
                # (…PostgreSQL CDC….md:339-353): a tombstone whose key
                # fields are NULL (source lacked REPLICA IDENTITY FULL /
                # a PK) would DELETE nothing — surface it, don't no-op.
                # raise_error fires executor-side DURING the delete pass:
                # zero extra jobs on the hot path. Like Connect, the batch
                # is not atomic — upserts may have applied before the
                # failure — but PK-idempotent writes make retries safe.
                err = (
                    f"tombstone with NULL key field(s) {self.pk} cannot be "
                    "applied — source table needs a PK or REPLICA IDENTITY FULL"
                )
                deletes = deletes.select(
                    *[
                        F.when(
                            F.col(c).isNull(),
                            F.raise_error(F.lit(err)).cast(deletes.schema[c].dataType),
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                        for c in self.pk
                    ]
                )
                if n:
                    deletes = deletes.repartition(n, *[F.col(c) for c in self.pk])
                del_sql = self.dialect.delete_sql(self.table, self.pk)
                deletes.foreachPartition(
                    _PartitionWriter(del_sql, deletes.schema, self.connect, sqlite)
                )
        finally:
            # unpersist even when a write fails (e.g. the NULL-key
            # tombstone probe raises) — a retried batch re-persists,
            # and leaked blocks would accumulate per retry
            records.unpersist()
