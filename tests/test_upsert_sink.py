"""JdbcSinkWriter: upsert, tombstone delete, auto-create/evolve (K1-K5)."""

from __future__ import annotations

import functools
import sqlite3

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkaconnect_spark.dialects import dialect_for_url
from kafkaconnect_spark.operators.upsert import JdbcSinkWriter


@pytest.fixture()
def db(tmp_path):
    return str(tmp_path / "sink.db")


def factory(db):
    return functools.partial(sqlite3.connect, db)


def writer(db, **over):
    kw = dict(
        table="customers_sink",
        pk=["id"],
        dialect=dialect_for_url("jdbc:sqlite:" + db),
        connection_factory=factory(db),
        delete_enabled=True,
        auto_create=True,
        auto_evolve=False,
        num_writers=1,
    )
    kw.update(over)
    return JdbcSinkWriter(**kw)


VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
    ]
)


def batch(spark, rows):
    """rows: (id, name-or-None-for-tombstone, offset)."""
    data = [
        (
            {"id": i},
            {"id": i, "name": name} if name is not None else None,
            off,
        )
        for i, name, off in rows
    ]
    schema = T.StructType(
        [
            T.StructField("key", T.StructType([T.StructField("id", T.IntegerType())])),
            T.StructField("value", VALUE_SCHEMA, True),
            T.StructField("offset", T.LongType()),
        ]
    )
    return spark.createDataFrame(data, schema)


def table_rows(db):
    with sqlite3.connect(db) as c:
        return sorted(c.execute("SELECT id, name FROM customers_sink").fetchall())


def test_upsert_insert_then_update(spark, db):
    w = writer(db)
    w.process_batch(batch(spark, [(1, "a", 0), (2, "b", 1)]))
    assert table_rows(db) == [(1, "a"), (2, "b")]
    w.process_batch(batch(spark, [(1, "a2", 2), (3, "c", 3)]))
    assert table_rows(db) == [(1, "a2"), (2, "b"), (3, "c")]


def test_last_write_wins_within_batch(spark, db):
    w = writer(db)
    # same key three times in one batch; highest offset must win
    w.process_batch(batch(spark, [(1, "first", 0), (1, "second", 1), (1, "third", 2)]))
    assert table_rows(db) == [(1, "third")]


def test_tombstone_delete(spark, db):
    w = writer(db)
    w.process_batch(batch(spark, [(1, "a", 0), (2, "b", 1)]))
    w.process_batch(batch(spark, [(1, None, 2)]))  # tombstone
    assert table_rows(db) == [(2, "b")]


def test_tombstone_then_reinsert_ordering(spark, db):
    w = writer(db)
    # delete then re-insert in the same batch: terminal action (offset 3) wins
    w.process_batch(batch(spark, [(1, "a", 0)]))
    w.process_batch(batch(spark, [(1, None, 2), (1, "back", 3)]))
    assert table_rows(db) == [(1, "back")]


def test_idempotent_replay(spark, db):
    """At-least-once: re-processing the same batch yields the same state."""
    w = writer(db)
    b = batch(spark, [(1, "a", 0), (2, "b", 1), (2, None, 2)])
    w.process_batch(b)
    state1 = table_rows(db)
    w.process_batch(b)
    assert table_rows(db) == state1 == [(1, "a")]


def test_auto_create_false_fails(spark, db):
    w = writer(db, auto_create=False)
    with pytest.raises(RuntimeError, match="auto.create=false"):
        w.process_batch(batch(spark, [(1, "a", 0)]))


def test_auto_evolve_adds_column(spark, db):
    w = writer(db)
    w.process_batch(batch(spark, [(1, "a", 0)]))
    wide_schema = VALUE_SCHEMA.add(T.StructField("age", T.IntegerType(), True))
    wide = spark.createDataFrame(
        [({"id": 5}, {"id": 5, "name": "e", "age": 40}, 9)],
        T.StructType(
            [
                T.StructField("key", T.StructType([T.StructField("id", T.IntegerType())])),
                T.StructField("value", wide_schema, True),
                T.StructField("offset", T.LongType()),
            ]
        ),
    )
    # evolve off → drift surfaces (reference parity: sink task fails)
    with pytest.raises(RuntimeError, match="auto.evolve=false"):
        w.process_batch(wide)
    w2 = writer(db, auto_evolve=True)
    w2.process_batch(wide)
    with sqlite3.connect(db) as c:
        rows = sorted(c.execute("SELECT id, name, age FROM customers_sink").fetchall())
    assert (5, "e", 40) in rows and (1, "a", None) in rows


def test_insert_mode_append(spark, db):
    w = writer(db, insert_mode="insert", delete_enabled=False, pk=[])
    w.process_batch(batch(spark, [(1, "a", 0)]))
    w.process_batch(batch(spark, [(1, "a", 1)]))
    with sqlite3.connect(db) as c:
        n = c.execute("SELECT count(*) FROM customers_sink").fetchone()[0]
    assert n == 2  # plain insert appends, no key semantics


def test_dialect_sql_shapes():
    my = dialect_for_url("jdbc:mysql://h/db")
    pg = dialect_for_url("jdbc:postgresql://h/db")
    up_my = my.upsert_sql("t", ["id", "name"], ["id"])
    up_pg = pg.upsert_sql("t", ["id", "name"], ["id"])
    assert "ON DUPLICATE KEY UPDATE" in up_my
    assert "ON CONFLICT" in up_pg and "EXCLUDED" in up_pg.upper()


def test_auto_evolve_rejects_not_null_column(spark, tmp_path):
    """Reference failure probe (…실습 - 03.md:253-273 / Schema
    Registry….md:474-476): auto-evolve must surface — not guess a
    default for — a new NOT NULL column."""
    import functools
    import sqlite3

    import pytest
    from pyspark.sql import types as T

    from kafkaconnect_spark.dialects import dialect_for_url
    from kafkaconnect_spark.operators.upsert import JdbcSinkWriter

    db = str(tmp_path / "ev.db")
    url = "jdbc:sqlite:" + db
    writer = JdbcSinkWriter(
        table="t",
        pk=["id"],
        dialect=dialect_for_url(url),
        connection_factory=functools.partial(sqlite3.connect, db),
        auto_create=True,
        auto_evolve=True,
    )
    v1 = T.StructType([T.StructField("id", T.IntegerType(), False)])
    writer.ensure_table(v1)
    v2 = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("strict_col", T.StringType(), False),  # NOT NULL
        ]
    )
    with pytest.raises(RuntimeError, match="NOT NULL"):
        writer.ensure_table(v2)


def test_tombstone_with_null_key_surfaces(spark, tmp_path):
    """Reference failure probe (…PostgreSQL CDC….md:339-353): deleting
    a PK-less row without REPLICA IDENTITY FULL yields a keyless
    tombstone — the sink must error, not silently delete nothing."""
    import functools
    import sqlite3

    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafkaconnect_spark.dialects import dialect_for_url
    from kafkaconnect_spark.operators.upsert import JdbcSinkWriter

    db = str(tmp_path / "nk.db")
    writer = JdbcSinkWriter(
        table="t",
        pk=["id"],
        dialect=dialect_for_url("jdbc:sqlite:" + db),
        connection_factory=functools.partial(sqlite3.connect, db),
        auto_create=True,
        delete_enabled=True,
    )
    rows = spark.createDataFrame(
        [Row(id=1, name="a"), Row(id=None, name=None)]
    ).select(
        F.struct(F.col("id")).alias("key"),
        F.when(F.col("id").isNotNull(), F.struct("id", "name")).alias("value"),
    )
    with pytest.raises(Exception, match="REPLICA IDENTITY"):
        writer.process_batch(rows)


def test_dedupe_partition_aware_ordering(spark, db):
    """Offsets are authoritative within a source partition (CreateTime
    timestamps may be non-monotone there); across partitions only the
    timestamp can order. Two-phase dedupe must honor both."""
    import datetime

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    schema = T.StructType(
        [
            T.StructField("key", T.StructType([T.StructField("id", T.IntegerType())])),
            T.StructField("value", VALUE_SCHEMA, True),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
        ]
    )
    rows = [
        # key 1, one partition, producer clock stepped back: the HIGHER
        # offset (true latest) carries the LOWER timestamp and must win
        ({"id": 1}, {"id": 1, "name": "old"}, 0, 100, ts("2024-01-01 10:00:05")),
        ({"id": 1}, {"id": 1, "name": "new"}, 0, 101, ts("2024-01-01 10:00:04")),
        # key 2, split across partitions: the fresh-timestamp record on
        # the low-offset partition must beat the stale high-offset one
        ({"id": 2}, {"id": 2, "name": "stale"}, 0, 100000, ts("2024-01-01 10:00:01")),
        ({"id": 2}, {"id": 2, "name": "fresh"}, 3, 52, ts("2024-01-01 10:00:09")),
    ]
    w = writer(db)
    w.process_batch(spark.createDataFrame(rows, schema))
    assert table_rows(db) == [(1, "new"), (2, "fresh")]


def test_insert_mode_without_pk_inserts_every_record(spark, db):
    """A sink without pk.fields has no key to collapse on: every record
    of the batch is inserted, duplicates included (Connect's
    insert.mode=insert, pk.mode=none)."""
    w = writer(db, insert_mode="insert", pk=[])
    w.process_batch(batch(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2), (3, "c", 3)]))
    assert table_rows(db) == [(1, "a"), (2, "b"), (3, "c"), (3, "c")]


def mixed_batch(spark, n_keys=40):
    """Each key written three times over two source partitions, in
    offset and timestamp order; every fifth key ends in a tombstone.
    Returns the batch and the table it must leave behind."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    schema = T.StructType(
        [
            T.StructField("key", T.StructType([T.StructField("id", T.IntegerType())])),
            T.StructField("value", VALUE_SCHEMA, True),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
        ]
    )
    rows = [
        (
            {"id": k},
            None if j == 2 and k % 5 == 0 else {"id": k, "name": f"v{k}.{j}"},
            (k + j) % 2,
            10 * k + j,
            t0 + datetime.timedelta(seconds=10 * k + j),
        )
        for k in range(n_keys)
        for j in range(3)
    ]
    expected = [(k, f"v{k}.2") for k in range(n_keys) if k % 5]
    return spark.createDataFrame(rows, schema), expected


def test_one_keyed_shuffle_and_one_write_pass(spark, db, monkeypatch):
    """A batch with ordering metadata, tombstones and delete.enabled is
    one keyed exchange and one write action: at most two Spark jobs
    (the shuffle map stage and the write)."""
    records, expected = mixed_batch(spark)
    plans = []
    cls = type(records)
    write = cls.foreachPartition

    def spy(frame, f):
        plans.append(frame._jdf.queryExecution().executedPlan().toString())
        return write(frame, f)

    monkeypatch.setattr(cls, "foreachPartition", spy)
    sc = spark.sparkContext
    sc.setJobGroup("upsert-one-pass", "JdbcSinkWriter.process_batch")
    try:
        writer(db, num_writers=2).process_batch(records)
        jobs = sc.statusTracker().getJobIdsForGroup("upsert-one-pass")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= 2
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1
    assert table_rows(db) == expected


def test_mixed_upserts_and_deletes_over_three_writers(spark, db):
    w = writer(db, num_writers=3)
    w.process_batch(batch(spark, [(k, f"old{k}", k) for k in range(40)]))
    records, expected = mixed_batch(spark)
    w.process_batch(records)
    assert table_rows(db) == expected


def test_null_key_tombstone_fails_its_partition_whole(spark, db):
    """A keyless tombstone fails the batch, and the writer partition
    that holds it commits none of its writes, the upsert before it
    included: a partition's writes are one transaction, as a Connect
    sink task writes a batch."""
    schema = T.StructType(
        [
            T.StructField("key", T.StructType([T.StructField("id", T.IntegerType())])),
            T.StructField("value", VALUE_SCHEMA, True),
            T.StructField("offset", T.LongType()),
        ]
    )
    rows = [({"id": 1}, {"id": 1, "name": "a"}, 0), ({"id": None}, None, 1)]
    with pytest.raises(Exception, match="REPLICA IDENTITY"):
        writer(db, num_writers=1).process_batch(spark.createDataFrame(rows, schema))
    assert table_rows(db) == []


def test_decimal_fields_reach_sqlite_as_exact_values(spark, tmp_path):
    """An Avro jdbc-source over a decimal(10,2) column into an
    auto-created SQLite jdbc-sink writes every row, each numerically
    equal to the source value."""
    from decimal import Decimal

    from kafkaconnect_spark.streaming.engine import Engine

    db = str(tmp_path / "dec.db")
    url = "jdbc:sqlite:" + db
    registry_url = f"file://{tmp_path}/registry.json"
    amounts = [Decimal("0.01"), Decimal("-12.50"), Decimal("99999999.99"), Decimal("0.00")]
    source = spark.createDataFrame(
        [(i, a) for i, a in enumerate(amounts, 1)] + [(len(amounts) + 1, None)],
        "id int, amount decimal(10,2)",
    )
    eng = Engine(
        spark,
        servers=f"file://{tmp_path}/topics",
        checkpoint_root=tmp_path / "ckpt",
        table_resolver=lambda t: source,
        connection_factories={url: factory(db)},
    )
    avro = {
        "value.converter": "io.confluent.connect.avro.AvroConverter",
        "value.converter.schema.registry.url": registry_url,
    }
    eng.register(
        {
            "name": "dec_source",
            "config": {
                "connector.class": "io.confluent.connect.jdbc.JdbcSourceConnector",
                "connection.url": "jdbc:mysql://fake:3306/om",
                "topic.prefix": "dec_",
                "table.whitelist": "payments",
                "mode": "incrementing",
                "incrementing.column.name": "id",
                "transforms": "create_key, extract_key",
                "transforms.create_key.type": "org.apache.kafka.connect.transforms.ValueToKey",
                "transforms.create_key.fields": "id",
                "transforms.extract_key.type": "org.apache.kafka.connect.transforms.ExtractField$Key",
                "transforms.extract_key.field": "id",
                **avro,
            },
        }
    )
    eng.run_once("dec_source")
    # the sink reads its value schema from the registry at registration
    eng.register(
        {
            "name": "dec_sink",
            "config": {
                "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
                "topics": "dec_payments",
                "connection.url": url,
                "insert.mode": "upsert",
                "pk.mode": "record_key",
                "pk.fields": "id",
                "auto.create": "true",
                **avro,
            },
        }
    )
    eng.run_once("dec_sink")
    with sqlite3.connect(db) as c:
        got = dict(c.execute("SELECT id, amount FROM dec_payments").fetchall())
    want = {r.id: r.amount for r in source.collect()}
    assert got.keys() == want.keys()
    for i, amount in want.items():
        assert (got[i] is None) if amount is None else Decimal(str(got[i])) == amount
