"""The two workloads, driven through the public ``Engine`` API.

Every workload follows the same shape:

1. *prepare* — generate the seeded inputs, build any standing index
   and register the pipelines in a fresh directory. Done
   ``PREPARE_REPEATS`` times so set-up time is a median, not one
   sample; the last preparation is the one measured.
2. *warm-up* — a few untimed cycles so JIT, codegen and the Python
   workers are hot before the window opens.
3. *window* — the measured closed loop: one ``Engine.run_once`` after
   another until ``seconds`` have passed; the cycle in flight finishes.
4. *check* — compare the sink (and, for dedup, every verdict and an
   untimed redelivery) with the reference answer the generator kept.

A workload returns a ``Measure``; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import sqlite3
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from etlbench import gen

PREPARE_REPEATS = 3
NPROC = len(os.sched_getaffinity(0))
SINK_TASKS = 1

# jdbc_backfill: closed loop of run_once over a ~10^5-row backlog
BF_WARMUP_ROWS = 2_000
BF_BATCH_MAX_ROWS = 10_000
BF_RETOUCH_ROWS = 2_000  # of every wave (= every poll), re-touched older keys
BF_WARMUP_CYCLES = 2  # full-size cycles after the first poll: the JIT settles
BF_MIN_CYCLE_S = 1.0  # the table holds enough waves for cycles this fast

# dedup_ingest: closed loop of micro-batches against standing indexes
DD_CORPUS = 600
DD_BUCKETS = 1  # hive buckets per index table: a small corpus needs few files
DD_BATCH = 40
DD_WARMUP_BATCHES = 1  # pays the cold plans; each more costs ~10 s of every run


@dataclass
class Measure:
    prepare_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    # per measured cycle: (seconds inside Engine.run_once, input records
    # the engine consumed, records that reached the sink)
    cycles: list[tuple[float, int, int]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)


class NullTracer:
    """The untraced run's stand-in for ``trace.Tracer``."""

    def window(self, start: bool) -> None:
        pass

    def tick(self, tick_id: int, docs: list[int] | None = None) -> None:
        pass

    def probe(self, spark, eng, plan: dict) -> None:
        pass


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _sqlite_factory(db: str):
    """Connections to a sink database created in WAL mode (a property
    of the database file, kept across connections)."""
    with sqlite3.connect(db) as c:
        c.execute("PRAGMA journal_mode=WAL")
    return functools.partial(sqlite3.connect, db, timeout=60)


def sink_mismatches(got: dict, want: dict) -> int:
    """Keys whose sink row differs from the reference, missing and
    extra rows included."""
    return sum(1 for k in got.keys() | want.keys() if got.get(k) != want.get(k))


def wrong_verdicts(kept: set[int], labels: dict[int, bool]) -> list[int]:
    """Doc ids whose keep/drop verdict (in the sink or not) differs
    from the planted label."""
    return [i for i, keep in labels.items() if (i in kept) != keep]


def _produce(spark, eng, records: list[tuple[str, str]], topic: str) -> None:
    """The producer: append one batch of (key, value) records to a
    topic through the engine's own transport."""
    df = spark.createDataFrame(
        [(k, v, topic) for k, v in records], "key string, value string, topic string"
    )
    eng.transport.append(df)


# ---------------------------------------------------------------------------
# jdbc_backfill
# ---------------------------------------------------------------------------

BF_SOURCE = "bf_source"
BF_TOPIC = "bf_orders"


def _bf_wave_file(path: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = gen.BackfillTable.COLUMNS
    schema = pa.schema(
        [
            ("id", pa.int64()),
            ("updated_at", pa.timestamp("us", tz="UTC")),
            ("customer", pa.string()),
            ("email", pa.string()),
            ("amount", pa.string()),
            ("qty", pa.int64()),
            ("note", pa.string()),
        ]
    )
    data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
    pq.write_table(pa.table(data, schema=schema), path)


def _bf_prepare(spark, work: str, seed: int, seconds: float):
    from kafkaconnect_spark.streaming.engine import Engine

    table = gen.BackfillTable(seed)
    src = os.path.join(work, "source", "orders")
    staged = os.path.join(work, "staged")
    os.makedirs(src)
    os.makedirs(staged)
    _bf_wave_file(os.path.join(src, "wave-00.parquet"), table.wave(BF_WARMUP_ROWS))
    # one wave per poll, every wave the same mix of new and re-touched
    # keys, so every measured cycle does the same work
    waves = BF_WARMUP_CYCLES + math.ceil(seconds / BF_MIN_CYCLE_S) + 1
    for w in range(1, waves + 1):
        rows = table.wave(BF_BATCH_MAX_ROWS - BF_RETOUCH_ROWS, BF_RETOUCH_ROWS)
        _bf_wave_file(os.path.join(staged, f"wave-{w:03d}.parquet"), rows)
    db = os.path.join(work, "sink.db")
    url = "jdbc:sqlite:" + db
    registry = f"file://{work}/registry.json"
    eng = Engine(
        spark,
        servers=f"file://{work}/topics",
        checkpoint_root=f"{work}/ckpt",
        table_resolver=lambda _t: spark.read.parquet(src),
        connection_factories={url: _sqlite_factory(db)},
    )
    eng.register(
        {
            "name": BF_SOURCE,
            "config": {
                "connector.class": "io.confluent.connect.jdbc.JdbcSourceConnector",
                "connection.url": "jdbc:mysql://source:3306/shop",
                "topic.prefix": "bf_",
                "table.whitelist": "orders",
                "mode": "timestamp+incrementing",
                "incrementing.column.name": "id",
                "timestamp.column.name": "updated_at",
                "batch.max.rows": str(BF_BATCH_MAX_ROWS),
                "value.converter": "io.confluent.connect.avro.AvroConverter",
                "value.converter.schema.registry.url": registry,
                "transforms": "key, extract, cast, mask, origin, ts",
                "transforms.key.type": "org.apache.kafka.connect.transforms.ValueToKey",
                "transforms.key.fields": "id",
                "transforms.extract.type": "org.apache.kafka.connect.transforms.ExtractField$Key",
                "transforms.extract.field": "id",
                "transforms.cast.type": "org.apache.kafka.connect.transforms.Cast$Value",
                "transforms.cast.spec": "amount:float64,qty:int32",
                "transforms.mask.type": "org.apache.kafka.connect.transforms.MaskField$Value",
                "transforms.mask.fields": "email",
                "transforms.mask.replacement": gen.MASK,
                "transforms.origin.type": "org.apache.kafka.connect.transforms.InsertField$Value",
                "transforms.origin.static.field": "origin",
                "transforms.origin.static.value": gen.ORIGIN,
                "transforms.ts.type": "org.apache.kafka.connect.transforms.TimestampConverter$Value",
                "transforms.ts.field": "updated_at",
                "transforms.ts.target.type": "string",
                "transforms.ts.format": "yyyy-MM-dd HH:mm:ss",
            },
        }
    )
    sink = {
        "name": "bf_sink",
        "config": {
            "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
            "topics": BF_TOPIC,
            "connection.url": url,
            "insert.mode": "upsert",
            "pk.mode": "record_key",
            "pk.fields": "id",
            "table.name.format": "orders_sink",
            "value.converter": "io.confluent.connect.avro.AvroConverter",
            "value.converter.schema.registry.url": registry,
            "tasks.max": str(SINK_TASKS),
        },
    }
    return table, eng, sink, src, staged, db


def jdbc_backfill(spark, work: str, seed: int, seconds: float, tracer) -> Measure:
    m = Measure()
    for k in range(PREPARE_REPEATS):
        prep, dt_s = _timed(
            lambda: _bf_prepare(spark, os.path.join(work, f"prep{k}"), seed, seconds)
        )
        m.prepare_s.append(dt_s)
    table, eng, sink, src, staged, db = prep

    def warm():
        # the sink resolves its value schema from the registry, which
        # holds it once the source has serialized its first poll
        polled = eng.run_once(BF_SOURCE)[BF_SOURCE]
        eng.register(sink)
        eng.run_once()
        # the rest of the table lands at once: a backlog of ~10^5 rows;
        # its first full-size cycles still belong to the warm-up
        for name in sorted(os.listdir(staged)):
            os.replace(os.path.join(staged, name), os.path.join(src, name))
        for _ in range(BF_WARMUP_CYCLES):
            polled += eng.run_once()[BF_SOURCE]
        return polled

    polled, m.warmup_s = _timed(warm)

    # closed loop: each run_once polls one wave (batch.max.rows in
    # (ts, id) order) and the sink drains it in the same cycle
    tracer.window(True)
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        tracer.tick(len(m.cycles))
        rows, dt_s = _timed(lambda: eng.run_once()[BF_SOURCE])
        if rows <= 0:
            raise RuntimeError(f"jdbc_backfill: source drained after {len(m.cycles)} polls")
        m.cycles.append((dt_s, rows, rows))
    tracer.window(False)

    polled += sum(rows for _, rows, _ in m.cycles)
    want = table.expected(polled)
    cols = "id, updated_at, customer, email, amount, qty, note, origin"
    with sqlite3.connect(db) as c:
        got = {r[0]: tuple(r) for r in c.execute(f"SELECT {cols} FROM orders_sink")}
    bad_keys = sink_mismatches(got, want)
    m.attempted = polled
    m.failed = min(m.attempted, bad_keys)
    m.info = {
        "table_rows": sum(len(w) for w in table.waves),
        "rows_polled": polled,
        "polls": len(m.cycles),
        "keys": len(want),
        "bad_keys": bad_keys,
    }
    tracer.probe(
        spark,
        eng,
        {"avro_topic": BF_TOPIC, "avro_pipeline": BF_SOURCE, "chain_pipeline": BF_SOURCE,
         "chain_input": src},
    )
    return m


# ---------------------------------------------------------------------------
# dedup_ingest
# ---------------------------------------------------------------------------

DD_TOPIC = "docs"
DD_DDL = "doc_id bigint, text string, embedding array<double>"


def stored_rows(index_dir: str, ids: set[int]) -> dict[int, int]:
    """Rows per doc id, for the ids given, over every table of the
    index's current version (the per-batch drop reports aside): what a
    redelivery of those ids must leave unchanged."""
    import pyarrow.parquet as pq

    with open(os.path.join(index_dir, "MANIFEST.json")) as fh:
        version = json.load(fh)["version"]
    counts = dict.fromkeys(ids, 0)
    for table in sorted(os.listdir(index_dir)):
        live = os.path.join(index_dir, table, f"v{version}")
        if table == "reports" or not os.path.isdir(live):
            continue
        for f in glob.glob(os.path.join(live, "**", "*.parquet"), recursive=True):
            for i in pq.read_table(f, columns=["doc_id"]).column(0).to_pylist():
                if i in counts:
                    counts[i] += 1
    return counts


def _append_vectors(store: str, docs: list[tuple], part: int) -> None:
    """Add the docs' rows to the SemDeDup vector store, as the pipeline
    around the SMT must: the index holds only codes, and its exact
    re-rank reads the vectors of earlier survivors from the store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "embedding": pa.array([d[2] for d in docs], pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, os.path.join(store, f"part-stream-{part:05d}.parquet"))


def _dd_prepare(spark, work: str, seed: int):
    from kafkaconnect_spark.operators import hamming_index, lsh_index, pq_index
    from kafkaconnect_spark.operators.dedup import simhash_hex64
    from kafkaconnect_spark.streaming.engine import Engine

    docs = gen.DocStream(seed, DD_CORPUS, DD_BATCH)
    store = os.path.join(work, "corpus")
    spark.createDataFrame(docs.corpus, DD_DDL).write.parquet(store)
    corpus = spark.read.parquet(store)
    idx = {k: os.path.join(work, "index", k) for k in ("hamming", "lsh", "pq")}
    builds = [
        lambda: hamming_index.build(
            simhash_hex64(corpus).withColumnRenamed("simhash_hex", "phash"),
            idx["hamming"], bits=64, bands=8, max_hamming=4,
            band_buckets=DD_BUCKETS, hash_buckets=DD_BUCKETS,
        ),
        lambda: lsh_index.build(
            corpus, idx["lsh"], num_hashes=16, bands=4, n=3, threshold=0.5,
            band_buckets=DD_BUCKETS, shingle_buckets=DD_BUCKETS,
        ),
        lambda: pq_index.build(
            corpus.select("doc_id", "embedding"), idx["pq"],
            n_cells=8, n_sub=4, n_codes=8, id_col="doc_id", vec_col="embedding",
            n_buckets=DD_BUCKETS,
        ),
    ]
    # the builds are driver-bound chains of small jobs on separate
    # directories (none toggles session-wide confs), so they overlap
    with ThreadPoolExecutor(len(builds)) as pool:
        for f in [pool.submit(b) for b in builds]:
            f.result()
    db = os.path.join(work, "sink.db")
    url = "jdbc:sqlite:" + db
    eng = Engine(
        spark,
        servers=f"file://{work}/topics",
        checkpoint_root=f"{work}/ckpt",
        connection_factories={url: _sqlite_factory(db)},
    )
    eng.register(
        {
            "name": "dedup_sink",
            "config": {
                "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
                "topics": DD_TOPIC,
                "connection.url": url,
                "insert.mode": "upsert",
                "pk.mode": "record_key",
                "pk.fields": "doc_id",
                "table.name.format": "docs_kept",
                "value.schema.ddl": DD_DDL,
                "value.converter.schemas.enable": "false",
                "tasks.max": str(SINK_TASKS),
                "transforms": "fp, mh, sem, drop_vec",
                "transforms.fp.type": "kafkaconnect_spark.FingerprintDedupIndex",
                "transforms.fp.index.dir": idx["hamming"],
                "transforms.fp.id.field": "doc_id",
                "transforms.fp.text.field": "text",
                "transforms.mh.type": "kafkaconnect_spark.DedupIndex",
                "transforms.mh.index.dir": idx["lsh"],
                "transforms.mh.id.field": "doc_id",
                "transforms.mh.text.field": "text",
                "transforms.sem.type": "kafkaconnect_spark.SemDeDupIndex",
                "transforms.sem.index.dir": idx["pq"],
                "transforms.sem.vector.store": store,
                "transforms.sem.id.field": "doc_id",
                "transforms.sem.vec.field": "embedding",
                "transforms.sem.threshold": "0.95",
                "transforms.drop_vec.type": "org.apache.kafka.connect.transforms.ReplaceField$Value",
                "transforms.drop_vec.exclude": "embedding",
            },
        }
    )
    return docs, eng, idx, store, db


def dedup_ingest(spark, work: str, seed: int, seconds: float, tracer) -> Measure:
    m = Measure()
    for k in range(PREPARE_REPEATS):
        prep, dt_s = _timed(lambda: _dd_prepare(spark, os.path.join(work, f"prep{k}"), seed))
        m.prepare_s.append(dt_s)
    docs, eng, idx, store, db = prep
    kept: set[int] = set()
    fed = 0

    def cycle(batch) -> tuple[float, int]:
        """Feed one batch and drain it; then the survivors' vectors join
        the store. Returns (seconds inside run_once, docs newly kept)."""
        nonlocal fed
        _produce(spark, eng, [(str(d[0]), gen.doc_json(d)) for d in batch], DD_TOPIC)
        _, dt_s = _timed(eng.run_once)
        fed += len(batch)
        with sqlite3.connect(db) as c:
            new = {r[0] for r in c.execute("SELECT doc_id FROM docs_kept")} - kept
        kept.update(new)
        if new:
            _append_vectors(store, [d for d in batch if d[0] in new], fed)
        return dt_s, len(new)

    def warm():
        for _ in range(DD_WARMUP_BATCHES):
            batch = docs.next_batch()
            cycle(batch)
        return batch

    last, m.warmup_s = _timed(warm)

    # every window batch is a fresh batch plus the producer's exact
    # redelivery of the batch before it; the redelivered ids must leave
    # every index as they found it
    changed: list[tuple[int, str]] = []
    tracer.window(True)
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        fresh = docs.next_batch()
        again = {d[0] for d in last}
        before = {k: stored_rows(d, again) for k, d in idx.items()}
        batch = fresh + last
        tracer.tick(len(m.cycles), [d[0] for d in batch])
        dt_s, n_kept = cycle(batch)
        m.cycles.append((dt_s, len(batch), n_kept))
        changed += [(len(m.cycles), k) for k, d in idx.items() if stored_rows(d, again) != before[k]]
        last = fresh
    tracer.window(False)

    wrong = wrong_verdicts(kept, docs.labels)
    m.attempted = fed
    m.failed = min(m.attempted, len(wrong) + DD_BATCH * len({b for b, _ in changed}))
    kinds: dict[str, int] = {}
    for i in wrong:
        kinds[docs.kinds[i]] = kinds.get(docs.kinds[i], 0) + 1
    m.info = {
        "batches": len(m.cycles),
        "indexes_changed_by_redelivery": changed,
        "unique_docs": len(docs.labels),
        "wrong_verdicts": kinds,
    }
    tracer.probe(spark, eng, {"json_topic": DD_TOPIC, "json_schema": DD_DDL})
    return m


WORKLOADS = {
    "jdbc_backfill": jdbc_backfill,
    "dedup_ingest": dedup_ingest,
}
