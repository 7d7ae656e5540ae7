"""The streaming-dedup skeleton (index_base.StreamingDedup) under its
two id-set regimes and under injected crashes.

- Every SMT runs with the default SMALL_ID_INLINE_CAP and with cap=0,
  which forces every id set into its broadcast-frame form. Both modes
  must give the same survivors, the same report rows and the same
  distinct stored rows; within each mode a replayed batch must leave
  the stored index bytes identical.
- A crash injected (a) before add commits anything or (b) between the
  two table renames inside add must replay to the clean run's state:
  a later near-duplicate of the crashed doc is dropped, and every
  stored table holds the clean run's distinct rows.
- One bounded batch runs fewer Spark jobs than before, touches no
  session conf, labels its jobs by step, and runs beside another
  SMT's batch on a second thread with the sequential answer.
- The store's caches: a delete through another store reaches the next
  batch, and a second batch infers no stored schema.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from kafkaconnect_spark.operators import (
    hamming_index,
    index_base,
    index_fs,
    lsh_index,
    pq_index,
)

KINDS = ("lsh", "pq", "hamming")
DIM = 8

# batch 1: 10 duplicates corpus doc 1; 20/21 duplicate each other (21
# loses the tie-break); 30 is new. Batch 2: 40 duplicates 30.
_TEXT = {
    "corpus": [(1, "a b c d e f g h"), (3, "p q r s t u v w")],
    "b1": [
        (10, "a b c d e f g h"),
        (20, "m1 m2 m3 m4 m5 m6 m7 m8"),
        (21, "m1 m2 m3 m4 m5 m6 m7 m8"),
        (30, "z1 z2 z3 z4 z5 z6 z7 z8"),
    ],
    "b2": [(40, "z1 z2 z3 z4 z5 z6 z7 z8")],
}
_HASH = {
    "corpus": [(1, "00ff00ff00ff00ff"), (3, "0123456789abcdef")],
    "b1": [
        (10, "00ff00ff00ff03ff"),
        (20, "f0f0f0f0f0f0f0f0"),
        (21, "f0f0f0f0f0f0f0f1"),
        (30, "fedcba9876543210"),
    ],
    "b2": [(40, "fedcba9876543211")],
}


def _unit(k):
    return [9.0 if d == k else 0.5 for d in range(DIM)]


_VEC = {
    "corpus": [(1, _unit(0)), (3, _unit(1)), (5, _unit(2)), (7, _unit(3))],
    "b1": [(10, _unit(0)), (20, _unit(4)), (21, _unit(4)), (30, _unit(5))],
    "b2": [(40, _unit(5))],
}
_ROWS = {"lsh": _TEXT, "pq": _VEC, "hamming": _HASH, "hamming_text": _TEXT}
_SCHEMA = {
    "lsh": "doc_id long, text string",
    "hamming_text": "doc_id long, text string",
    "pq": "vec_id long, embedding array<double>",
    "hamming": "doc_id long, phash string",
}
_TABLES = {
    "lsh": lsh_index._LSH_TABLES,
    "pq": pq_index._PQ_TABLES,
    "hamming": hamming_index._HAM_TABLES,
}


def _frame(spark, kind, part):
    return spark.createDataFrame(_ROWS[kind][part], _SCHEMA[kind])


def _build(spark, root, kind) -> str:
    d = str(root / kind)
    corpus = _frame(spark, kind, "corpus")
    if kind == "lsh":
        lsh_index.build(corpus, d, num_hashes=16, bands=4, n=3, threshold=0.5)
    elif kind == "pq":
        # the store holds every vector the scenario uses, so a re-rank
        # never depends on the pipeline's store appends
        spark.createDataFrame(
            [r for p in ("corpus", "b1", "b2") for r in _VEC[p]], _SCHEMA["pq"]
        ).write.parquet(d + "_store")
        pq_index.build(corpus, d, n_cells=4, n_sub=2, n_codes=4, dim=DIM)
    else:
        if kind == "hamming_text":
            from kafkaconnect_spark.operators.dedup import simhash_hex64

            corpus = simhash_hex64(corpus).withColumnRenamed("simhash_hex", "phash")
        hamming_index.build(corpus, d, bits=64, bands=8, max_hamming=4)
    return d


def _transform(kind, d):
    if kind == "lsh":
        return lsh_index.streaming_dedup_transform(d, threshold=0.5)
    if kind == "pq":
        return pq_index.streaming_semdedup_transform(
            d, d + "_store", threshold=0.999, n_probe=4, rerank=20
        )
    if kind == "hamming_text":
        return hamming_index.streaming_fingerprint_dedup_transform(d, text_field="text")
    return hamming_index.streaming_fingerprint_dedup_transform(d, hash_field="phash")


def _run(spark, kind, d, part) -> set:
    """One micro-batch through a FRESH transform (a restarted engine)."""
    records = _frame(spark, kind, part).select(F.struct("*").alias("value"))
    out = _transform(kind, d)(records)
    return {r["value"][0] for r in out.collect()}


def _plain(v):
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


def _stored_rows(spark, kind, d) -> dict:
    mod = {"lsh": lsh_index, "pq": pq_index, "hamming": hamming_index}[kind]
    v = mod._read_manifest(d)["version"]
    def rows(t):
        table = spark.read.parquet(index_base._table_path(d, t, v))
        return sorted({_plain(tuple(r)) for r in table.collect()}, key=repr)

    return {t: rows(t) for t in _TABLES[kind]}


def _report_rows(spark, d) -> set:
    root = os.path.join(d, "reports")
    return {
        _plain(tuple(r))
        for rep in index_fs.listdir(root)
        for r in spark.read.parquet(os.path.join(root, rep)).collect()
    }


def _index_bytes(d) -> dict:
    out = {}
    for base, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if x not in ("reports", ".staging")]
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(params=["default_cap", "cap0"])
def id_cap(request, monkeypatch):
    """Both id-set regimes: the default cap (literal id sets) and cap=0
    (every non-empty id set takes the broadcast-frame path)."""
    if request.param == "cap0":
        monkeypatch.setattr(index_base, "SMALL_ID_INLINE_CAP", 0)
    return request.param


@pytest.fixture(scope="module")
def mode_snapshots() -> dict:
    return {}


@pytest.mark.parametrize("kind", KINDS)
def test_both_id_set_modes_agree_and_replay_is_byte_identical(
    spark, tmp_path, id_cap, kind, mode_snapshots
):
    d = _build(spark, tmp_path, kind)
    survivors = [_run(spark, kind, d, "b1")]
    before = _index_bytes(d)
    survivors.append(_run(spark, kind, d, "b1"))  # replay
    assert _index_bytes(d) == before, "a replay must not touch stored bytes"
    survivors.append(_run(spark, kind, d, "b2"))
    assert survivors == [{20, 30}, {20, 30}, set()]
    snap = (survivors, _report_rows(spark, d), _stored_rows(spark, kind, d))
    # whichever mode runs first is the reference for the other
    assert mode_snapshots.setdefault(kind, snap) == snap


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory):
    """Per kind, the crash-free run's survivors and stored rows."""
    runs: dict = {}

    def get(kind):
        if kind not in runs:
            d = _build(spark, tmp_path_factory.mktemp("clean"), kind)
            surv = [_run(spark, kind, d, "b1"), _run(spark, kind, d, "b2")]
            runs[kind] = (surv, _stored_rows(spark, kind, d))
        return runs[kind]

    return get


@pytest.mark.parametrize(
    "kind,point",
    [("lsh", "a"), ("lsh", "b"), ("hamming", "a"), ("hamming", "b"), ("pq", "a")],
)
def test_crash_replay_matches_the_clean_run(
    spark, tmp_path, clean_runs, monkeypatch, kind, point
):
    """(a) the crash lands after the report write, before add commits
    anything; (b) between add's two table renames. A replay with a
    fresh transform must converge: doc 30 is fully indexed, so its
    later near-duplicate 40 drops exactly as in a clean run."""
    clean_surv, clean_rows = clean_runs(kind)
    d = _build(spark, tmp_path, kind)
    real_move = index_base._move_staged
    moves: list[str] = []

    def crashing_move(staging, dest):
        moves.append(dest)
        if len(moves) == (1 if point == "a" else 2):
            raise RuntimeError("injected crash")
        return real_move(staging, dest)

    monkeypatch.setattr(index_base, "_move_staged", crashing_move)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, kind, d, "b1")
    monkeypatch.setattr(index_base, "_move_staged", real_move)
    assert [_run(spark, kind, d, "b1"), _run(spark, kind, d, "b2")] == clean_surv
    assert _stored_rows(spark, kind, d) == clean_rows


# Spark jobs of one b1 batch per SMT before pinned-schema reads, the
# cached tombstone set, one-job narrow collects and the aggregate-free
# membership probe (commit 7d6f5d8); every SMT must now run fewer
_JOBS_BEFORE = {"lsh": 40, "pq": 34, "hamming": 31}


@pytest.mark.parametrize("kind", KINDS)
def test_one_bounded_batch_runs_no_more_jobs(spark, tmp_path, kind):
    d = _build(spark, tmp_path, kind)
    records = _frame(spark, kind, "b1").select(F.struct("*").alias("value"))
    smt, sc, group = _transform(kind, d), spark.sparkContext, f"smt-jobs-{kind}"
    sc.setJobGroup(group, group)
    try:
        out = smt(records)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {r["value"][0] for r in out.collect()} == {20, 30}
    assert 0 < jobs < _JOBS_BEFORE[kind]


def _exchanges(df) -> list[str]:
    """Exchange nodes of df's physical plan above its checkpoint and
    built-cache leaves. An AQE wrapper is looked through: Spark also
    wraps a plain scan of an AQE-planned cache, with no exchange. A
    cache whose buffers are not built yet is looked into, since its
    first read runs the cached plan."""
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name == "InMemoryTableScanExec":
            rel = node.relation()
            if not rel.cacheBuilder().isCachedColumnBuffersLoaded():
                todo.append(rel.cachedPlan())
        if "Exchange" in name:
            found.append(name)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


@pytest.mark.parametrize("kind", KINDS + ("hamming_text",))
def test_narrow_collects_plan_no_exchange(spark, tmp_path, monkeypatch, kind):
    """inline_rows(narrow=True) coalesces to one partition before its
    limit, which runs the frame's last stage as a single task: that is
    only right on an exchange-free plan, so every such frame of one
    batch must plan without an Exchange. The text-mode fingerprint SMT
    keys its batch by SimHash's groupBy(id), which is persisted but not
    yet built when its rows are collected."""
    d = _build(spark, tmp_path, kind)
    real, seen = index_base.inline_rows, []

    def spy(df, cols, cap=None, narrow=False):
        seen.append((narrow, _exchanges(df)))
        return real(df, cols, cap, narrow)

    monkeypatch.setattr(index_base, "inline_rows", spy)
    assert _run(spark, kind, d, "b1") == {20, 30}
    assert seen[0][0] == (kind != "hamming_text")  # the keyed collect
    assert [ex for narrow, ex in seen if narrow] == [[]] * sum(n for n, _ in seen)


def test_failed_batch_releases_its_caches(spark, tmp_path, monkeypatch):
    """A corpus match that raises after the within-batch pairs are
    materialized must leave none of the batch's caches behind."""
    from pyspark import StorageLevel

    from kafkaconnect_spark.operators import dedup

    d = _build(spark, tmp_path, "lsh")
    tagged, real_track = [], dedup._track_cached

    def track(result, cached):
        tagged.extend(cached)
        return real_track(result, cached)

    def failing_match(*a, **k):
        raise RuntimeError("injected match failure")

    monkeypatch.setattr(dedup, "_track_cached", track)
    monkeypatch.setattr(lsh_index, "_match", failing_match)
    with pytest.raises(RuntimeError, match="injected match failure"):
        _run(spark, "lsh", d, "b1")
    assert tagged  # the within-batch verify's candidate cache
    assert [f.storageLevel for f in tagged] == [StorageLevel.NONE] * len(tagged)


@pytest.mark.parametrize("kind", KINDS)
def test_a_batch_sets_no_session_conf(spark, tmp_path, monkeypatch, kind):
    """Session confs are shared by every thread of the driver, so a
    batch must not toggle one (two pipelines run their SMT chains on
    their own threads)."""
    d = _build(spark, tmp_path, kind)
    calls = []
    real = type(spark.conf).set

    def spy(self, key, value=None):
        calls.append(key)
        return real(self, key, value)

    monkeypatch.setattr(type(spark.conf), "set", spy)
    assert _run(spark, kind, d, "b1") == {20, 30}
    assert calls == []


def _run_with_report(spark, kind, d, part):
    return _run(spark, kind, d, part), _report_rows(spark, d)


def test_two_smts_on_two_threads_match_sequential_runs(spark, tmp_path):
    """An lsh batch and a pq batch running at once on two threads, over
    separate index dirs, give the survivors and report rows of the
    same batches run one after the other."""
    seq = {k: _run_with_report(spark, k, _build(spark, tmp_path / "seq", k), "b1")
           for k in ("lsh", "pq")}
    dirs = {k: _build(spark, tmp_path / "par", k) for k in ("lsh", "pq")}
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = {k: pool.submit(_run_with_report, spark, k, d, "b1") for k, d in dirs.items()}
    assert {k: f.result() for k, f in futures.items()} == seq
    assert seq["lsh"][0] == seq["pq"][0] == {20, 30}


@pytest.mark.parametrize("kind", KINDS)
def test_each_step_labels_its_jobs(spark, tmp_path, monkeypatch, kind):
    """Every step runs under the job description smt:<module>:<step>,
    the report write and add's staging writes on their threads too,
    and the caller's description is back when the batch returns."""
    d, sc = _build(spark, tmp_path, kind), spark.sparkContext
    key, seen, writes = "spark.job.description", [], []
    real_rows, real_write = index_base.inline_rows, DataFrameWriter.parquet

    def rows_spy(df, cols, cap=None, narrow=False):
        seen.append(sc.getLocalProperty(key))
        return real_rows(df, cols, cap, narrow)

    def write_spy(self, path, *a, **k):
        writes.append((os.path.relpath(path, d).split(os.sep)[0], sc.getLocalProperty(key)))
        return real_write(self, path, *a, **k)

    monkeypatch.setattr(index_base, "inline_rows", rows_spy)
    monkeypatch.setattr(DataFrameWriter, "parquet", write_spy)
    sc.setLocalProperty(key, "caller")
    try:
        assert _run(spark, kind, d, "b1") == {20, 30}
        assert sc.getLocalProperty(key) == "caller"
    finally:
        sc.setLocalProperty(key, None)
    label = f"smt:{kind}_index:"
    assert {label + s for s in ("keyed", "membership", "self", "report")} <= set(seen)
    assert all(x.startswith(label) for x in seen)
    assert sorted(set(writes)) == [(".staging", label + "add"), ("reports", label + "report")]


def _other_store(kind) -> index_base.IndexStore:
    """A second store over the same tables: another process's view."""
    st = {"lsh": lsh_index, "pq": pq_index, "hamming": hamming_index}[kind].STORE
    return index_base.IndexStore(st.module, st.tables, (), st.why)


@pytest.mark.parametrize("kind", KINDS)
def test_a_delete_by_another_store_reaches_the_next_batch(spark, tmp_path, kind):
    """The tombstone set is cached while the log's file listing holds:
    a delete through a second store between two batches adds a part
    file, so the second batch reads the log again. Doc 30, appended by
    the first batch, is deleted; its near-duplicate 40 then survives."""
    d = _build(spark, tmp_path, kind)
    assert _run(spark, kind, d, "b1") == {20, 30}
    assert _other_store(kind).delete(spark, d, [30]) == 1
    assert _run(spark, kind, d, "b2") == {40}


@pytest.mark.parametrize("kind", KINDS)
def test_a_second_batch_infers_no_stored_schema(spark, tmp_path, monkeypatch, kind):
    """After a first batch, each stored table and tombstone log read by
    the next batch is given its cached schema: no parquet read under
    the index dir runs schema inference (a job per read)."""
    d = _build(spark, tmp_path, kind)
    assert _run(spark, kind, d, "b1") == {20, 30}
    inferred, real_schema, real_parquet = [], DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._pinned = True
        return real_schema(self, s)

    def parquet(self, *paths, **k):
        if not getattr(self, "_pinned", False):
            inferred.extend(p for p in paths if p.startswith(os.path.join(d, "")))
        return real_parquet(self, *paths, **k)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    assert _run(spark, kind, d, "b2") == set()
    assert inferred == []
