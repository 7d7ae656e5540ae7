"""Small-id-set inlining: the two forms of index_base.IdSet —
collected literals (InSet predicates) and a broadcast frame (joins) —
must be EXACTLY equivalent in every consumer (drop_from, keep_in,
flag via the winner rule, union, the membership probe), and
IdSet.of must fall back to the frame form past the cap."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafkaconnect_spark.operators import index_base
from kafkaconnect_spark.operators.index_base import (
    IdSet,
    _shingle_bucket_expr,
    _winner_rule_drops,
    drop_ids_filter,
    inline_ids,
    keep_ids_pred,
    local_bucket_set,
)


def _both(spark, ids, col="doc_id", dtype="bigint"):
    """The same id set in its literal and its frame form."""
    frame = spark.createDataFrame([(i,) for i in ids], f"{col} {dtype}")
    return IdSet(sorted(ids)), IdSet.wrap(frame)


@pytest.fixture(scope="module")
def spark():
    from kafkaconnect_spark.session import get_spark

    return get_spark("test-inline-ids", master="local[4]", shuffle_partitions=4)


def test_inline_ids_roundtrip_and_cap(spark):
    df = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    assert inline_ids(df, "doc_id") == sorted(range(100))
    # cap: raw-row bound is conservative — over it, fall back (None)
    assert inline_ids(df, "doc_id", cap=50) is None
    # duplicate rows under the cap still dedupe exactly
    dup = df.unionAll(df.limit(10))
    assert inline_ids(dup, "doc_id", cap=200) == sorted(range(100))


def test_inline_ids_drops_nulls_and_refuses_exotic_types(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1), Row(doc_id=None), Row(doc_id=3)]
    )
    assert inline_ids(df, "doc_id") == [1, 3]
    # a non-int/str id type refuses (callers keep the join path)
    floats = spark.createDataFrame([Row(doc_id=1.5)])
    assert inline_ids(floats, "doc_id") is None


def test_drop_ids_filter_matches_anti_join_incl_nulls(spark):
    left = spark.createDataFrame(
        [Row(doc_id=i) for i in range(10)] + [Row(doc_id=None)]
    )
    lit, frame = _both(spark, [2, 5, 7])
    via_join = {r.doc_id for r in frame.drop_from(left, "doc_id").collect()}
    via_filter = {r.doc_id for r in lit.drop_from(left, "doc_id").collect()}
    assert via_filter == via_join  # null row KEPT on both paths
    assert None in via_filter and not via_filter & {2, 5, 7}
    # empty set: no-op, identical frame
    assert drop_ids_filter(left, "doc_id", []) is left
    assert IdSet([]).drop_from(left, "doc_id") is left


def test_keep_ids_pred_matches_semi_join(spark):
    left = spark.createDataFrame(
        [Row(doc_id=i) for i in range(10)] + [Row(doc_id=None)]
    )
    lit, frame = _both(spark, [1, 4])
    via_join = {r.doc_id for r in frame.keep_in(left, "doc_id").collect()}
    via_pred = {r.doc_id for r in lit.keep_in(left, "doc_id").collect()}
    assert via_pred == via_join == {1, 4}
    # empty set keeps nothing — matches a semi-join vs an empty frame
    assert left.where(keep_ids_pred("doc_id", [])).count() == 0
    _lit0, frame0 = _both(spark, [])
    assert frame0.keep_in(left, "doc_id").count() == 0


def test_id_set_of_respects_the_cap_at_call_time(spark, monkeypatch):
    """IdSet.of reads SMALL_ID_INLINE_CAP when called, so lowering it
    (the cap=0 test mode) switches every consumer to the frame form —
    which is materialized, and filters a nested SQL column the same."""
    df = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    assert IdSet.of(df).ids == list(range(20))
    monkeypatch.setattr(index_base, "SMALL_ID_INLINE_CAP", 0)
    framed = IdSet.of(df)
    assert framed.ids is None and framed.frame is not None
    recs = spark.range(0, 30).select(F.struct(F.col("id").alias("doc_id")).alias("value"))
    kept = {r["value"]["doc_id"] for r in framed.drop_from(recs, "value.doc_id").collect()}
    assert kept == set(range(20, 30))
    # an empty set stays literal even at cap=0 (nothing to inline)
    assert IdSet.of(df.where("doc_id < 0")).ids == []


def test_id_set_union_of_mixed_forms(spark):
    lit_a, _ = _both(spark, [1, 2])
    lit_b, frame_b = _both(spark, [2, 3])
    assert lit_a.union(lit_b).ids == [1, 2, 3]
    mixed = lit_a.union(frame_b)
    assert mixed.ids is None
    left = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    got = {r.doc_id for r in mixed.drop_from(left, "doc_id").collect()}
    assert got == {0, 4, 5}


def test_string_ids_quote_and_escape(spark):
    tricky = ["plain", "o'brien", "back\\slash", "both\\'x"]
    df = spark.createDataFrame([Row(k=s) for s in tricky + ["other"]])
    got = {r.k for r in df.where(keep_ids_pred("k", tricky)).collect()}
    assert got == set(tricky)
    kept = {r.k for r in drop_ids_filter(df, "k", tricky).collect()}
    assert kept == {"other"}


def test_winner_rule_literal_matches_join_path(spark):
    pairs = spark.createDataFrame(
        [
            Row(id_new=1, id_corpus=2, jaccard=0.9),   # corpus indexed
            Row(id_new=2, id_corpus=1, jaccard=0.9),   # new indexed
            Row(id_new=3, id_corpus=4, jaccard=0.8),   # both fresh, 4<3? no
            Row(id_new=4, id_corpus=3, jaccard=0.8),   # both fresh, 3<4 drop
            Row(id_new=5, id_corpus=6, jaccard=0.7),   # both indexed, 6<5? no
            Row(id_new=6, id_corpus=5, jaccard=0.7),   # both indexed, 5<6 drop
        ]
    )
    def drops(pre):
        return {
            (r.id_new, r.id_corpus)
            for r in _winner_rule_drops(pairs, pre, "id_new", "id_corpus").collect()
        }

    lit, frame = _both(spark, [2, 5, 6])
    assert drops(lit) == drops(frame) == {(1, 2), (4, 3), (6, 5)}
    # empty membership: pure lowest-id tie-break on both paths
    lit0, frame0 = _both(spark, [])
    assert drops(lit0) == drops(frame0) == {(2, 1), (4, 3), (6, 5)}


def test_local_bucket_set_matches_cluster_eval_and_runs_no_job(spark):
    ids = [0, 1, 7, 12345, 10**12 + 17]
    n = 16
    df = spark.createDataFrame([Row(doc_id=i) for i in ids])
    cluster = {
        r[0]
        for r in df.select(_shingle_bucket_expr(n, "doc_id").alias("b")).collect()
    }
    spark.sparkContext.setJobGroup("lbs-probe", "local_bucket_set must fold")
    try:
        local = local_bucket_set(
            spark, ids, lambda c: _shingle_bucket_expr(n, c), "doc_id"
        )
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("lbs-probe")
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert set(local) == cluster
    assert jobs == [], "local_bucket_set must not launch a cluster job"
    # string ids hash via the same canonical-string path
    sids = ["a", "o'x", "b"]
    sdf = spark.createDataFrame([Row(doc_id=s) for s in sids])
    assert set(
        local_bucket_set(spark, sids, lambda c: _shingle_bucket_expr(n, c), "doc_id")
    ) == {
        r[0]
        for r in sdf.select(_shingle_bucket_expr(n, "doc_id").alias("b")).collect()
    }


def test_membership_probe_literal_matches_join_path(spark, tmp_path):
    from kafkaconnect_spark.operators import lsh_index

    def probe(ids):
        return {r.doc_id for r in lsh_index.STORE.probe(spark, d, m, ids).collect()}

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i} epsilon zeta") for i in range(30)]
    )
    d = str(tmp_path / "lsh")
    lsh_index.build(docs, d, num_hashes=8, bands=4, n=3, threshold=0.2)
    m = lsh_index._read_manifest(d)
    lit, frame = _both(spark, range(20, 40))  # half stored, half absent
    assert probe(lit) == probe(frame) == set(range(20, 30))
    lit0, frame0 = _both(spark, [])
    assert probe(lit0) == probe(frame0) == set()


def test_small_tombstone_ids_inline_and_size_gate(spark, tmp_path, monkeypatch):
    from kafkaconnect_spark.operators import lsh_index

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i} epsilon zeta") for i in range(10)]
    )
    d = str(tmp_path / "lsh")
    lsh_index.build(docs, d, num_hashes=8, bands=4, n=3, threshold=0.2)
    v = lsh_index._read_manifest(d)["version"]
    tomb_dir = index_base._table_path(d, "tombstones", v)

    def log():
        return spark.read.parquet(tomb_dir)

    assert index_base.small_tombstone_ids(log(), tomb_dir) == []  # empty log
    lsh_index.delete(spark, d, [3, 5])
    assert index_base.small_tombstone_ids(log(), tomb_dir) == [3, 5]
    monkeypatch.setattr(index_base, "TOMBSTONE_BROADCAST_MAX_BYTES", 0)
    assert index_base.small_tombstone_ids(log(), tomb_dir) is None


def test_stage_pair_then_move_commits_first_table_first(spark, tmp_path, monkeypatch):
    """The overlapped staging must keep the crash-ordering contract:
    _move_staged runs for `first` strictly before `second` — for
    lsh_index.add, the membership table (shingles) last."""
    from kafkaconnect_spark.operators import lsh_index

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i} epsilon zeta") for i in range(8)]
    )
    d = str(tmp_path / "lsh")
    lsh_index.build(docs.where("doc_id < 4"), d, num_hashes=8, bands=4, n=3, threshold=0.2)
    order: list[str] = []
    real_move = index_base._move_staged

    def spy(staging, dest):
        order.append(dest.split("/")[-2])  # table name
        return real_move(staging, dest)

    monkeypatch.setattr(index_base, "_move_staged", spy)
    # lsh_index.add imports stage_pair_then_move from index_base at
    # module load; the spy patches the function IT calls internally
    lsh_index.add(spark, d, docs.where("doc_id >= 4"))
    assert order == ["bands", "shingles"]
    # and the appended rows are all present
    m = lsh_index._read_manifest(d)
    sh = spark.read.parquet(index_base._table_path(d, "shingles", m["version"]))
    assert {r.doc_id for r in sh.select("doc_id").collect()} == set(range(8))
