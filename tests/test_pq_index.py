"""Persistent IVF-PQ index lifecycle (operators/pq_index.py): match
equals the inline ivfpq search with the same quantizers, the steady
state never re-codes the corpus (plan-pinned), erasure suppresses
immediately and compacts physically, trained quantizers round-trip
through the manifest, and writers are mutually excluded."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafkaconnect_spark.operators import pq_index, similarity
from kafkaconnect_spark.operators.lsh_index import IndexWriterLockError

DIM = 8
N_SUB = 2


def _vecs(spark, ids):
    """Deterministic low-dim embeddings: two obvious clusters so ANN
    results are stable and meaningful."""
    rows = []
    for i in ids:
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base + (i % 7) * 0.01 * (d + 1) for d in range(DIM)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


CORPUS_IDS = list(range(10, 40))
BATCH_IDS = list(range(40, 50))
QUERY_IDS = [100, 101]


@pytest.fixture()
def index(spark, tmp_path):
    d = str(tmp_path / "pqidx")
    pq_index.build(
        _vecs(spark, CORPUS_IDS), d, n_cells=4, n_sub=N_SUB, n_codes=4, dim=DIM
    )
    return d


def _queries(spark):
    return _vecs(spark, QUERY_IDS).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_match_equals_inline_ivfpq(spark, index):
    """Stored-codes search == the inline recompute search with the
    same quantizers — the index changes WHERE codes come from, never
    what they are."""
    corpus = _vecs(spark, CORPUS_IDS)
    q = _queries(spark)
    got = {
        (r.query_id, r.neighbor_id, r.cosine, r.adc_dist, r.rank)
        for r in pq_index.match(
            spark, index, q, corpus, k=5, n_probe=2, rerank=10
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cosine, r.adc_dist, r.rank)
        for r in similarity.ivfpq_ann_topk(
            corpus, q, k=5, n_cells=4, n_probe=2, n_sub=N_SUB, n_codes=4,
            rerank=10, dim=DIM,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_match_plan_reads_stored_codes_never_recodes(spark, index):
    """Zero corpus re-coding in the steady state: the plan reads the
    stored codes table, and the PQ assignment kernel ('negdist'
    argmin structs — present in every coding expression) appears
    NOWHERE (queries are handled via ADC lookup tables, not codes)."""
    df = pq_index.match(
        spark, index, _queries(spark), _vecs(spark, CORPUS_IDS), k=5
    )
    # file scans via inputFiles (the plan string truncates long file:
    # locations at ~100 chars, which can cut off the suffix)
    files = df.inputFiles()
    assert any(f"{index}/codes/v1/" in f for f in files)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "negdist" not in plan


def test_match_never_calls_coding_kernel(spark, index, monkeypatch):
    calls: list[int] = []
    orig = pq_index._code_cols

    def counted(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(pq_index, "_code_cols", counted)
    pq_index.match(spark, index, _queries(spark), _vecs(spark, CORPUS_IDS)).collect()
    assert calls == []
    pq_index.append(spark, index, _vecs(spark, BATCH_IDS))
    assert len(calls) == 1  # append codes the BATCH (once), nothing else


def test_append_extends_matches(spark, index):
    corpus = _vecs(spark, CORPUS_IDS)
    q = _queries(spark)
    before = {
        r.neighbor_id
        for r in pq_index.match(spark, index, q, corpus, k=30, rerank=60).collect()
    }
    assert before and before <= set(CORPUS_IDS)
    pq_index.append(spark, index, _vecs(spark, BATCH_IDS))
    all_vecs = _vecs(spark, CORPUS_IDS + BATCH_IDS)
    after = {
        r.neighbor_id
        for r in pq_index.match(spark, index, q, all_vecs, k=30, rerank=60).collect()
    }
    assert after & set(BATCH_IDS), "appended vectors must become matchable"


def test_delete_suppresses_then_compact_drops(spark, index):
    corpus = _vecs(spark, CORPUS_IDS)
    q = _queries(spark)
    victim = CORPUS_IDS[0]
    assert pq_index.delete(spark, index, [victim]) == 1
    got = {
        r.neighbor_id
        for r in pq_index.match(spark, index, q, corpus, k=30, rerank=60).collect()
    }
    assert victim not in got  # immediate suppression, pre-compact
    res = pq_index.compact(spark, index)
    assert res["n_tombstones_dropped"] == 1
    assert res["n_vectors"] == len(CORPUS_IDS) - 1
    codes, _ = pq_index._codes_table(spark, index)
    assert victim not in {r.vec_id for r in codes.select("vec_id").collect()}
    # re-append after compact: the id is a stranger again and re-enters
    pq_index.append(spark, index, _vecs(spark, [victim]))
    got2 = {
        r.neighbor_id
        for r in pq_index.match(spark, index, q, corpus, k=30, rerank=60).collect()
    }
    assert victim in got2 or got2  # present in index again (may rank out)
    codes2, _ = pq_index._codes_table(spark, index)
    assert victim in {r.vec_id for r in codes2.select("vec_id").collect()}


def test_exhaustive_probe_full_rerank_equals_brute_force(spark, index):
    """The IVF-PQ invariant: probing every cell with rerank ≥ corpus
    reduces to exact brute force (ADC only mis-orders the SHORTLIST,
    and here nothing is cut)."""
    corpus = _vecs(spark, CORPUS_IDS)
    q = _queries(spark)
    ann = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_index.match(
            spark, index, q, corpus, k=5, n_probe=4, rerank=len(CORPUS_IDS)
        ).collect()
    }
    bf = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.brute_force_topk(corpus, q, k=5).collect()
    }
    assert ann == bf


def test_trained_quantizers_roundtrip_manifest(spark, tmp_path):
    """train_rounds=2 trains Lloyd centroids/codebooks, pins them in
    the manifest, and match still satisfies the brute-force invariant
    (training changes the partition quality, never correctness)."""
    d = str(tmp_path / "pqtrained")
    corpus = _vecs(spark, CORPUS_IDS)
    pq_index.build(
        corpus, d, n_cells=4, n_sub=N_SUB, n_codes=4, dim=DIM, train_rounds=2
    )
    m = pq_index._read_manifest(d)
    assert m["train_rounds"] == 2
    assert [cid for cid, _ in m["centroids"]] == [0, 1, 2, 3]  # synthetic ids
    q = _queries(spark)
    ann = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_index.match(
            spark, d, q, corpus, k=5, n_probe=4, rerank=len(CORPUS_IDS)
        ).collect()
    }
    bf = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.brute_force_topk(corpus, q, k=5).collect()
    }
    assert ann == bf


def test_writer_lock_excludes_second_writer(spark, index):
    from kafkaconnect_spark.operators.lsh_index import _writer_lock

    with _writer_lock(index):
        with pytest.raises(IndexWriterLockError):
            pq_index.delete(spark, index, [CORPUS_IDS[0]])
        with pytest.raises(IndexWriterLockError):
            pq_index.append(spark, index, _vecs(spark, BATCH_IDS))
        with pytest.raises(IndexWriterLockError):
            pq_index.compact(spark, index)


def test_compact_carries_forward_late_tombstones(spark, index):
    import shutil as _sh

    pq_index.delete(spark, index, [CORPUS_IDS[0]])
    v = pq_index._read_manifest(index)["version"]
    tomb_dir = pq_index._table_path(index, "tombstones", v)
    late_id = CORPUS_IDS[1]

    def late_delete():
        late = spark.createDataFrame([(late_id,)], "vec_id long")
        tmp = os.path.join(index, "__late")
        late.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                _sh.move(os.path.join(tmp, f), os.path.join(tomb_dir, "late-" + f))
        _sh.rmtree(tmp)

    try:
        pq_index._POST_SNAPSHOT_HOOK = late_delete
        res = pq_index.compact(spark, index)
    finally:
        pq_index._POST_SNAPSHOT_HOOK = None
    assert res["n_tombstones_dropped"] == 1
    carried = {
        r.vec_id
        for r in spark.read.parquet(
            pq_index._table_path(index, "tombstones", v + 1)
        ).collect()
    }
    assert carried == {late_id}
    # suppression live post-compact: the late-erased id never matches
    got = {
        r.neighbor_id
        for r in pq_index.match(
            spark, index, _queries(spark), _vecs(spark, CORPUS_IDS),
            k=30, rerank=60,
        ).collect()
    }
    assert late_id not in got


def test_streaming_semdedup_transform(spark, tmp_path):
    """The vector twin of the DedupIndex SMT: micro-batch records
    whose embedding near-duplicates the indexed corpus (cosine ≥ τ)
    drop with a durable report; survivors append and block the NEXT
    batch's duplicates — across the same chain contract the engine's
    foreachBatch applies."""
    from kafkaconnect_spark.operators.transforms import build_transform_chain
    from kafkaconnect_spark.plans.spec import TransformSpec

    d = str(tmp_path / "semidx")
    corpus = _vecs(spark, CORPUS_IDS)
    store = str(tmp_path / "store")
    corpus.write.parquet(store)
    pq_index.build(corpus, d, n_cells=4, n_sub=N_SUB, n_codes=4, dim=DIM)

    chain = build_transform_chain(
        [
            TransformSpec(
                alias="sem",
                type="kafkaconnect_spark.SemDeDupIndex",
                params={
                    "index.dir": d,
                    "vector.store": store,
                    "threshold": "0.999999",
                    "n.probe": "4",
                    "rerank": "60",
                },
            )
        ]
    )

    def _records(rows):
        return spark.createDataFrame(
            [(r,) for r in rows],
            "value struct<vec_id:long, embedding:array<double>>",
        )

    # batch 1: 200 duplicates corpus id 12 exactly (cosine 1); 201 is
    # far from everything (opposite-sign cluster pattern, unique)
    dup_vec = [float(x) for x in corpus.where("vec_id = 12").first()[1]]
    novel1 = [7.0 + i * 0.31 for i in range(DIM)]
    out1 = chain(_records([(200, dup_vec), (201, novel1)]))
    ids1 = {r["value"]["vec_id"] for r in out1.collect()}
    assert ids1 == {201}
    # the pipeline contract: the SINK appends batch-1 survivors to the
    # vector store before the next drain (the store is the sink's lake
    # table); the transform's own append already put them in the INDEX
    spark.createDataFrame(
        [(201, novel1)], "vec_id long, embedding array<double>"
    ).write.mode("append").parquet(store)
    # batch 2: 300 duplicates SURVIVOR 201 (in the index only via the
    # stream's append) → dropped; 301 novel → survives
    novel2 = [-3.0 - i * 0.17 for i in range(DIM)]
    out2 = chain(_records([(300, novel1), (301, novel2)]))
    ids2 = {r["value"]["vec_id"] for r in out2.collect()}
    assert ids2 == {301}
    # the drop reports are durable and name the right neighbors
    import glob as _glob

    pairs = set()
    for rep in _glob.glob(f"{d}/reports/stream-*"):
        pairs |= {
            (r.query_id, r.neighbor_id)
            for r in spark.read.parquet(rep).collect()
        }
    assert (200, 12) in pairs and (300, 201) in pairs


# ---------------------------------------------------------------------------
# candidate-volume guard (r10 — the vector twin of hamming_index's
# hot-pair skew line). The gate-scale no-misfire check is every OTHER
# SMT test in this file and test_index_r8.py: they all run with the
# default max_candidate_pairs and would fail on a spurious refusal.
# ---------------------------------------------------------------------------


def test_semdedup_smt_refuses_past_candidate_line(spark, tmp_path):
    d = str(tmp_path / "pqidx")
    store = str(tmp_path / "store.parquet")
    corpus = _vecs(spark, range(10, 40))
    corpus.write.parquet(store)
    pq_index.build(corpus, d, n_cells=2, n_sub=N_SUB, n_codes=4, dim=DIM)
    transform = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=5, max_candidate_pairs=10
    )
    batch = _vecs(spark, range(100, 120)).select(
        F.struct("vec_id", "embedding").alias("value")
    )
    # the message must name the geometry fix, not just fail
    with pytest.raises(ValueError, match="n_cells"):
        transform(batch)
    # a refused batch left no trace: nothing appended, no report dir
    codes, m = pq_index._codes_table(spark, d)
    assert codes.where(F.col(m["id_col"]) >= 100).count() == 0
    import glob as _glob

    assert _glob.glob(f"{d}/reports/stream-*") == []


def test_semdedup_smt_warns_between_lines(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pq_index, "CANDIDATE_WARN_PAIRS", 1)
    d = str(tmp_path / "pqidx")
    store = str(tmp_path / "store.parquet")
    corpus = _vecs(spark, range(10, 40))
    corpus.write.parquet(store)
    pq_index.build(corpus, d, n_cells=2, n_sub=N_SUB, n_codes=4, dim=DIM)
    transform = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=5
    )
    # two distinct near-orthogonal-to-corpus vectors (corpus vecs are
    # all-positive or all-negative; these alternate) that are also not
    # near-dups of each other
    v1 = [9.0 if dd % 2 == 0 else -9.0 for dd in range(DIM)]
    v2 = [9.0 if dd % 4 < 2 else -9.0 for dd in range(DIM)]
    batch = spark.createDataFrame(
        [(100, v1), (101, v2)], "vec_id long, embedding array<double>"
    ).select(F.struct("vec_id", "embedding").alias("value"))
    with pytest.warns(UserWarning, match="candidate pairs"):
        out = transform(batch)
        n = out.count()
    # warned but PROCEEDED: both novel records survive and were appended
    assert n == 2
    codes, m = pq_index._codes_table(spark, d)
    assert codes.where(F.col(m["id_col"]) >= 100).count() == 2


def test_guard_corpus_histogram_tracks_appends(spark, tmp_path, monkeypatch):
    """The guard's cached corpus histogram must (a) grow with the
    transform's OWN appends without rescanning, (b) not grow on
    batches that append nothing, and (c) agree with a fresh
    instance's rescan — the per-batch full codes scan it replaces
    would be minutes per micro-batch at 10 B stored codes. The est is
    read back from the warning message (warn line pinned below 0)."""
    import re
    import warnings as _w

    monkeypatch.setattr(pq_index, "CANDIDATE_WARN_PAIRS", -1)

    def est_of(transform, batch):
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            transform(batch).count()
        msgs = [str(c.message) for c in caught
                if "candidate pairs" in str(c.message)]
        assert msgs, "guard warning must fire with the line at -1"
        return int(re.search(r"routes ~([\d,]+) candidate", msgs[0])
                   .group(1).replace(",", ""))

    d = str(tmp_path / "pqidx")
    store = str(tmp_path / "store.parquet")
    corpus = _vecs(spark, range(10, 40))  # 30 vectors
    corpus.write.parquet(store)
    pq_index.build(corpus, d, n_cells=2, n_sub=N_SUB, n_codes=4, dim=DIM)

    alt = [9.0 if dd % 2 == 0 else -9.0 for dd in range(DIM)]

    def batch(ids):
        # near-orthogonal to the whole corpus (alternating signs) →
        # novel; identical EMBEDDINGS across calls → identical probe
        # and batch histograms, so est differences isolate the CORPUS
        # term
        return spark.createDataFrame(
            [(i, alt) for i in ids], "vec_id long, embedding array<double>"
        ).select(F.struct("vec_id", "embedding").alias("value"))

    t = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64
    )
    est1 = est_of(t, batch([100]))        # corpus 30 → id 100 appends
    # the surrounding pipeline appends survivors to the vector store
    # (the SMT contract) — without it, 100's twins could never confirm
    # a drop on the exact re-rank and would keep appending
    spark.createDataFrame(
        [(100, alt)], "vec_id long, embedding array<double>"
    ).write.mode("append").parquet(store)
    est2 = est_of(t, batch([200]))        # vs corpus 31: cache grew
    assert est2 > est1
    # 200 was a hamming-0 twin of the now-indexed 100 → dropped, no
    # append → the cached histogram must NOT have grown
    est3 = est_of(t, batch([300]))
    assert est3 == est2
    # a fresh instance rescans — and must agree with the incremental
    t2 = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64
    )
    assert est_of(t2, batch([400])) == est3


def test_guard_histogram_rescans_on_external_generation_bump(
    spark, tmp_path, monkeypatch
):
    """The guard cache's invalidation contract (r10 docstring, now a
    test): the cached corpus histogram is trusted only while the index
    GENERATION it was built against is current. A concurrent external
    compact or retrain commits generation v+1 — physically dropping
    tombstoned codes, or renumbering every cell — and the next batch
    MUST rescan instead of trusting the stale counts. Removing the
    ``self.hist_version != b.m["version"]`` check makes both
    halves of this test fail: the post-compact est would still count
    the erased codes, and the post-retrain est would price new cell
    ids against the old geometry's histogram."""
    import re
    import warnings as _w

    monkeypatch.setattr(pq_index, "CANDIDATE_WARN_PAIRS", -1)

    def est_of(transform, batch):
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            transform(batch).count()
        msgs = [str(c.message) for c in caught
                if "candidate pairs" in str(c.message)]
        assert msgs, "guard warning must fire with the line at -1"
        return int(re.search(r"routes ~([\d,]+) candidate", msgs[0])
                   .group(1).replace(",", ""))

    d = str(tmp_path / "pqidx")
    store = str(tmp_path / "store.parquet")
    corpus = _vecs(spark, range(10, 40))  # 30 vectors
    corpus.write.parquet(store)
    pq_index.build(corpus, d, n_cells=2, n_sub=N_SUB, n_codes=4, dim=DIM)

    alt = [9.0 if dd % 2 == 0 else -9.0 for dd in range(DIM)]

    def batch(ids):
        # identical embeddings across calls → identical probe/batch
        # histograms, so est differences isolate the CORPUS term
        # (same construction as the tracks-appends test above)
        return spark.createDataFrame(
            [(i, alt) for i in ids], "vec_id long, embedding array<double>"
        ).select(F.struct("vec_id", "embedding").alias("value"))

    t = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64
    )
    est1 = est_of(t, batch([100]))  # caches the v1 histogram; 100 appends
    spark.createDataFrame(
        [(100, alt)], "vec_id long, embedding array<double>"
    ).write.mode("append").parquet(store)

    # -- external writer: erase a third of the corpus and compact with
    # keep_generations=0 → generation bump, codes physically gone --
    pq_index.delete(spark, d, list(range(10, 20)))
    pq_index.compact(spark, d, keep_generations=0)

    # 200 is a twin of indexed 100 → dropped, nothing appended: the
    # est must reflect the RESCANNED post-compact corpus (21 codes),
    # i.e. agree exactly with a fresh instance's cold scan — and sit
    # strictly below the stale pre-compact count's pricing
    est2 = est_of(t, batch([200]))
    t_fresh = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64
    )
    assert est2 == est_of(t_fresh, batch([300]))
    assert est2 < est1

    # -- external retrain to a different geometry: cells renumbered,
    # manifest version bumps again; the cached (old-geometry) counts
    # are semantically meaningless and must be dropped --
    pq_index.retrain(spark, d, spark.read.parquet(store), n_cells=4)
    est3 = est_of(t, batch([400]))
    t_fresh2 = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64
    )
    assert est3 == est_of(t_fresh2, batch([500]))


def test_retrain_to_rule_sizes_cells_from_membership(spark, tmp_path):
    """The SemDeDup guard's refusal names "retrain with n_cells ≈
    corpus/250" — retrain_to_rule is that sentence as a call: n_cells
    = ceil(current membership / cell_size), membership = stored code
    ids minus tombstones. Deterministic unblock bound: a one-record
    batch's guard estimate can never exceed membership + 1, so a line
    that refused the undersized geometry (est = corpus + 1) must pass
    after the rule resizes the cells and compaction drops the
    tombstoned third."""
    d = str(tmp_path / "pqidx")
    store = str(tmp_path / "store.parquet")
    corpus = _vecs(spark, range(10, 40))  # 30 vectors
    corpus.write.parquet(store)
    pq_index.build(corpus, d, n_cells=2, n_sub=N_SUB, n_codes=4, dim=DIM)

    alt = [9.0 if dd % 2 == 0 else -9.0 for dd in range(DIM)]
    batch = spark.createDataFrame(
        [(100, alt)], "vec_id long, embedding array<double>"
    ).select(F.struct("vec_id", "embedding").alias("value"))

    # n_cells=2, n_probe=2 probes every cell: est = 30 corpus + 1
    # within-batch > 25 → the guard refuses
    t = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64,
        max_candidate_pairs=25,
    )
    with pytest.raises(ValueError, match="n_cells"):
        t(batch)

    pq_index.delete(spark, d, list(range(10, 20)))  # membership → 20
    out = pq_index.retrain_to_rule(spark, d, corpus, cell_size=5)
    assert out["membership"] == 20
    assert out["n_cells"] == 4  # ceil(20 / 5)
    m = pq_index._read_manifest(d)
    assert m["n_cells"] == 4 and m["version"] == 2

    # same refusal line, fresh instance: est ≤ membership(20) + 1
    # whatever the cell distribution — must pass now, and the novel
    # record appends
    t2 = pq_index.streaming_semdedup_transform(
        d, store, threshold=0.999, n_probe=2, rerank=64,
        max_candidate_pairs=25,
    )
    assert t2(batch).count() == 1
    codes, m2 = pq_index._codes_table(spark, d)
    assert codes.where(F.col(m2["id_col"]) == 100).count() == 1


def test_retrain_to_rule_clamps_to_membership(spark, tmp_path):
    """cell_size larger than the corpus must still yield a valid
    geometry (n_cells ≥ 1, never more cells than vectors)."""
    d = str(tmp_path / "pqidx")
    corpus = _vecs(spark, range(10, 16))  # 6 vectors
    pq_index.build(corpus, d, n_cells=2, n_sub=N_SUB, n_codes=4, dim=DIM)
    out = pq_index.retrain_to_rule(spark, d, corpus, cell_size=250)
    assert out["n_cells"] == 1 and out["membership"] == 6
    assert pq_index._read_manifest(d)["n_cells"] == 1


def test_rerank_store_equals_dedup_and_stays_narrow(spark):
    """_rerank_store (r11): equality vs the r10 union+dropDuplicates
    form on an overlapping store/batch, and — the optimization's
    point — the dedup no longer sits ABOVE the union (the r10 shape
    aggregated the CORPUS-SIZED store every micro-batch; now the only
    Deduplicate is the batch side's, and the store reaches the union
    as a plain filtered scan)."""
    store = _vecs(spark, range(10, 20))
    batch = _vecs(spark, [12, 13, 40, 40, 41]).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from kafkaconnect_spark.operators.index_base import IdSet

    got = pq_index._rerank_store(
        store, batch, "vec_id", "embedding", IdSet([12, 13, 40, 41])
    )
    old = (
        store.select("vec_id", "embedding")
        .unionByName(
            batch.select(F.col("query_id").alias("vec_id"), "embedding")
        )
        .dropDuplicates(["vec_id"])
    )

    def as_map(df):
        return {r.vec_id: tuple(r.embedding) for r in df.collect()}

    assert as_map(got) == as_map(old)
    # one row per id even with duplicate ids within the batch
    assert got.groupBy("vec_id").count().where("count > 1").count() == 0
    def n_dedups(plan: str) -> int:
        # Deduplicate is rewritten to Aggregate(first) by the optimizer
        return plan.count("Deduplicate") + plan.count("Aggregate")

    opt = got._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    assert lines and lines[0].lstrip().startswith("Union"), lines[:2]
    # exactly one dedup, BELOW the union (batch side only); the store
    # side reaches the union as a plain NOT-IN filter over its scan
    assert n_dedups(opt) == 1, opt
    assert lines[1].lstrip(": -+").startswith("Filter"), lines[:3]
    # the oversized-batch fallback keeps an anti-join, never a
    # corpus-wide dedup
    got_big = pq_index._rerank_store(
        store, batch, "vec_id", "embedding",
        IdSet.wrap(batch.select("query_id").distinct()),
    )
    assert as_map(got_big) == as_map(old)
    opt_big = got_big._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in opt_big and n_dedups(opt_big) == 2  # anti-join
    # distinct on the batch id side + the batch-side dedup — still
    # nothing aggregates the store
