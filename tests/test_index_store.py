"""The generational index store (operators/index_base.IndexStore)
behind the three persisted indexes: pinned layout keys in the
manifest, the stored-schema cache across a same-path rebuild (by this
store or another), and the bucket count pq's rewrites re-spread at."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from kafkaconnect_spark.operators import hamming_index, index_base, lsh_index, pq_index

_MODULES = {"lsh": lsh_index, "pq": pq_index, "hamming": hamming_index}


def _vecs(spark, ids):
    rows = [(i, [float(i % 3), 1.0, float(i % 2), 0.5]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _hashes(spark, ids, id_type="long"):
    return spark.createDataFrame(
        [(i, f"{i * 7919:016x}") for i in ids], f"doc_id {id_type}, phash string"
    )


def _build(spark, kind, d):
    if kind == "lsh":
        docs = [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(6)]
        lsh_index.build(spark.createDataFrame(docs, "doc_id long, text string"), d,
                        num_hashes=8, bands=4, n=3)
    elif kind == "pq":
        pq_index.build(_vecs(spark, range(8)), d, n_cells=2, n_sub=2, n_codes=2, dim=4)
    else:
        hamming_index.build(_hashes(spark, range(6)), d, bits=64, bands=8, max_hamming=4)


@pytest.mark.parametrize("kind,keys", [
    ("lsh", ("band_buckets", "shingle_buckets")),
    ("pq", ("codes_partitioned", "n_buckets")),
    ("hamming", ("band_buckets", "hash_buckets")),
])
def test_manifest_without_pinned_layout_key_must_be_rebuilt(spark, tmp_path, kind, keys):
    """A manifest missing a layout key its index pins raises the same
    "rebuild it" error a pre-parameter manifest gets — there is no
    legacy-layout fallback — on read and on a writer call, which
    leaves the index and its lock as they were."""
    mod = _MODULES[kind]
    for key in keys:
        d = str(tmp_path / f"{kind}-{key}")
        _build(spark, kind, d)
        path = os.path.join(d, "MANIFEST.json")
        with open(path) as fh:
            m = json.load(fh)
        del m[key]
        with open(path, "w") as fh:
            json.dump(m, fh)
        with pytest.raises(ValueError, match=f"no {key} in its manifest; rebuild it"):
            mod._read_manifest(d)
        with pytest.raises(ValueError, match="rebuild it"):
            mod.compact(spark, d)
        with open(path) as fh:
            assert json.load(fh) == m
        assert not os.path.exists(os.path.join(d, ".writer.lock"))


def test_same_path_rebuild_drops_the_cached_stored_schema(spark, tmp_path):
    """Append deltas are cast to a cached stored schema per generation
    dir. A rebuild at the same path may store a different id type, so
    build must drop the dir's cached schemas: an int-id index appended
    to, removed and rebuilt with bigint ids takes bigint appends."""
    d = str(tmp_path / "ham")
    hamming_index.build(_hashes(spark, [1, 2], "int"), d)
    hamming_index.add(spark, d, _hashes(spark, [3], "int"))
    shutil.rmtree(d)
    hamming_index.build(_hashes(spark, [1, 2], "bigint"), d)
    hamming_index.add(spark, d, _hashes(spark, [3], "bigint"))
    for table in ("hashes", "bands"):
        stored = spark.read.parquet(hamming_index._table_path(d, table, 1))
        assert stored.schema["doc_id"].dataType.simpleString() == "bigint"
        assert {r.doc_id for r in stored.collect()} == {1, 2, 3}


def test_pq_rewrites_spread_at_the_build_n_buckets(spark, tmp_path, monkeypatch):
    """compact and retrain re-spread the codes at the bucket count the
    build pinned in the manifest (they used to take their own
    n_buckets=8, which no caller set)."""
    d = str(tmp_path / "pq")
    pq_index.build(_vecs(spark, range(12)), d, n_cells=2, n_sub=2, n_codes=2, dim=4,
                   n_buckets=3)
    seen = []
    real = index_base._spread_for_write

    def spy(df, n_buckets, part_col, id_col):
        seen.append((part_col, n_buckets))
        return real(df, n_buckets, part_col, id_col)

    monkeypatch.setattr(index_base, "_spread_for_write", spy)
    pq_index.compact(spark, d)
    pq_index.retrain(spark, d, _vecs(spark, range(12)), train_rounds=1)
    assert seen == [("cell", 3), ("cell", 3)]
    assert pq_index._read_manifest(d)["n_buckets"] == 3


def _other_store(mod) -> index_base.IndexStore:
    """A second store over the same tables: another process's view."""
    st = mod.STORE
    return index_base.IndexStore(st.module, st.tables, (), st.why)


def test_a_rebuild_by_another_store_is_read_with_its_new_schema(spark, tmp_path, monkeypatch):
    """Stored reads use the store's cached schema, keyed by the
    manifest's build id: an index rebuilt at the same path with
    another id type by a second store (another process, whose rebuild
    cannot clear this store's cache) is read with the new type by
    this store's next scan and probe."""
    d, first = str(tmp_path / "ham"), hamming_index.STORE
    hamming_index.build(_hashes(spark, [1, 2], "int"), d)
    m = first.manifest(d)
    assert first.scan(spark, d, m, "hashes", None).schema["doc_id"].dataType.simpleString() == "int"
    shutil.rmtree(d)
    monkeypatch.setattr(hamming_index, "STORE", _other_store(hamming_index))
    hamming_index.build(_hashes(spark, [1, 2, 3], "bigint"), d)
    monkeypatch.undo()
    m = first.manifest(d)
    scanned = first.scan(spark, d, m, "hashes", None)
    assert scanned.schema["doc_id"].dataType.simpleString() == "bigint"
    assert {r.doc_id for r in scanned.collect()} == {1, 2, 3}
    probed = first.probe(spark, d, m, index_base.IdSet([2, 3, 4]))
    assert probed.schema["doc_id"].dataType.simpleString() == "bigint"
    assert {r.doc_id for r in probed.collect()} == {2, 3}

