"""Tests of the benchmark itself.

    python3 -m pytest etlbench -q

The fast tests check the generators, the correctness checks and the
trace arithmetic without Spark. ``test_printed_names_match_benchmark``
runs one short untraced and one short traced ``jdbc_backfill`` run
(about a minute and a half).
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from etlbench import gen, run, trace, workloads  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# ---- generators ---------------------------------------------------------------

def _backfill(seed):
    t = gen.BackfillTable(seed)
    t.wave(300)
    t.wave(80, 20)
    return t.waves


def _docs(seed):
    d = gen.DocStream(seed, corpus_size=50, batch_size=20)
    return d.corpus, [d.next_batch() for _ in range(3)], d.labels


@pytest.mark.parametrize("make", [_backfill, _docs])
def test_generators_deterministic_per_seed_and_differ_across_seeds(make):
    assert make(1) == make(1)
    assert make(1) != make(2)


def test_backfill_waves_are_in_poll_order_and_retouch_later():
    t = gen.BackfillTable(5)
    first = t.wave(400)
    second = t.wave(80, 20)
    assert len(second) == 100
    rows = first + second
    assert rows == sorted(rows, key=lambda r: (r[1], r[0]))
    old = {r[0] for r in first}
    assert len({r[0] for r in second} & old) == 20
    # the expected sink state of a prefix keeps the latest version only
    want = t.expected(len(rows))
    assert len(want) == 480
    for r in second:
        assert want[r[0]][1] == r[1].strftime("%Y-%m-%d %H:%M:%S")
    assert len(t.expected(10)) == 10


def test_shingle_twin_keeps_the_shingle_set():
    d = gen.DocStream(7, corpus_size=5, batch_size=20)
    text = d.corpus[0][1]
    twin = gen.DocStream.shingle_twin_text(text)

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    assert twin != text and shingles(twin) == shingles(text)


def test_doc_batches_plant_labels():
    d = gen.DocStream(9, corpus_size=30, batch_size=20)
    b0, b1 = d.next_batch(), d.next_batch()
    assert len(b0) == len(b1) == 20 and not {x[0] for x in b0} & {x[0] for x in b1}
    drops = [doc for doc in b0 if not d.labels[doc[0]]]
    assert len(drops) == sum(gen.PLANTS_CORPUS.values()) + sum(gen.PLANTS_WITHIN.values())


# ---- correctness checks fire on planted faults ---------------------------------

def test_backfill_check_fires_on_a_removed_sink_row(tmp_path):
    t = gen.BackfillTable(4)
    t.wave(300)
    t.wave(80, 20)
    want = t.expected(400)
    db = str(tmp_path / "sink.db")
    cols = "id, updated_at, customer, email, amount, qty, note, origin"
    with sqlite3.connect(db) as c:
        c.execute(f"CREATE TABLE orders_sink ({cols})")
        c.executemany("INSERT INTO orders_sink VALUES (?, ?, ?, ?, ?, ?, ?, ?)", list(want.values()))

    def got():
        with sqlite3.connect(db) as c:
            return {r[0]: tuple(r) for r in c.execute(f"SELECT {cols} FROM orders_sink")}

    assert workloads.sink_mismatches(got(), want) == 0
    with sqlite3.connect(db) as c:
        c.execute("DELETE FROM orders_sink WHERE id = (SELECT min(id) FROM orders_sink)")
    assert workloads.sink_mismatches(got(), want) == 1


def test_dedup_check_fires_on_a_flipped_label():
    d = gen.DocStream(2, corpus_size=30, batch_size=20)
    d.next_batch()
    kept = {i for i, keep in d.labels.items() if keep}
    assert workloads.wrong_verdicts(kept, d.labels) == []
    flipped = next(iter(d.labels))
    d.labels[flipped] = not d.labels[flipped]
    assert workloads.wrong_verdicts(kept, d.labels) == [flipped]


def test_redelivery_check_fires_on_a_touched_index_file_not_on_reports(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def put(rel, ids):
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), str(p))

    (tmp_path / "MANIFEST.json").write_text(json.dumps({"version": 2}))
    put("hashes/v2/hash_bucket=0/part-0.parquet", [1, 2, 3])
    put("hashes/v1/hash_bucket=0/part-0.parquet", [1, 2, 3, 9])  # an older generation
    put("tombstones/v2/part-0.parquet", [])
    base = workloads.stored_rows(str(tmp_path), {2, 9})
    assert base == {2: 1, 9: 0}
    put("reports/stream-1/part-0.parquet", [2, 9])
    put("hashes/v2/hash_bucket=0/part-1.parquet", [4])
    assert workloads.stored_rows(str(tmp_path), {2, 9}) == base
    put("tombstones/v2/part-1.parquet", [9])
    assert workloads.stored_rows(str(tmp_path), {2, 9}) != base


# ---- metrics arithmetic ------------------------------------------------------------

def test_memory_watch_counts_child_processes():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(3)"])
    try:
        assert child.pid in run._descendants(os.getpid())
        assert run._hwm_mb(child.pid) > 0
    finally:
        child.kill()
        child.wait()


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = trace.self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_job_gaps_ignore_overlap():
    jobs = [{"start": 0.0, "end": 1.0}, {"start": 1.5, "end": 2.0}, {"start": 1.8, "end": 3.0}]
    busy, gaps = trace.job_gaps(jobs)
    assert busy == pytest.approx(2.7) and gaps == pytest.approx(0.5)


# ---- names --------------------------------------------------------------------------

def test_benchmark_names_match_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOAD_NAMES)
    assert list(workloads.WORKLOADS) == list(run.WORKLOAD_NAMES)
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    preds = json.load(open(os.path.join(HERE, "predictions.json")))
    assert list(preds) == [m["name"] for m in BENCH["per_layer"]]


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "etlbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_printed_names_match_benchmark():
    base = ["--workload", "jdbc_backfill", "--seed", "3", "--seconds", "3"]
    for trace_flag, key in (("0", "end_to_end"), ("1", "per_layer")):
        out = _run(ROOT, *base, "--trace", trace_flag)
        assert out.returncode == 0, out.stderr[-2000:]
        res = json.loads(out.stdout.strip().splitlines()[-1])
        assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "etlbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(str(tmp_path), "--workload", "dedup_ingest", "--seed", "1", "--seconds", "1")
    assert out.returncode != 0 and out.stdout.strip() == ""
