"""The scale ladder's one protocol and one writer (tools/scale_ladder.py),
run without Spark: fake query functions and a fake session stand in
for the catalog and the cluster.

- A run replaces only the keys its row owns: every other section of a
  copy of the committed SCALE_LADDER.json stays byte-identical.
- A refusal is recorded as ``<tag>_refused``, any other error as
  ``error_<tag>``, and the ladder goes on; totals cover only the
  queries that finished at both ends.
- Every query a preset names resolves, so a renamed query fails here
  and not hours into an sf100 run.
- The ladder's session, like every other, sizes itself by
  session.cpus(): SPARK_GRAFT_CPUS, else the process's CPU affinity.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import replace
from types import SimpleNamespace

import pytest

from kafkaconnect_spark.operators.hamming_index import HotPairRefusalError
from tools import scale_ladder

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Frame:
    """Just enough of a DataFrame for a noop-sink pass."""

    write = property(lambda self: self)

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        time.sleep(0.002)

    def count(self):
        return 7


class _Spark:
    def __init__(self):
        self.confs, self.fences = [], 0
        self.conf = SimpleNamespace(set=lambda k, v: self.confs.append((k, v)))
        self.catalog = SimpleNamespace(clearCache=self._fence)

    def _fence(self):
        self.fences += 1


def _ok(spark, sf_dir):
    return _Frame()


def _ladder_copy(tmp_path) -> tuple[str, str]:
    path = str(tmp_path / "SCALE_LADDER.json")
    shutil.copy(os.path.join(ROOT, "SCALE_LADDER.json"), path)
    with open(path) as fh:
        return path, fh.read()


def _fake_bench(sf_dir, tag):
    stage = {"shuffle_read_bytes": 2**20, "shuffle_write_bytes": 0,
             "memory_spill_bytes": 0, "disk_spill_bytes": 5}
    return {"queries": {"q1_pricing_summary": 1.0}, "value": 1.0,
            "stage_metrics": {"q1_pricing_summary": stage}, "dml_parity_wall": {"parity": True}}


@pytest.mark.parametrize("section", ["sf100_subset_r11", "headline"])
def test_a_run_merges_only_its_own_section(tmp_path, monkeypatch, section):
    path, before = _ladder_copy(tmp_path)
    old = json.loads(before)
    monkeypatch.setattr(scale_ladder, "_bench", _fake_bench)
    p = scale_ladder.PRESETS[section]
    fns = {n: _ok for n in p.queries}
    out = scale_ladder.run(section, p, skip_gen=True, path=path, spark=_Spark(), fns=fns)
    with open(path) as fh:
        new = json.loads(fh.read())
    assert set(out) <= set(new) and set(new) == set(old) | set(out)
    assert all(new[k] == v for k, v in out.items())
    if section == "headline":
        assert new["queries"] == {"q1_pricing_summary": {
            "sec_sf01": 1.0, "sec_sf1": 1.0, "time_ratio": 1.0, "shuffle_mb_sf01": 1.0,
            "shuffle_mb_sf1": 1.0, "shuffle_ratio": 1.0}}
        assert new["totals"]["spill_bytes_sf1"] == 5 and new["sf_ratio"] == 10.0
    else:
        assert set(new[section]["queries"]) == set(p.queries)
        assert new[section]["totals"]["time_ratio"] is not None
    # putting back the replaced keys restores the file byte for byte
    restored = json.dumps({**new, **{k: old[k] for k in out}}, indent=1, sort_keys=True)
    assert restored == before
    assert not os.path.exists(path + ".tmp")


def test_a_refusal_is_recorded_and_the_ladder_goes_on(tmp_path):
    path, _ = _ladder_copy(tmp_path)

    def hot(spark, sf_dir):
        if sf_dir.endswith("gen_sf100"):
            raise HotPairRefusalError("within-batch band-collision volume exceeds max_hot_pairs")
        return _Frame()

    def pq_cap(spark, sf_dir):
        raise ValueError("estimated 3e9 candidate pairs exceed max_candidate_pairs=2e9")

    def broken(spark, sf_dir):
        raise RuntimeError("executor lost")

    fns = {"hot": hot, "pq_cap": pq_cap, "broken": broken, "fine": _ok}
    p = replace(scale_ladder.PRESETS["sf100_subset_r10"], queries=tuple(fns), count_rows=True)
    spark = _Spark()
    out = scale_ladder.run("probe", p, skip_gen=True, path=path, spark=spark, fns=fns)
    q = out["probe"]["queries"]
    assert set(q["hot"]) == {"sec_sf10", "pairs_sf10", "sf100_refused", "time_ratio"}
    assert "max_hot_pairs" in q["hot"]["sf100_refused"] and q["hot"]["time_ratio"] is None
    assert {"sf10_refused", "sf100_refused"} <= set(q["pq_cap"])
    assert "RuntimeError: executor lost" in q["broken"]["error_sf10"] and "error_sf100" in q["broken"]
    assert q["fine"]["pairs_sf10"] == 7 and q["fine"]["time_ratio"] is not None
    # totals cover only the query that finished at both scales
    assert out["probe"]["totals"]["sec_sf10"] == q["fine"]["sec_sf10"]
    # every pass, failed or not, ends with the cache fence; the scale's
    # shuffle partitions are set before its passes
    assert spark.fences == 8
    assert spark.confs == [("spark.sql.shuffle.partitions", "128"),
                           ("spark.sql.shuffle.partitions", "256")]


def test_every_preset_query_resolves():
    for name, p in scale_ladder.PRESETS.items():
        fns = scale_ladder.resolve(p)
        assert list(fns) == list(p.queries) and all(map(callable, fns.values())), name
        assert len(p.scales) == 2 or name == "sf10_subset_r10"
        assert bool(p.queries) != (name == "headline")


def test_the_core_count_is_the_env_else_the_affinity(monkeypatch):
    from kafkaconnect_spark.session import cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert cpus() == len(os.sched_getaffinity(0))
