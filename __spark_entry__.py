"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real catalog lives in ``kafkaconnect_spark/queries.py`` — one
entry per operator from SURVEY.md §2 plus the Phase-E training-data
operators (dedup / similarity / text / multimodal).

Ordering: the driver records a bounded prefix of ``queries()`` per
round (r1 recorded exactly the first 50 of 95), so entries are
ordered not-yet-driver-verified first — computed from the union of
prior CORRECTNESS_r*.json rows — and already-verified last. Each
round therefore converts the oldest unproven tail into driver rows
instead of re-proving the same prefix.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from kafkaconnect_spark.queries import QUERY_CATALOG  # noqa: E402


def _driver_covered() -> set[str]:
    """Names with a green row in any prior round's CORRECTNESS file.

    A query counts as covered only by the strongest check it can get:
    hash_match for oracled queries, rows_match for rows-only ones.
    Failed rows stay uncovered so they re-run at the front after a fix.
    """
    covered: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or name not in QUERY_CATALOG:
                continue
            if QUERY_CATALOG[name].oracle is None:
                if row.get("rows_match"):
                    covered.add(name)
            elif row.get("hash_match"):
                covered.add(name)
    return covered


# Covered queries whose ENGINE SEMANTICS changed this round, so their
# standing green rows describe code that no longer exists — they jump
# to the front of the covered block for a fresh driver proof. Emptied
# (or re-filled) each round; names here must already be covered, so
# they can never displace a genuinely-unproven query out of the
# window (pinned in tests/test_entry_ordering.py).
_REPROVE_CHANGED = [
    # every index build/compact/delete/retrain now runs through one
    # generational store (index_base.IndexStore) — each query that
    # calls one of them re-proves first
    "dedup_incremental",
    "dedup_lsh_index_lifecycle",
    "dedup_incremental_indexed",
    "dedup_lsh_index_erasure",
    "embedding_pq_index_lifecycle",
    "embedding_pq_index_erasure",
    "streaming_dedup_replay",
    "streaming_semdedup_replay",
    "streaming_dedup_within_batch_replay",
    "streaming_semdedup_within_batch_replay",
    "embedding_pq_index_retrain",
    "multimodal_dedup_index",
    "dedup_simhash_index",
    "streaming_fingerprint_dedup_replay",
    "index_retention_audit",
    "embedding_pq_retention_audit",
    "fingerprint_retention_audit",
    "streaming_fingerprint_fallback_minhash",
    # the Avro body codec is now columnar (functions/avro_wire.py); this
    # is the one catalog query whose call graph reaches its UDFs
    "c3_avro_roundtrip",
]


def _ordered_names() -> list[str]:
    """Not-yet-driver-verified names first, then verified ones whose
    semantics changed this round (_REPROVE_CHANGED), then the rest;
    each block in catalog insertion order.

    The driver records a bounded prefix (50 rows per round), so the
    invariant that matters is: a brand-new query must never displace
    an older still-unproven one out of the window. That property is
    DERIVED here, not hand-maintained (rounds 1-3 kept a literal
    `_DEFER_NEW` name set, which a typo could silently misorder):
    rounds only ever APPEND to `QUERY_CATALOG` (base dict → TPC-H →
    r3 → r3b → r4 via `.update()`), so catalog insertion order IS
    chronological addition order, and sorting the uncovered block by
    insertion index puts the oldest unproven entries at the front
    automatically. The ordering property is unit-tested in
    tests/test_entry_ordering.py."""
    covered = _driver_covered()
    names = list(QUERY_CATALOG)
    changed = set(_REPROVE_CHANGED) & covered
    return (
        [n for n in names if n not in covered]
        + [n for n in names if n in changed]
        + [n for n in names if n in covered and n not in changed]
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q3-shaped
    revenue top-10 (broadcast dim join + co-partitioned fact join)."""
    return QUERY_CATALOG["q3_top_revenue_orders"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / Phase E,
    not-yet-driver-verified entries first."""
    return {name: QUERY_CATALOG[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; omitted entries take the
    driver's weaker rows-only check."""
    return {
        name: QUERY_CATALOG[name].oracle
        for name in _ordered_names()
        if QUERY_CATALOG[name].oracle is not None
    }
