"""JDBC polling source — the four incremental scan modes (SURVEY §2.1).

Kafka Connect's JDBC source polls ``SELECT * FROM t WHERE <offset
predicate> ORDER BY <offset cols>`` every poll.interval.ms and resumes
from a durable offset (connect-offsets topic). Modes
(connector_configs/mysql_jdbc_om_source.json:14, …_upd.json:14-16):

- S1 incrementing:            WHERE inc > :last_inc
- S2 timestamp:               WHERE ts > :last_ts AND ts <= :now-grace
- S3 timestamp+incrementing:  WHERE ts > :t OR (ts = :t AND inc > :i)
  (strictly-ordered lexicographic resume key — robust to several rows
  sharing one timestamp, 실습수행/JDBC Source Connector 실습.md:156-199)
- S4 bulk:                    full table every poll

This is the one genuinely non-Catalyst component (SURVEY §4): offset
bookkeeping lives outside the DataFrame. The *scan itself* is
declarative and pushes the predicate down:

- against a real JDBC database, ``spark.read.jdbc`` with the predicate
  inlined in the dbtable subquery (plus ``partitionColumn`` splits for
  big backfills) — executors read in parallel, the DB does the filter
  using the ``system_upd`` index the reference labs create
  (실습수행/MySQL 설치 및 환경 구성.md:84-121);
- against a parquet/lakehouse "table", a ``spark.read.parquet`` +
  ``.where`` — Catalyst pushes the min/max predicate into the scan so
  only row groups past the offset are read (partition pruning at scale
  when the table is date-partitioned).

The poller is deliberately *pull-based and stateless between calls*:
``poll()`` returns (DataFrame of new rows, new offset); the engine
persists the offset in an OffsetStore (the checkpoint analogue of
connect-offsets) only after the downstream write commits — the same
at-least-once contract as Connect.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Offset:
    """Resume position; lexicographic (ts, inc) like Connect's
    TimestampIncrementingOffset."""

    inc: int | None = None
    ts: str | None = None  # ISO-8601; stored as string for JSON durability

    def to_json(self) -> dict[str, Any]:
        return {"inc": self.inc, "ts": self.ts}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Offset":
        return cls(inc=d.get("inc"), ts=d.get("ts"))


class OffsetStore:
    """Durable per-(pipeline, table) offsets — the connect-offsets
    analogue (실습수행/특정 Connector의 connect-offsets 리셋하기.md:3-5).

    JSON file per pipeline under the checkpoint root; atomic
    replace-on-write. ``reset`` implements the reference's offset-reset
    tool (O2): drop the stored offset so the next poll re-reads from
    the beginning.
    """

    def __init__(self, checkpoint_root: str | Path, pipeline: str):
        self.path = Path(checkpoint_root) / pipeline / "source-offsets.json"
        self.path.parent.mkdir(parents=True, exist_ok=True)

    def _load(self) -> dict[str, dict]:
        if self.path.exists():
            return json.loads(self.path.read_text())
        return {}

    def get(self, table: str) -> Offset:
        return Offset.from_json(self._load().get(table, {}))

    def put(self, table: str, offset: Offset) -> None:
        data = self._load()
        data[table] = offset.to_json()
        self._save(data)

    def reset(self, table: str | None = None) -> None:
        if table is None:
            if self.path.exists():
                self.path.unlink()
            return
        data = self._load()
        data.pop(table, None)
        self._save(data)

    def _save(self, data: dict[str, dict]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path.parent)
        with os.fdopen(fd, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self.path)


def incremental_predicate(
    mode: str, inc_col: str | None, ts_col: str | None, offset: Offset
):
    """Build the resume predicate as a Column expression (pushed down
    by Catalyst into the scan — parquet row-group skipping or JDBC
    WHERE)."""
    if mode == "bulk":
        return F.lit(True)
    conds = []
    if mode == "incrementing":
        if offset.inc is not None:
            conds.append(F.col(inc_col) > F.lit(offset.inc))
    elif mode == "timestamp":
        if offset.ts is not None:
            conds.append(F.col(ts_col) > F.to_timestamp(F.lit(offset.ts)))
    elif mode == "timestamp+incrementing":
        if offset.ts is not None:
            t = F.to_timestamp(F.lit(offset.ts))
            if offset.inc is not None:
                lex = (F.col(ts_col) > t) | (
                    (F.col(ts_col) == t) & (F.col(inc_col) > F.lit(offset.inc))
                )
            else:
                # unknown inc at this ts (offset written by a pure
                # timestamp run, or NULL inc values): include the whole
                # boundary timestamp — at-least-once, never skips
                lex = F.col(ts_col) >= t
            conds.append(lex)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    out = F.lit(True)
    for c in conds:
        out = out & c
    return out


class IncrementalPoller:
    """One poll = one micro-batch of new rows for one table.

    ``read_table`` abstracts where the table lives:
      - parquet dir (tests / lakehouse): spark.read.parquet(path)
      - real JDBC: spark.read.jdbc(...) — the predicate is applied
        identically; Spark's JDBC source pushes filters into the
        remote query.
    """

    def __init__(
        self,
        spark: SparkSession,
        mode: str,
        inc_col: str | None = None,
        ts_col: str | None = None,
        batch_max_rows: int | None = None,
        ts_delay_ms: int = 0,
    ):
        if "incrementing" in mode and not inc_col:
            raise ValueError("incrementing mode requires inc_col")
        if "timestamp" in mode and not ts_col:
            raise ValueError("timestamp mode requires ts_col")
        self.spark = spark
        self.mode = mode
        self.inc_col = inc_col
        self.ts_col = ts_col
        self.batch_max_rows = batch_max_rows
        # Connect's timestamp.delay.interval.ms (default 0): exclude
        # rows stamped within the last N ms so slow-committing
        # transactions with earlier timestamps aren't skipped forever
        # once the offset advances past them
        self.ts_delay_ms = int(ts_delay_ms or 0)

    def _order_cols(self) -> list:
        cols = []
        if self.ts_col and "timestamp" in self.mode:
            cols.append(F.col(self.ts_col).asc())
        if self.inc_col and "incrementing" in self.mode:
            cols.append(F.col(self.inc_col).asc())
        return cols

    def poll(self, table_df: DataFrame, offset: Offset) -> tuple[DataFrame, Offset]:
        """Return (new rows, advanced offset). The offset advance is
        computed with one tiny agg over the new rows (max of the
        resume columns) — no collect of data rows.

        ``batch.max.rows`` (Connect's JDBC source default 100): take at
        most N rows per poll *in resume-key order* and advance the
        offset only over the rows taken — the remainder arrives on
        later polls. The limit is a sorted LIMIT pushed next to the
        scan (TakeOrderedAndProject), not a driver-side slice."""
        batch = table_df.where(
            incremental_predicate(self.mode, self.inc_col, self.ts_col, offset)
        )
        if self.mode == "bulk":
            return batch, offset
        if "timestamp" in self.mode:
            # ALWAYS bound the poll window by now - delay (Connect does
            # this unconditionally, delay or not): without the bound one
            # future-stamped row (clock skew, app bug) advances the
            # offset past it and the strict ts > resume predicate then
            # silently drops all real traffic forever — bounded, the
            # future row is simply deferred until the clock catches up
            batch = batch.where(
                F.col(self.ts_col)
                <= F.current_timestamp() - F.expr(f"INTERVAL {self.ts_delay_ms} MILLISECONDS")
            )
        if self.batch_max_rows:
            limited = batch.orderBy(*self._order_cols()).limit(self.batch_max_rows)
            if self.mode == "timestamp":
                # a limit cutting mid-timestamp would lose the rest of
                # that timestamp's rows once the offset advances (ts >
                # last is strict) — extend the batch to the boundary ts,
                # like Connect reads whole-timestamp groups
                boundary = limited.agg(F.max(self.ts_col)).collect()[0][0]
                if boundary is None:
                    return limited, Offset(inc=offset.inc, ts=offset.ts)
                batch = batch.where(F.col(self.ts_col) <= F.lit(boundary))
            else:
                batch = limited

        # Pin the batch: the offset agg and the downstream topic write
        # are separate Spark jobs — against a live source an uncached
        # plan could return DIFFERENT rows to each, so the stored
        # offset would cover rows that were never delivered. The caller
        # unpersists after its write commits.
        from pyspark import StorageLevel

        batch = batch.persist(StorageLevel.MEMORY_AND_DISK)

        new = Offset(inc=offset.inc, ts=offset.ts)
        if self.mode == "timestamp+incrementing":
            # Connect's TimestampIncrementingOffset is the (ts, inc)
            # pair of the LEXICOGRAPHICALLY-LAST row — independent
            # MAX(ts)/MAX(inc) would fabricate a position no row holds
            # and skip e.g. an old row updated after a newer row
            m = batch.agg(
                F.max(
                    F.struct(
                        F.col(self.ts_col).alias("ts"), F.col(self.inc_col).alias("inc")
                    )
                ).alias("m")
            ).collect()[0].m
            if m is not None:
                new.ts = m.ts.isoformat(sep=" ")
                new.inc = int(m.inc)
            return batch, new
        aggs = []
        if self.inc_col and "incrementing" in self.mode:
            aggs.append(F.max(self.inc_col).alias("max_inc"))
        if self.ts_col and "timestamp" in self.mode:
            aggs.append(F.max(self.ts_col).alias("max_ts"))
        row = batch.agg(*aggs).collect()[0]
        d = row.asDict()
        if d.get("max_inc") is not None:
            new.inc = int(d["max_inc"])
        if d.get("max_ts") is not None:
            new.ts = d["max_ts"].isoformat(sep=" ")
        return batch, new


def jdbc_read_options(
    url: str,
    table: str,
    mode: str,
    offset: Offset,
    inc_col: str | None = None,
    ts_col: str | None = None,
    tasks_max: int = 1,
    inc_bounds: tuple[int, int] | None = None,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """Build the ``spark.read.format("jdbc")`` option map for one poll
    against a real database — the scale path for S1–S4 backfills.

    The incremental predicate is inlined in a dbtable subquery so the
    *database* evaluates it (using the ``system_upd`` index the
    reference labs create, 실습수행/MySQL 설치 및 환경 구성.md:84-121)
    and only new rows cross the wire. With ``tasks_max > 1`` (Connect's
    tasks.max, connector_configs/spooldir_source.json:4) the scan
    splits on the incrementing column into ``tasks_max`` parallel
    range-partitioned reads — Connect parallelizes across tables,
    Spark additionally parallelizes within one table, which is what a
    10^9-row backfill actually needs. ``inc_bounds`` (min, max of the
    inc col among new rows, from a cheap bounds query) sizes the
    stride; without it the read stays single-partition.

    Usage: ``spark.read.format("jdbc").options(**opts).load()``.
    """
    pred = _predicate_sql(mode, inc_col, ts_col, offset)
    sub = f"(SELECT * FROM {table}{pred}) spark_poll"
    opts: dict[str, str] = {
        "url": url,
        "dbtable": sub,
        "fetchsize": str(fetch_size),
    }
    if tasks_max > 1 and inc_col and inc_bounds is not None:
        lo, hi = inc_bounds
        opts.update(
            partitionColumn=inc_col,
            lowerBound=str(lo),
            upperBound=str(hi + 1),
            numPartitions=str(min(tasks_max, max(1, hi + 1 - lo))),
        )
    return opts


def _predicate_sql(
    mode: str, inc_col: str | None, ts_col: str | None, offset: Offset
) -> str:
    """The WHERE clause of the poll subquery — same semantics as
    ``incremental_predicate`` but rendered as ANSI SQL for the remote
    database.

    Timestamp modes carry an upper bound of ``CURRENT_TIMESTAMP``
    (evaluated on the DATABASE's clock — the authoritative one for the
    column being polled, exactly Connect's behavior): without it a
    future-stamped row would advance the offset past all real traffic
    and silently drop it forever."""
    upper = f"{ts_col} <= CURRENT_TIMESTAMP"
    if mode == "bulk":
        return ""
    if mode == "incrementing":
        if offset.inc is None:
            return ""
        return f" WHERE {inc_col} > {int(offset.inc)}"
    if mode == "timestamp":
        if offset.ts is None:
            return f" WHERE {upper}"
        return f" WHERE {ts_col} > TIMESTAMP '{offset.ts}' AND {upper}"
    if mode == "timestamp+incrementing":
        if offset.ts is None:
            return f" WHERE {upper}"
        t = offset.ts
        if offset.inc is None:
            # same at-least-once boundary semantics as the Column path
            return f" WHERE {ts_col} >= TIMESTAMP '{t}' AND {upper}"
        return (
            f" WHERE ({ts_col} > TIMESTAMP '{t}'"
            f" OR ({ts_col} = TIMESTAMP '{t}' AND {inc_col} > {int(offset.inc)}))"
            f" AND {upper}"
        )
    raise ValueError(f"unknown mode {mode!r}")
