"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive value hash (columns sorted by name,
values stringified with float rounding).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# pin the process to UTC BEFORE any Spark/DuckDB work: PySpark
# collects TimestampType as naive datetimes in the OS-local zone while
# DuckDB returns the stored naive-UTC values — on a non-UTC machine
# every timestamp comparison would false-FAIL
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()

import duckdb

from kafkaconnect_spark.sql import TABLES  # single table inventory


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full precision: the catalog is engineered to be BIT-exact vs
        # DuckDB (exact decimal pipelines, shared md5 hashing, µs
        # timestamps) — don't let a lenient canon hide regressions
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # convert aware values to UTC before stripping — a bare
            # strip would compare wall-clock digits across zones
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        # length-prefix elements: bare join is ambiguous when data
        # contains the separator ( ['a,b'] vs ['a','b'] )
        return "[" + ",".join(f"{len(c)}:{c}" for c in map(canon, v)) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # length-prefixed cells: raw \x1f/\n joins are ambiguous when the
    # DATA contains those bytes (text columns legally carry newlines),
    # which could hash two different result sets identically — a false
    # PASS in a correctness gate
    lines = sorted(
        "\x1f".join(f"{len(c)}#{c}" for c in (canon(r[i]) for i in order))
        for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kafkaconnect_spark.session import cpus, get_spark

    # no console progress bar: its \r-joined text would share a line
    # with the pass/FAIL lines a captured log is read for
    spark = get_spark(
        "verify-local",
        master=f"local[{cpus()}]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter must not print "0 failures" having run nothing
        print(f"error: unknown query name(s): {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        finally:
            # full-catalog runs materialize 150+ queries in one
            # session — without releasing each query's tracked
            # persisted intermediates the executor cache fills and
            # every later query pays eviction churn
            try:
                from kafkaconnect_spark.operators.dedup import release_cached

                release_cached(df)
            except NameError:  # fn() itself raised — nothing to release
                pass
            # order-independence fence (mirrors bench.py): a cache
            # whose tag was lost in a wrapper must not leak into the
            # next query's execution
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = list(rel.columns)
            duck_types = [str(t).upper() for t in rel.types]
            duck_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        problems = []
        # the driver canonicalizes DuckDB HUGEINT (int128) differently
        # from Spark BIGINT even when the values are equal — our str()
        # canon masks that, so surface the TYPE as a hard failure here
        # (cast the oracle aggregate ::BIGINT; r2 lost 4 rows to this)
        huge = [c for c, t in zip(duck_cols, duck_types) if "HUGEINT" in t]
        if huge:
            problems.append(f"oracle emits HUGEINT column(s) {huge} — cast ::BIGINT")
        if sorted(df.columns) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(df.columns)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rows spark={len(spark_rows)} duck={len(duck_rows)}")
        hs = value_hash(df.columns, spark_rows)
        hd = value_hash(duck_cols, duck_rows)
        if hs != hd:
            problems.append(f"hash spark={hs[:10]} duck={hd[:10]}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            # show a sample diff for debugging
            order_s = sorted(range(len(df.columns)), key=lambda i: df.columns[i])
            order_d = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
            set_s = {"\x1f".join(canon(r[i]) for i in order_s) for r in spark_rows}
            set_d = {"\x1f".join(canon(r[i]) for i in order_d) for r in duck_rows}
            for x in list(set_s - set_d)[:3]:
                print(f"   spark-only: {x.replace(chr(31), ' | ')[:200]}")
            for x in list(set_d - set_s)[:3]:
                print(f"   duck-only:  {x.replace(chr(31), ' | ')[:200]}")
        else:
            print(f"pass {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
