"""Scale ladder: the one entry point behind every measured section of
SCALE_LADDER.json (sf0.1 → sf1 → sf10 → sf100).

Each section is one row of ``PRESETS``: its scales (tag, sf, data dir,
tables, vocabulary, shuffle partitions, untimed warm passes, timed
passes), its queries and its note. Every row except ``headline`` runs
one protocol:

- generate any missing data with tools/gen_testdata.gen;
- open one session and run each query at each scale into a noop sink,
  with bench.py's fence (release_cached + clearCache) after every pass,
  so no pass starts from another's caches through plan-fragment hits;
- record the best timed pass as ``sec_<tag>``; a refusal (the fingerprint
  index's HotPairRefusalError, or pq's max_candidate_pairs ValueError)
  is the designed boundary and is recorded as ``<tag>_refused``, any
  other error as ``error_<tag>``, and the ladder goes on either way;
- compute ratios and totals over the queries that finished at both the
  first and the last scale.

``headline`` runs the whole bench.py once per scale instead, because
its shuffle ratios come from the bench's stage metrics. It sets
SPARK_GRAFT_BENCH_OUT, so the committed driver-data baseline record and
its vs_prev chain stay untouched, and it owns the file's top-level
headline keys.

A run replaces only the keys its row owns and rewrites the file
atomically: every other section stays byte-identical.

Usage: python tools/scale_ladder.py <section> [--skip-gen]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

DATA = os.path.join(ROOT, ".data")
LADDER = os.path.join(ROOT, "SCALE_LADDER.json")
# headline flags: 10x data => linear cost <= ~10x time; allow AQE /
# fixed-overhead slack, and ignore sub-1.5 s walls where scheduler
# noise dominates the ratio
RATIO_FLAG = 12.0
ABS_FLAG_SEC = 1.5
CORPORA = frozenset({"documents", "embeddings"})


@dataclass(frozen=True)
class Scale:
    tag: str  # suffix of the section's sec_<tag> keys
    sf: float
    data: str  # directory under .data/
    parts: int = 32  # spark.sql.shuffle.partitions: follows the data, not the cores
    warm: int = 1  # untimed passes before the timed ones
    timed: int = 2  # timed passes; the best one is recorded
    tables: frozenset[str] | None = None  # None: every table
    vocab: int | None = None  # gen_testdata vocab_n (the density rows)


@dataclass(frozen=True)
class Preset:
    scales: tuple[Scale, ...]
    queries: tuple[str, ...] = ()  # headline: bench.py's own query set
    note: str = ""
    extra_warm: tuple[str, ...] = ()  # one more untimed pass at every scale
    count_rows: bool = False  # the first pass's row count as pairs_<tag>


def _replay(spark, d, transform, df, id_col, value, pairs, cap=None):
    """The catalog replay fixture's 3 runs over ``df``: id classes {0, 2}
    twice (a redelivery), then {1, 3}; ids below ``cap`` only."""
    from kafkaconnect_spark.queries_r9 import _run_transform_runs

    def batch(classes):
        keep = (F.col(id_col) % 10).isin(classes)
        keep = keep if cap is None else keep & (F.col(id_col) < cap)
        return df.where(keep).select(F.struct(*value).alias("value"))

    runs = [(1, batch([0, 2])), (2, batch([0, 2])), (3, batch([1, 3]))]
    return _run_transform_runs(spark, d, transform, runs, pairs)


def fingerprint_wb_replay_scale_geom(spark, sf_dir):
    """The streaming_fingerprint_dedup_replay 3-run lifecycle at the
    corpus-scale geometry (bands=4, 16-bit slices, max_hamming=3)."""
    from kafkaconnect_spark.operators import hamming_index
    from kafkaconnect_spark.operators.dedup import simhash_hex64
    from kafkaconnect_spark.queries_r7 import _tmp_index_dir

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = _tmp_index_dir("ham_wb_scale_")
    standing = docs.where(F.col("doc_id") % 10 >= 3)
    hamming_index.build(
        simhash_hex64(standing).withColumnRenamed("simhash_hex", "phash"),
        d, bits=64, bands=4, max_hamming=3,
    )
    transform = hamming_index.streaming_fingerprint_dedup_transform(d, text_field="text")
    return _replay(spark, d, transform, docs, "doc_id", ("doc_id", "text"),
                   ["id_new", "id_corpus", "hamming"])


def semdedup_wb_scale_geom(spark, sf_dir):
    """The streaming_semdedup 3-run lifecycle at SCALE geometry
    (n_cells=256) with a FIXED 50k-vector batch — the realistic
    streaming law: batches are bounded, only the corpus grows. The
    catalog query's batch grows WITH sf (a replay-fixture artifact,
    not a deployment shape), which is why its gate geometry hits the
    candidate-volume refusal at sf10; this is the geometry a
    deployment would pin."""
    from kafkaconnect_spark.operators import pq_index
    from kafkaconnect_spark.queries_r7 import _tmp_index_dir
    from kafkaconnect_spark.queries_r9 import _SEM_TAU

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    d = _tmp_index_dir("pq_wb_scale_")
    standing = emb.where(F.col("vec_id") % 10 >= 3)
    pq_index.build(standing, d, n_cells=256, n_sub=4, n_codes=8, dim=64)
    transform = pq_index.streaming_semdedup_transform(
        d, lambda: emb.select("vec_id", "embedding"),
        threshold=_SEM_TAU, id_field="vec_id", vec_field="embedding",
        n_probe=2, rerank=30,
    )
    return _replay(spark, d, transform, emb, "vec_id", ("vec_id", "embedding"),
                   ["query_id", "neighbor_id", "cosine"], cap=250_000)


OWN = {f.__name__: f for f in (fingerprint_wb_replay_scale_geom, semdedup_wb_scale_geom)}

# shape-representative subset: scan+agg, multi-join, keyed/sliding
# windows, exact distinct, banded dedup join, incremental dedup,
# iterative graph, broadcast ANN, clustering, tiled prefix scan, the
# index lifecycles and the heaviest bench entries. dedup_band_sweep and
# dedup_quality_eval stay out: their exact-Jaccard truth side is the
# 31-word-vocab density artifact (the "density_probe" section).
SUBSET = (
    "q1_pricing_summary", "q3_top_revenue_orders", "q9_product_profit",
    "events_sessionization", "events_sliding_window", "events_distinct_users",
    "dedup_minhash_lsh", "dedup_incremental", "parts_pagerank", "similarity_topk",
    "embedding_kmeans", "events_cumulative_users", "dedup_lsh_index_lifecycle",
    "dedup_keep_policy", "docs_contamination_ngram_overlap", "docs_winnowing_plagiarism",
    "text_tokenizer_fertility", "dedup_threshold_sensitivity",
    "embedding_power_iteration_pca", "dedup_lsh_index_erasure", "corpus_release_manifest",
    "embedding_pq_index_lifecycle", "embedding_ivfpq_trained_recall",
)
R10 = (
    "streaming_dedup_within_batch_replay", "streaming_semdedup_within_batch_replay",
    "embedding_pq_index_retrain", "dedup_span_removal",
    "fingerprint_wb_replay_scale_geom", "semdedup_wb_scale_geom",
)
R10_NOTE = (
    "r10 extension: the r9 shapes (within-batch SMT replays, pq retrain) + the "
    "r10 span-removal operator + the fingerprint SMT 3-run lifecycle at the SCALE "
    "geometry (4x16-bit bands, max_hamming=3) at sf10 -> sf100 (500k -> 5M docs / "
    "200k -> 2M vectors); the catalog's 8x8-bit gate geometry is REFUSED by the r10 "
    "skew enforcement past 2B hot distinct-hash pairs (measured ~15B at sf10 template "
    "text) — that refusal is the designed boundary, not a failure; "
    "shuffle_partitions 128->256; sf100 one timed pass"
)
# index lifecycles: one timed cold pass per scale (multi-minute walls
# need no best-of-2 GC-noise stripping), corpora only (no query here
# reads the TPC-H tables, which would be 600M lineitem rows at sf100)
COLD10 = Scale("sf10", 10.0, "gen_sf10", 128, warm=0, timed=1, tables=CORPORA)
COLD100 = Scale("sf100", 100.0, "gen_sf100", 256, warm=0, timed=1, tables=CORPORA)
WORDS = dict(tables=frozenset({"documents"}), vocab=20_000)  # documents on a realistic vocabulary

PRESETS = {
    "headline": Preset((Scale("sf01", 0.1, "gen_sf0.1"), Scale("sf1", 1.0, "gen_sf1.0"))),
    "sf10_subset": Preset(
        (Scale("sf1", 1.0, "gen_sf1.0", 128), Scale("sf10", 10.0, "gen_sf10", 128)),
        SUBSET,
        "23 shape-representative queries, sf1 and sf10 generated data in one session, "
        "shuffle_partitions=128 (partition count scales with data, as on a real "
        "cluster); ratio is sf10/sf1 on 10x rows",
    ),
    "sf100_subset": Preset(
        (Scale("sf10", 10.0, "gen_sf10", 128, timed=1, tables=CORPORA), COLD100),
        ("dedup_incremental", "dedup_lsh_index_lifecycle", "dedup_lsh_index_erasure",
         "embedding_pq_index_lifecycle", "embedding_pq_index_erasure"),
        "5 index-lifecycle shapes, sf10 and sf100 generated documents/embeddings (5M "
        "docs / 2M vectors at sf100) in one session; shuffle_partitions 128->256 with "
        "the data; sf100 is a single timed pass per lifecycle query (multi-minute walls "
        "need no GC-noise stripping); ratio is sf100/sf10 on 10x rows",
        # its untimed pass builds the durable index: the timed pass is the steady state
        extra_warm=("dedup_incremental",),
    ),
    "sf10_subset_r10": Preset((COLD10,), R10, R10_NOTE),
    "sf100_subset_r10": Preset((COLD10, COLD100), R10, R10_NOTE),
    "sf100_subset_r11": Preset(
        (COLD10, COLD100),
        ("semdedup_wb_scale_geom", "fingerprint_wb_replay_scale_geom"),
        "r11 closure of the r10 ladder: semdedup_wb_scale_geom (n_cells=256 SCALE "
        "geometry, fixed 50k batches) with the vectorized coding/probing path (veccode "
        "mapInPandas kernels past the 64-cell codegen ceiling) — the r10 run was stopped "
        "in its sf100 standing build with interpreted HOF folds at ~40ms/row; "
        "fingerprint_wb_replay_scale_geom re-timed at sf10 with the r11-sized hot "
        "routing (engages only past the measured route line), sf100 refusal unchanged. "
        "One timed cold pass per sf, shuffle_partitions 128 (sf10) -> 256 (sf100).",
    ),
    "density_probe": Preset(
        (Scale("sf01", 0.1, "genw_sf01", **WORDS), Scale("sf1", 1.0, "genw_sf1", **WORDS)),
        ("dedup_containment", "dedup_simhash_pairs"),
        "same catalog queries as the ladder, documents regenerated with a realistic "
        "vocabulary — the ladder's superlinear flags on these two are corpus-density "
        "artifacts, not plan defects (see SCALE.md)",
        count_rows=True,
    ),
    "density_probe_r7_contamination": Preset(
        (Scale("sf1", 1.0, "genw_sf1", 128, **WORDS),
         Scale("sf10", 10.0, "genw_sf10", 128, **WORDS)),
        ("docs_contamination_ngram_overlap",),
        "r7 directive 5b: the 11.63x sf1->sf10 ladder residual on "
        "docs_contamination_ngram_overlap re-measured on a realistic 20k-token "
        "vocabulary (documents regenerated, same Zipf slope/doc-length mix, same 128 "
        "shuffle partitions as the ladder) - adjudicates corpus-density artifact vs "
        "real superlinear term",
        count_rows=True,
    ),
}


def resolve(p: Preset) -> dict:
    """Each of the row's queries → its function: the ladder's own, else the catalog's."""
    from kafkaconnect_spark.queries import QUERY_CATALOG

    return {n: OWN[n] if n in OWN else QUERY_CATALOG[n].fn for n in p.queries}


def data_dirs(p: Preset, skip_gen: bool = False) -> dict[str, str]:
    """Scale tag → its data dir, generating what is missing: the scale's
    tables (embeddings, the last one gen writes, for a full scale) and
    the vocabulary marker of a vocab scale."""
    from tools.gen_testdata import VOCAB, gen

    dirs = {}
    for s in p.scales:
        d = dirs[s.tag] = os.path.join(DATA, s.data)
        need = [f"{t}.parquet" for t in sorted(s.tables or {"embeddings"})]
        need += [f".vocab{s.vocab}"] if s.vocab else []
        if skip_gen or all(os.path.exists(os.path.join(d, n)) for n in need):
            continue
        print(f"== generating {s.tag} -> {d}", flush=True)
        gen(s.sf, d, vocab_n=s.vocab or len(VOCAB), tables=s.tables and set(s.tables))
        if s.vocab:
            open(os.path.join(d, f".vocab{s.vocab}"), "w").close()
    return dirs


def _refused(exc: Exception) -> bool:
    from kafkaconnect_spark.operators.hamming_index import HotPairRefusalError

    pq_cap = isinstance(exc, ValueError) and "max_candidate_pairs" in str(exc)
    return pq_cap or isinstance(exc, HotPairRefusalError)


def _ratio(lo, hi) -> float | None:
    return round(hi / lo, 2) if lo and hi is not None else None


def _pass(spark, fn, sf_dir: str, count: bool) -> tuple[float, int | None]:
    from kafkaconnect_spark.operators.dedup import release_cached

    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        n = df.count() if count else None
        release_cached(df)
        return took, n
    finally:
        spark.catalog.clearCache()


def measure(spark, p: Preset, dirs: dict[str, str], fns: dict) -> dict:
    """One section: every query at every scale, then ratios and totals."""
    results: dict[str, dict] = {n: {} for n in p.queries}
    for s in p.scales:
        spark.conf.set("spark.sql.shuffle.partitions", str(s.parts))
        for name, row in results.items():
            warm, t0, times = s.warm + (name in p.extra_warm), time.perf_counter(), []
            try:
                for i in range(warm + s.timed):
                    took, n = _pass(spark, fns[name], dirs[s.tag], p.count_rows and i == 0)
                    if n is not None:
                        row[f"pairs_{s.tag}"] = n
                    if i >= warm:
                        times.append(took)
            except Exception as e:  # noqa: BLE001 -- record, keep laddering
                key = f"{s.tag}_refused" if _refused(e) else f"error_{s.tag}"
                row[key] = f"after {time.perf_counter() - t0:.1f}s: {type(e).__name__}: {e}"[:400]
                print(f"{s.tag} {name}: {key}", flush=True)
                traceback.print_exc()
                continue
            row[f"sec_{s.tag}"] = round(min(times), 3)
            print(f"{s.tag} {name}: {row[f'sec_{s.tag}']:.3f}s", flush=True)
    out = {"note": p.note, "queries": results}
    if len({s.parts for s in p.scales}) == 1:
        out["shuffle_partitions"] = p.scales[0].parts
    if p.scales[0].vocab:
        out["vocab_n"] = p.scales[0].vocab
    if len(p.scales) < 2:
        return out
    lo, hi = f"sec_{p.scales[0].tag}", f"sec_{p.scales[-1].tag}"
    for r in results.values():
        r["time_ratio"] = _ratio(r.get(lo), r.get(hi))
    done = [r for r in results.values() if lo in r and hi in r]
    if done:
        t = out["totals"] = {k: round(sum(r[k] for r in done), 3) for k in (lo, hi)}
        t["time_ratio"] = _ratio(t[lo], t[hi])
    return out


def _bench(sf_dir: str, tag: str) -> dict:
    record = os.path.join(DATA, f"bench_{tag}.json")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_BENCH_OUT=record)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    print(f"== bench {sf_dir}", flush=True)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=7200,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"bench failed for {sf_dir}")
    with open(record) as fh:
        return json.load(fh)


def headline(p: Preset, dirs: dict[str, str]) -> dict:
    """The full bench at the row's two scales: per-query wall-time and
    shuffle-byte ratios, the superlinear flags and the totals."""
    a, b = p.scales[0], p.scales[-1]
    lo, hi = (_bench(dirs[s.tag], s.tag) for s in (a, b))

    def shuffle_mb(rec: dict, name: str) -> float | None:
        m = rec.get("stage_metrics", {}).get(name)
        return m and round((m["shuffle_read_bytes"] + m["shuffle_write_bytes"]) / 2**20, 2)

    queries = {}
    for name, t_lo in lo["queries"].items():
        if (t_hi := hi["queries"].get(name)) is None:
            continue
        s_lo, s_hi = shuffle_mb(lo, name), shuffle_mb(hi, name)
        queries[name] = {
            f"sec_{a.tag}": t_lo, f"sec_{b.tag}": t_hi, "time_ratio": _ratio(t_lo, t_hi),
            f"shuffle_mb_{a.tag}": s_lo, f"shuffle_mb_{b.tag}": s_hi,
            "shuffle_ratio": _ratio(s_lo, s_hi),
        }
    stages = hi.get("stage_metrics", {}).values()
    spill = sum(m["memory_spill_bytes"] + m["disk_spill_bytes"] for m in stages)
    return {
        "generator": "tools/gen_testdata.py (self-generated, driver-shape family)",
        "sf_ratio": round(b.sf / a.sf, 3),
        "totals": {
            f"sec_{a.tag}": lo["value"], f"sec_{b.tag}": hi["value"],
            "time_ratio": _ratio(lo["value"], hi["value"]), f"spill_bytes_{b.tag}": spill,
        },
        "dml_parity_sf_independent": hi.get("dml_parity_wall"),
        "superlinear": sorted(
            n for n, q in queries.items()
            if (q["time_ratio"] or 0) > RATIO_FLAG and q[f"sec_{b.tag}"] > ABS_FLAG_SEC
        ),
        "queries": queries,
    }


def merge(path: str, sections: dict) -> None:
    """Replace only ``sections``' top-level keys of the ladder file,
    through a temp file and os.replace, so a killed run leaves the old
    file whole."""
    with open(path) as fh:
        ladder = json.load(fh)
    ladder.update(sections)
    with open(path + ".tmp", "w") as fh:
        json.dump(ladder, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def run(section: str, p: Preset, skip_gen=False, path=LADDER, spark=None, fns=None) -> dict:
    """Measure one row and merge it into ``path``; returns the merged
    keys. ``spark`` defaults to a session of its own, stopped at the
    end; ``fns`` to the row's resolved queries."""
    dirs = data_dirs(p, skip_gen)
    if section == "headline":
        out = headline(p, dirs)
    else:
        own = spark is None
        if own:
            from kafkaconnect_spark.session import get_spark

            spark = get_spark(f"kafkaconnect-scale-{section}", shuffle_partitions=p.scales[0].parts)
            spark.sparkContext.setLogLevel("ERROR")
        try:
            out = {section: measure(spark, p, dirs, fns or resolve(p))}
        finally:
            if own:
                spark.stop()
    merge(path, out)
    return out


def main(argv: list[str]) -> int:
    names = [a for a in argv if a != "--skip-gen"]
    if len(names) != 1 or names[0] not in PRESETS:
        raise SystemExit(f"usage: scale_ladder.py {{{','.join(PRESETS)}}} [--skip-gen]")
    out = run(names[0], PRESETS[names[0]], skip_gen="--skip-gen" in argv)
    print(f"merged {', '.join(sorted(out))} into {LADDER}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
