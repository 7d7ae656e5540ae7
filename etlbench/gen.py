"""Seeded input generators for the two workloads.

Pure Python, no Spark: the same seed gives the same inputs, and the
engine only ever sees what these functions return. Each generator also
keeps the reference answer the benchmark checks the sink against.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random

# ---------------------------------------------------------------------------
# jdbc_backfill: a keyed source table loaded in waves, each mixing new
# keys with re-touches of older keys at later timestamps
# ---------------------------------------------------------------------------

BACKFILL_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
MASK = "***"
ORIGIN = "backfill"


class BackfillTable:
    """Seeded source table built in waves. ``wave(n_new, n_retouch)``
    adds ``n_new`` new keys and rewrites ``n_retouch`` existing keys
    with later timestamps, shuffled together; it returns the wave's
    rows already in the (timestamp, id) order a timestamp+incrementing
    poll reads them. ``expected(n)`` is the sink state the SMT chain
    must produce once the first ``n`` rows are polled: the latest
    version of every key, masked, cast, stamped and with its timestamp
    as text."""

    COLUMNS = ("id", "updated_at", "customer", "email", "amount", "qty", "note")

    def __init__(self, seed: int):
        self.rng = random.Random(f"backfill:{seed}")
        self.keys: list[int] = []
        self.next_id = 1
        self.waves: list[list[tuple]] = []

    def _row(self, rid: int, ts: dt.datetime) -> tuple:
        r = self.rng
        return (
            rid,
            ts,
            f"cust{r.randrange(5000)}",
            f"user{rid}@example.com",
            f"{r.uniform(1, 5000):.2f}",
            r.randrange(1, 100),
            "".join(r.choices("abcdefghij", k=12)),
        )

    def wave(self, n_new: int, n_retouch: int = 0) -> list[tuple]:
        ids = self.rng.sample(self.keys, min(n_retouch, len(self.keys)))
        new = list(range(self.next_id, self.next_id + n_new))
        self.next_id += n_new
        self.keys.extend(new)
        ids += new
        self.rng.shuffle(ids)
        # each wave's timestamps start a day after the previous wave's,
        # and four ids share every second (exercises the (ts, id) offset)
        base = BACKFILL_EPOCH + dt.timedelta(days=len(self.waves))
        rows = []
        for i in range(0, len(ids), 4):
            ts = base + dt.timedelta(seconds=i // 4)
            rows.extend(self._row(rid, ts) for rid in sorted(ids[i:i + 4]))
        self.waves.append(rows)
        return rows

    def expected(self, n_rows: int) -> dict[int, tuple]:
        latest: dict[int, tuple] = {}
        for row in (r for rows in self.waves for r in rows):
            if n_rows <= 0:
                break
            latest[row[0]] = row
            n_rows -= 1
        return {
            rid: (
                rid,
                ts.strftime("%Y-%m-%d %H:%M:%S"),
                cust,
                MASK,
                float(amount),
                qty,
                note,
                ORIGIN,
            )
            for rid, (_, ts, cust, _email, amount, qty, note) in latest.items()
        }


# ---------------------------------------------------------------------------
# dedup_ingest: documents with planted near-duplicates
# ---------------------------------------------------------------------------

DIM = 32
TEXT_WORDS = 40
TWIN_REPEATS = 15
STREAM_ID_BASE = 1_000_000

# plants per batch; each label is a drop, every fresh doc a keep
#   exact   — same text as the mate (SimHash distance 0)
#   shingle — same word-3-shingle SET as the mate, very different
#             token counts: SimHash far apart, Jaccard exactly 1
#   vector  — fresh text, embedding within cosine ~0.9999 of the mate
PLANTS_CORPUS = {"exact": 2, "shingle": 2, "vector": 2}
PLANTS_WITHIN = {"exact": 1, "shingle": 1, "vector": 1}


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


class DocStream:
    """Seeded corpus plus a stream of document batches.

    Each doc is ``(doc_id, text, embedding)``. A text is 40 random
    words followed by a 3-word phrase written twice; its ``shingle``
    twin repeats that phrase 15 times, which keeps the 3-shingle set
    identical while moving the SimHash far away. ``labels`` maps every
    streamed doc id to True (keep) or False (drop)."""

    def __init__(self, seed: int, corpus_size: int, batch_size: int):
        self.rng = random.Random(f"dedup:{seed}")
        self.vocab = [f"w{i}" for i in range(4000)]
        self.corpus = [self._fresh(i) for i in range(corpus_size)]
        self.batch_size = batch_size
        self.next_id = STREAM_ID_BASE
        self.labels: dict[int, bool] = {}
        self.kinds: dict[int, str] = {}

    def _text(self) -> str:
        words = self.rng.choices(self.vocab, k=TEXT_WORDS)
        phrase = self.rng.sample(self.vocab, 3)
        return " ".join(words + phrase + phrase)

    def _vec(self) -> list[float]:
        return _unit([self.rng.gauss(0.0, 1.0) for _ in range(DIM)])

    def _fresh(self, doc_id: int) -> tuple:
        return (doc_id, self._text(), self._vec())

    @staticmethod
    def shingle_twin_text(text: str) -> str:
        words = text.split()
        return " ".join(words[:-6] + words[-3:] * TWIN_REPEATS)

    def _twin(self, doc_id: int, mate: tuple, kind: str) -> tuple:
        if kind == "exact":
            return (doc_id, mate[1], self._vec())
        if kind == "shingle":
            return (doc_id, self.shingle_twin_text(mate[1]), self._vec())
        noisy = [x + 0.0025 * self.rng.gauss(0.0, 1.0) for x in mate[2]]
        return (doc_id, self._text(), _unit(noisy))

    def next_batch(self) -> list[tuple]:
        """Fresh docs followed by their planted near-duplicates."""
        n_plants = sum(PLANTS_CORPUS.values()) + sum(PLANTS_WITHIN.values())
        fresh = []
        for _ in range(self.batch_size - n_plants):
            fresh.append(self._fresh(self.next_id))
            self.labels[self.next_id], self.kinds[self.next_id] = True, "fresh"
            self.next_id += 1
        plants = []
        for src, spec in (("corpus", PLANTS_CORPUS), ("within", PLANTS_WITHIN)):
            pool = self.corpus if src == "corpus" else fresh
            for kind, n in spec.items():
                for mate in self.rng.sample(pool, n):
                    plants.append(self._twin(self.next_id, mate, kind))
                    self.labels[self.next_id] = False
                    self.kinds[self.next_id] = f"{src}_{kind}"
                    self.next_id += 1
        return fresh + plants


def doc_json(doc: tuple) -> str:
    return json.dumps(
        {"doc_id": doc[0], "text": doc[1], "embedding": doc[2]}, separators=(",", ":")
    )
