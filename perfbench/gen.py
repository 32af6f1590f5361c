"""Seeded input generators. The same seed gives byte-identical files.

Nothing here imports Spark: the inputs are numpy arrays written with
pyarrow, so the generator can be checked on its own (selftest.py).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_DAY = dt.date(2024, 1, 1)

# daily_billing inputs
N_CUSTOMERS = 15_000          # the `customer` dimension (c_custkey 0..14999)
N_UNKNOWN_SHOPS = 1_500       # event user_ids with no customer row (dropped by the join)
VIEWS_PER_DAY = 54_000        # Zipf-distributed page views per day
OTHER_EVENTS_PER_DAY = 6_000  # click/purchase rows the view filter must skip
ZIPF_S = 1.1                  # ~10 of ~6k active shops cross 500 views ($0.01)
# Shop 0 gets exactly this many views every day whatever the seed, so
# every day has at least one charged shop and the report's status check
# (the known double-charge-pass fault) fails on inputs that do not
# depend on the seed.
ANCHOR_SHOP = 0
ANCHOR_VIEWS = 1_000
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# corpus inputs (corpus_dedup, and the near-dup ops of table_dml)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_BASE_DOCS = 2_000     # corpus_dedup's base docs
SMALL_BASE_DOCS = 300   # table_dml's base docs
EXACT_DUP_RATE = 0.05   # share of base docs copied verbatim
NEAR_DUP_RATE = 0.05    # share of base docs copied with one word replaced
NEAR_DUP_MIN_WORDS = 40  # one replaced word keeps shingle Jaccard >= 0.86
SHINGLE_K = 3


def day(i: int) -> str:
    return (START_DAY + dt.timedelta(days=i)).isoformat()


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


def write_customer(path: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    seg = np.array(SEGMENTS, dtype=object)[rng.integers(0, len(SEGMENTS), N_CUSTOMERS)]
    _write(
        pa.table({
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": pa.array(seg, pa.string()),
        }),
        path,
    )


def day_views(seed: int, n_days: int) -> list[np.ndarray]:
    """user_id of every page view, per day. Zipf ranks map to shops
    through one seeded permutation, so the heavy shops stay heavy from
    day to day, as real shops do."""
    rng = np.random.default_rng([seed, 2])
    shops = rng.permutation(np.arange(1, N_CUSTOMERS + N_UNKNOWN_SHOPS, dtype=np.int64))
    p = 1.0 / np.arange(1, len(shops) + 1, dtype=np.float64) ** ZIPF_S
    p /= p.sum()
    out = []
    for _ in range(n_days):
        views = shops[rng.choice(len(shops), VIEWS_PER_DAY, p=p)]
        out.append(np.concatenate([views, np.full(ANCHOR_VIEWS, ANCHOR_SHOP, np.int64)]))
    return out


def write_events(path: str, seed: int, n_days: int) -> list[np.ndarray]:
    """The `events` table: one row group per day, sorted by ts, so the
    job's day predicate prunes to one row group. Returns the per-day
    view user_ids the oracle bills from."""
    views = day_views(seed, n_days)
    rng = np.random.default_rng([seed, 3])
    cols: dict[str, list] = {k: [] for k in ("ts", "user_id", "event_type", "value")}
    for i, v in enumerate(views):
        other = rng.integers(0, N_CUSTOMERS, OTHER_EVENTS_PER_DAY).astype(np.int64)
        users = np.concatenate([v, other])
        types = np.array(["view"] * len(v) + ["click", "purchase"] * (OTHER_EVENTS_PER_DAY // 2),
                         dtype=object)
        t0 = np.datetime64(day(i), "us").astype(np.int64)
        ts = t0 + rng.integers(0, 86_400_000_000, len(users))
        order = np.argsort(ts, kind="stable")
        cols["ts"].append(ts[order])
        cols["user_id"].append(users[order])
        cols["event_type"].append(types[order])
        cols["value"].append(np.round(rng.uniform(0.0, 200.0, len(users)), 2))
    ts = np.concatenate(cols["ts"])
    n = len(ts)
    _write(
        pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": np.concatenate(cols["user_id"]),
            "event_type": pa.array(np.concatenate(cols["event_type"]), pa.string()),
            "value": np.concatenate(cols["value"]),
        }),
        path,
        row_group_size=VIEWS_PER_DAY + ANCHOR_VIEWS + OTHER_EVENTS_PER_DAY,
    )
    return views


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """k-word shingle set, as llm.word_shingles defines it: docs shorter
    than k give one whole-doc shingle, empty docs none."""
    toks = text.split()
    if not toks:
        return set()
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def documents(seed: int, n_base: int = N_BASE_DOCS
              ) -> tuple[list[tuple[int, str]], list[tuple[int, int]], list[tuple[int, int]]]:
    """(docs, exact, near): `n_base` base docs of 10-100 words from a 30-word
    vocabulary (the make-up of the sf0.1 `documents` table), then planted
    verbatim copies and one-word-edited copies with ids after the base
    docs. `exact`/`near` list (original id, copy id)."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(VOCAB, dtype=object)
    docs = []
    for i in range(n_base):
        n = int(rng.integers(10, 101))
        docs.append((i, " ".join(vocab[rng.integers(0, len(vocab), n)])))
    next_id = n_base
    exact, near = [], []
    for src in rng.choice(n_base, int(n_base * EXACT_DUP_RATE), replace=False):
        docs.append((next_id, docs[src][1]))
        exact.append((int(src), next_id))
        next_id += 1
    long_docs = [d for d in docs[:n_base] if len(d[1].split()) >= NEAR_DUP_MIN_WORDS]
    for j in rng.choice(len(long_docs), int(n_base * NEAR_DUP_RATE), replace=False):
        src, text = long_docs[j]
        toks = text.split()
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = "dup"  # a word outside VOCAB: the edit always changes shingles
        docs.append((next_id, " ".join(toks)))
        near.append((src, next_id))
        next_id += 1
    return docs, exact, near


def write_documents(path: str, docs: list[tuple[int, str]]) -> None:
    ids = [d for d, _ in docs]
    texts = [t for _, t in docs]
    _write(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )


# table_dml inputs: billing-shaped rows keyed by (shop, billing_date)
DML_SHOPS = 20_000
DML_APPEND_ROWS = 4_000   # new keys per round
DML_MERGE_ROWS = 1_000    # half update live keys, half insert new keys
DML_KEEP_DAYS = 4         # a round deletes the day appended this many rounds ago


def dml_batch(seed: int, rnd: int) -> list[tuple[int, str, int, float, str]]:
    """The round's append batch: distinct shops on the round's own day."""
    rng = np.random.default_rng([seed, 5, rnd])
    shops = np.sort(rng.choice(DML_SHOPS, DML_APPEND_ROWS, replace=False))
    views = rng.integers(0, 5_000, DML_APPEND_ROWS)
    return [
        (int(s), day(rnd), int(v), round(int(v) / 100_000, 2), "pending")
        for s, v in zip(shops, views)
    ]


def dml_merge_source(seed: int, rnd: int, live_keys: list[tuple[int, str]]):
    """Merge source: updates of live keys plus inserts of new keys on
    the round's day (shops the append did not use)."""
    rng = np.random.default_rng([seed, 6, rnd])
    n_upd = DML_MERGE_ROWS // 2
    pick = rng.choice(len(live_keys), n_upd, replace=False)
    rows = []
    for i in sorted(pick):
        shop, d = live_keys[i]
        v = int(rng.integers(0, 5_000))
        rows.append((shop, d, v, round(v / 100_000, 2), "success"))
    used = {s for s, d in live_keys if d == day(rnd)}
    free = np.array([s for s in range(DML_SHOPS) if s not in used], dtype=np.int64)
    for s in np.sort(rng.choice(free, DML_MERGE_ROWS - n_upd, replace=False)):
        v = int(rng.integers(0, 5_000))
        rows.append((int(s), day(rnd), v, round(v / 100_000, 2), "pending"))
    return rows
