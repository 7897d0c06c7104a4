"""Seeded input tables for the benchmark workloads.

Each workload reads one parquet directory holding the table names the
registry queries expect (`events.parquet`, `documents.parquet`). The
tables keep the domains of the committed fixtures, so every query's
documented preconditions hold; the seed only draws the rows.

- events: unique `event_id` (arrival order), `ts` TIMESTAMP(us) over
  30 days, Zipf-skewed `user_id`, the five event types, non-negative
  2-dp `value`, JSON `props`. A fixed share of events arrives late:
  their `event_id` is assigned by arrival time, so `event_id` order and
  event-time order disagree for them.
- documents: whitespace-joined words from the fixture vocabulary,
  token counts spread evenly over a fixed range, the fixture's `lang`
  mix and `source` buckets, and a fixed share of near-duplicates (a
  copy of another document with ` dup` appended, the fixture's
  near-duplicate form).
"""

from __future__ import annotations

import os
import time
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_SOURCES = 20
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000
USERS = 1500
ZIPF_S = 0.8         # user_id skew: P(rank r) ~ r^-s
LATE_SHARE = 0.05    # events whose arrival lags event time
LATE_MEAN_S = 1800   # mean lag of a late event
MIN_TOKENS = 10
MAX_TOKENS = 100
DUP_SHARE = 0.05     # near-duplicates among all documents


def make_events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(11_000_000, SPAN_US, n)) + T0_US
    lag = np.zeros(n)
    late = rng.choice(n, int(round(n * LATE_SHARE)), replace=False)
    lag[late] = rng.exponential(LATE_MEAN_S * 1e6, len(late))
    arrival = np.argsort(ts + lag.astype(np.int64), kind="stable")
    ts = ts[arrival]  # row i is the i-th event to arrive
    weights = np.arange(1, USERS + 1, dtype=np.float64) ** -ZIPF_S
    rank = rng.choice(USERS, n, p=weights / weights.sum())
    user_id = rng.permutation(USERS)[rank]
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB)
    # every seed draws the same multiset of lengths, so the amount of
    # text (and of shingle overlap) does not move with the seed
    lengths = rng.permutation(
        np.resize(np.arange(MIN_TOKENS, MAX_TOKENS + 1), n))
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_dup = int(round(n * DUP_SHARE))
    dups = rng.choice(n, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, o in zip(dups, rng.choice(originals, n_dup)):
        texts[d] = texts[o] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array(
            np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in doc_id]),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    })


def generate(tables: dict, seed: int, out_dir: str) -> dict:
    """Write each `{name: rows}` table as `<out_dir>/<name>.parquet`,
    drawn from one generator seeded with `seed`. Returns per-table rows
    and bytes plus the generation time."""
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    makers = {"events": make_events, "documents": make_documents}
    info = {}
    for name, rows in sorted(tables.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](rng, rows), path)
        info[name] = {"rows": rows, "bytes": os.path.getsize(path)}
    info["gen_s"] = time.perf_counter() - t0
    return info
