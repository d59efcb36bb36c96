"""Seeded fixture tables for the query workloads.

Writes the three tables the benchmark's ops read (events, documents,
lineitem) with the column names and parquet types of the engine's
fixture schema (FIXTURES.md), scaled like the fixtures by `SF`. At the
benchmark's sf0.01: events 10 000, documents 500, lineitem 60 000 rows.
sf0.1 (the fixtures' bench scale) makes a flows pass 2.4x as long, and a
run of at least 40 timed ops then no longer fits the benchmark's run
budget. The same seed gives the same bytes.

The value spreads follow the fixture parquet files of the same scale:
- events: `ts` timestamp[us], monotone over 2024-01-01 .. 2024-01-31 with
  exponential gaps; 15 000 x SF users, uniform; five event types,
  uniform; `value` exponential with mean 50 (median about 35), two
  decimals; `props` = `{"k": 0..99}`.
- documents: token soup of 10-100 words over a 30-word vocabulary, about
  5 % near-duplicates (a copy of an earlier document with a `dup` token
  appended), languages en 41 %, es/zh/fr 15 %, de 14 %, sources src0-src19.
- lineitem: `l_shipdate` timestamp[us] at midnight, uniform over
  1995-01-02 .. 2001-11-04; 1.5 M x SF order keys, 200 000 x SF parts,
  10 000 x SF suppliers; quantity 1-50, `l_extendedprice` uniform
  900-105 000 and independent of quantity, discount 0-0.10, tax
  0-0.08, return flag and line status uniform.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
TABLES = ["events", "documents", "lineitem"]


def events(rng, n=int(1_000_000 * SF), users=int(15_000 * SF)):
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), type=pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n=int(50_000 * SF)):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split()
            words = base + ["dup"] * int(rng.integers(1, 3))
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def lineitem(rng, n=int(6_000_000 * SF)):
    day0 = np.datetime64("1995-01-02", "D")
    days = int((np.datetime64("2001-11-04", "D") - day0).astype(int)) + 1
    ship = (day0 + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * SF), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * SF), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * SF), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype(np.int64), type=pa.timestamp("us")),
    })


def generate(seed, out_dir):
    """Write every table for `seed` under `out_dir` (skipped if present).
    The tables are written aside and moved into place whole, so a run
    never reads a half-written set.
    """
    if os.path.isdir(out_dir):
        return out_dir
    part = f"{out_dir}.part-{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        table = globals()[name](rng)
        pq.write_table(table, os.path.join(part, name + ".parquet"))
    try:
        os.rename(part, out_dir)
    except OSError:  # another run moved the same tables in first
        shutil.rmtree(part, ignore_errors=True)
    return out_dir
