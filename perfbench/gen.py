"""Seeded input generator for the benchmark.

Writes the fixture tables the catalog queries read (the TPC-H-shaped star
schema plus `events`, `documents` and `embeddings`, one parquet file each,
with the column names, types and value domains the queries and their DuckDB
oracles expect) and the rating-event log that `stream-replay` replays.
The same seed always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: the shape of a 0.01 scale factor (1,500 customers, 60,000
# lineitems), with the 2,000-vector embedding catalog of the 0.1 scale so
# the stream serve ranks a catalog of the fixture's size.
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, event_users=150, documents=500,
             embeddings=2000)
DIM = 64

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# stream-replay event log: STREAM_BATCHES equal micro-batches, replayed into
# one query in rounds of consecutive batches (the first round is the
# warm-up), so it must split into the run's rounds. User cohort c
# is active for COHORT_SPAN batches starting at batch c * COHORT_STEP, so two
# cohorts overlap and a retired cohort never returns. The traffic's skew
# follows the repository's 0.1-scale fixture tables, where the ratings fact
# (`graft.rec.Ratings.view`: user = o_custkey, item = l_partkey) spreads
# lineitems uniformly over orders and orders uniformly over customers:
# - orders per customer have mean 10.0 and coefficient of variation 0.316,
#   a Poisson(10) count, so a user's weight is a Poisson(USER_WEIGHT_MEAN)
#   draw (at least 1);
# - ratings per item have coefficient of variation 0.182 at a mean of 30.0,
#   which is the sampling noise of uniform picks (1/sqrt(30) = 0.183), so
#   items are drawn uniformly from the embedding catalog;
# - ratings are 1 + (l_quantity mod 5), uniform over 1..5 (mean 3.00).
# Batch, cohort and span sizes are not measured traffic: they size one
# replay to a few seconds.
STREAM_BATCHES = 12
BATCH_EVENTS = 250
COHORT_STEP = 1
COHORT_SPAN = 2
COHORT_USERS = 60
USER_WEIGHT_MEAN = 10
BATCH_SPAN_MS = 60_000
# The idle horizon equals a cohort's active span, so no user goes idle while
# its cohort is active: a user is evicted only after retiring, and every
# user's state is the fold of all of its events.
IDLE_HORIZON_MS = COHORT_SPAN * BATCH_SPAN_MS
STREAM_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, rng):
    s = SIZES
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    nc = s["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = s["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = s["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = s["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = s["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})

    ne = s["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(month_us, ne, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["event_users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = s["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(nd)]
    # planted near-duplicates: 5% of documents copy another one plus a word
    dups = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # The fixture embeddings are isotropic unit vectors with a label drawn
    # uniformly from 10, independent of the vector: per dimension the
    # standard deviation is 0.125 (1/sqrt(64)), and the mean cosine between
    # two vectors is 0.0000 within a label and across labels alike.
    nv = s["embeddings"]
    vecs = rng.standard_normal((nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


def stream_log(out_dir, rng):
    n_items = SIZES["embeddings"]
    n_cohorts = (STREAM_BATCHES - COHORT_SPAN) // COHORT_STEP + 2
    user_w = np.maximum(rng.poisson(USER_WEIGHT_MEAN, (n_cohorts, COHORT_USERS)), 1)
    user_p = user_w / user_w.sum(axis=1, keepdims=True)
    users, items, ratings, ts, batch = [], [], [], [], []
    for b in range(STREAM_BATCHES):
        active = [c for c in range(n_cohorts)
                  if c * COHORT_STEP <= b < c * COHORT_STEP + COHORT_SPAN]
        cohort = rng.choice(active, BATCH_EVENTS)
        users.append(np.array([c * COHORT_USERS + rng.choice(COHORT_USERS, p=user_p[c])
                               for c in cohort]))
        items.append(rng.integers(0, n_items, BATCH_EVENTS))
        ratings.append(rng.integers(1, 6, BATCH_EVENTS).astype(np.float64))
        # distinct event times inside the batch's span, rows in random order:
        # the fold must sort them itself
        ts.append(STREAM_T0_MS + b * BATCH_SPAN_MS +
                  rng.choice(BATCH_SPAN_MS, BATCH_EVENTS, replace=False))
        batch.append(np.full(BATCH_EVENTS, b))
    _write(out_dir, "stream_events", {
        "batch": pa.array(np.concatenate(batch), pa.int32()),
        "userId": pa.array(np.concatenate(users), pa.int32()),
        "itemId": pa.array(np.concatenate(items), pa.int32()),
        "rating": np.concatenate(ratings),
        "ts": pa.array(np.concatenate(ts), pa.int64())})


def generate(out_dir, seed):
    """Write every input for `seed` under `out_dir` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables(out_dir, rng)
    stream_log(out_dir, rng)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
