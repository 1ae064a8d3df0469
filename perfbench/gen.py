"""Seeded input generators for the benchmark.

Ingest rows come from the run's seed. The batch mix's tables are generated
from a fixed seed (``BATCH_DATA_SEED``): the mix is a fixed input whose
timings are compared run to run, so the run's seed is recorded but does not
change them. Everything here is deterministic for a given seed.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CSV_HEADER = "event_id,shard,tsu,payload,due_us\n"
ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"

# ingest_backfill: shard weights of the pre-staged backlog (largest first)
BACKFILL_WEIGHTS = [16, 8, 4, 2, 1, 1, 1, 1]
# ingest_live: weights of the shards present from the start, and the late
# shard that first appears a quarter of the way into the timed window
LIVE_WEIGHTS = [8, 4, 2, 1, 1, 1]
LIVE_LATE_WEIGHT = 2


def _payload(rng):
    return "".join(rng.choice(ALNUM) for _ in range(16))


def _shard_names(n):
    """Shard values, largest weight first. The shape of the skew is fixed;
    the seed draws the rows."""
    return [f"shard_{i:02d}" for i in range(n)]


def backfill_rows(seed, page_size, largest_pages):
    """A skewed backlog: the largest shard holds ``largest_pages`` pages and
    the others shrink with BACKFILL_WEIGHTS, so later cycles carry full
    pages for a few shards and partial or empty pages for the rest."""
    rng = random.Random(seed)
    names = _shard_names(len(BACKFILL_WEIGHTS))
    unit = largest_pages * page_size // BACKFILL_WEIGHTS[0]
    shards = []
    for name, w in zip(names, BACKFILL_WEIGHTS):
        shards += [name] * (w * unit - rng.randrange(page_size // 10))
    rng.shuffle(shards)
    rows = []
    for i, sh in enumerate(shards):
        rows.append((i, sh, rng.randrange(10**12), _payload(rng), 0))
    return rows


LIVE_PRIMER_ROWS = 10  # per start shard, inserted just before the timed phase


def live_rows(seed, page_size, step_s, low_rate, high_rate):
    """Rows staged before the warm-up (one page per start shard, due -1),
    primer rows that start the timed phase (due -2), then the open-loop
    schedule: ``low_rate`` rows/s for ``step_s`` seconds, then
    ``high_rate`` rows/s for ``step_s`` seconds (due = offset in µs). Sort
    keys grow from one group to the next and, in the schedule, with the due
    time, as a live source's insert clock does."""
    rng = random.Random(seed)
    names = _shard_names(len(LIVE_WEIGHTS) + 1)
    start, late = names[:-1], names[-1]
    rows = []
    eid = 0
    for group, per_shard in ((-1, page_size), (-2, LIVE_PRIMER_ROWS)):
        for sh in start:
            for _ in range(per_shard):
                tsu = (group == -2) * 10**11 + rng.randrange(10**11)
                rows.append((eid, sh, tsu, _payload(rng), group))
                eid += 1
    late_at = step_s * 1e6 / 2
    step_us = int(step_s * 1e6)
    for k, rate in enumerate((low_rate, high_rate)):
        n = int(round(rate * step_s))
        for j in range(n):
            due = k * step_us + int(j * 1e6 / rate)
            if due >= late_at:
                sh = rng.choices(start + [late], weights=LIVE_WEIGHTS + [LIVE_LATE_WEIGHT])[0]
            else:
                sh = rng.choices(start, weights=LIVE_WEIGHTS)[0]
            rows.append((eid, sh, 10**12 + due * 1000 + rng.randrange(1000), _payload(rng), due))
            eid += 1
    return rows


def rows_csv(rows):
    return CSV_HEADER + "".join(f"{a},{b},{c},{d},{e}\n" for a, b, c, d, e in rows)


def write_rows(path, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(rows_csv(rows))


# --- batch mix tables -------------------------------------------------------

BATCH_DATA_SEED = 42
BATCH_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "documents"]
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()


def _days(rng, lo, hi, n):
    base = np.datetime64(lo, "us")
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def batch_tables(scale=0.1, seed=BATCH_DATA_SEED):
    """TPC-H-shaped star schema plus a document corpus, at the row counts of
    scale factor ``scale`` (0.1: 600 k lineitems, 5 k documents)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * scale), int(10000 * scale)
    n_ord, n_li, n_doc = int(1500000 * scale), int(6000000 * scale), int(50000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_li)
    ship = odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]").astype("timedelta64[us]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200000 * scale), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    t["documents"] = _documents(rng, n_doc)
    return t


def _documents(rng, n):
    """Random-word documents of 10-100 words; about 5% are near-copies of
    an earlier document (`` dup`` appended) and a few are exact copies, so
    near-duplicate pairs and repeated spans exist."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = np.array(["en", "en", "de", "fr", "es", "zh", "en"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def write_batch_tables(out_dir, scale=0.1):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in batch_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
