"""Seeded generator for the driver tables graft's queries read.

Each table has the schema of the reference sf0.1 tables and the value
distributions measured on them (vocabulary, lengths, shares, key and
date ranges).  ``scale`` multiplies the sf0.1 row counts and key
ranges.  Order and ship dates span ``scale`` times the sf0.1 range, so
growth keeps orders per day at sf0.1 density, but never less than that
range: queries filter on fixed dates.  Events keep the sf0.1 span with
users scaled, so events per user stay as at sf0.1.  The same (seed, scale) always yields byte-identical
parquet files.
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts.
ROWS = {"supplier": 1000, "customer": 15000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.1505, 0.1488, 0.1484, 0.1403]
DUP_SHARE = 0.05            # docs that repeat another doc's text plus " dup"
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM, EMB_LABELS = 64, 10
EVENT_USERS, EVENT_DAYS = 1500, 30
ORDER_DAYS, SHIP_DAYS = 2404, 2498   # 1995-01-01.. and 1995-01-02.. at sf0.1

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00 UTC, in microseconds
EPOCH_2024 = 1_704_067_200_000_000 # 2024-01-01T00:00 UTC


def _n(table, scale):
    return max(1, int(round(ROWS[table] * scale)))


def _rng(seed, table):
    # One stream per table, so adding a table never shifts another's values.
    key = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, key]))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _strs(fmt, keys):
    return pa.array([fmt % k for k in keys.tolist()], pa.string())


def region(seed, scale):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)})


def nation(seed, scale):
    keys = list(range(25))
    return pa.table({"n_nationkey": pa.array(keys, pa.int32()),
                     "n_name": pa.array([f"NATION_{k}" for k in keys]),
                     "n_regionkey": pa.array([k % 5 for k in keys], pa.int32())})


def supplier(seed, scale):
    rng, n = _rng(seed, "supplier"), _n("supplier", scale)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({"s_suppkey": keys, "s_name": _strs("Supplier#%09d", keys),
                     "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def customer(seed, scale):
    rng, n = _rng(seed, "customer"), _n("customer", scale)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({"c_custkey": keys, "c_name": _strs("Customer#%09d", keys),
                     "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n),
                     "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)])})


def part(seed, scale):
    rng, n = _rng(seed, "part"), _n("part", scale)
    keys = np.arange(n, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
                        np.array(PART_NOUN)[rng.integers(0, 8, n)])
    return pa.table({"p_partkey": keys, "p_name": pa.array(names),
                     "p_brand": _strs("Brand#%d", rng.integers(1, 26, n)),
                     "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
                     "p_size": rng.integers(1, 51, n, dtype=np.int32),
                     "p_retailprice": 900.0 + (keys % 1000) / 10.0})


def orders(seed, scale):
    rng, n = _rng(seed, "orders"), _n("orders", scale)
    days = rng.integers(0, int(ORDER_DAYS * max(1.0, scale)) + 1, n)
    return pa.table({"o_orderkey": np.arange(n, dtype=np.int64),
                     "o_custkey": rng.integers(0, _n("customer", scale), n),
                     "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
                     "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                     "o_orderdate": _ts(EPOCH_1995 + days * US_PER_DAY),
                     "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)])})


def lineitem(seed, scale):
    rng, n = _rng(seed, "lineitem"), _n("lineitem", scale)
    days = rng.integers(0, int(SHIP_DAYS * max(1.0, scale)) + 1, n)
    return pa.table({
        "l_orderkey": rng.integers(0, _n("orders", scale), n),
        "l_partkey": rng.integers(0, _n("part", scale), n),
        "l_suppkey": rng.integers(0, _n("supplier", scale), n),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(EPOCH_1995 + (days + 1) * US_PER_DAY)})


def events(seed, scale):
    rng, n = _rng(seed, "events"), _n("events", scale)
    ts = np.sort(rng.integers(0, EVENT_DAYS * US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, max(1, int(EVENT_USERS * scale)), n),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": _strs('{"k": %d}', rng.integers(0, 100, n))})


def documents(seed, scale):
    rng, n = _rng(seed, "documents"), _n("documents", scale)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n).tolist()]
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    bases = np.setdiff1d(np.arange(n), dups)
    for d, b in zip(dups.tolist(), rng.choice(bases, len(dups)).tolist()):
        texts[d] = texts[b] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({"doc_id": ids, "text": pa.array(texts),
                     "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
                     "source": _strs("src%d", ids % 20),
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(seed, scale):
    rng, n = _rng(seed, "embeddings"), _n("embeddings", scale)
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32),
                                   pa.array(v.reshape(-1), pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
                     "label": rng.integers(0, EMB_LABELS, n, dtype=np.int32)})


TABLES = [region, nation, supplier, customer, part, orders, lineitem, events,
          documents, embeddings]


def generate(out_dir, seed, scale):
    """Write every table as ``<out_dir>/<name>.parquet``; reuse a finished dir."""
    stamp = os.path.join(out_dir, "_GENERATED")
    tag = f"{seed} {scale} {_source_hash()}"
    if os.path.exists(stamp) and open(stamp).read() == tag:
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for make in TABLES:
        pq.write_table(make(seed, scale), os.path.join(out_dir, make.__name__ + ".parquet"),
                       compression="snappy")
    with open(stamp, "w") as f:
        f.write(tag)
    return out_dir


def _source_hash():
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <out_dir> <seed> <scale>")
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
