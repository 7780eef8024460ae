"""Deterministic fixture tables for the benchmark.

Writes the ten parquet tables graft's loaders expect (the TPC-H-style star
schema plus events, documents and embeddings) with the column names and
parquet types of graft's own test fixtures (TESTDATA.md, FIXTURES.md).
Every value comes from one fixed numpy seed, so each checkout generates the
same tables; the workload seed only changes the statements sent against
them.

The tables reproduce graft's sf0.1 test fixtures (the scale its bench
runs), as measured with DuckDB and listed in README.md: the same row
counts, key ranges, value ranges and distributions, vocabulary, text
lengths, near-duplicate structure and embedding shape.  The benchmark may
read only its own checkout, so it generates them instead of reading the
shared fixture directory.

Usage: python3 datagen.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
ORDER_DAYS = 2405  # order dates: 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499   # ship dates: 1995-01-02 .. 2001-11-04
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000
DAY_US = 86_400 * 1_000_000
# every document word but "dup", which only marks the near-duplicates
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DOC_TOKENS = (10, 99)    # tokens per document, uniform, inclusive
DUP_SHARE = 0.05         # documents that copy another one plus " dup"
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM, LABELS = 64, 10
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "hot", "large", "new", "old", "red", "small"],
              ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
               "widget"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(rng):
    n_cust, n_supp, n_part, n_ord, n_li = (ROWS[k] for k in (
        "customer", "supplier", "part", "orders", "lineitem"))
    adj, noun = PART_WORDS
    return {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(rng, SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(rng, -999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(rng, adj, n_part),
                                                  pick(rng, noun, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                      2)},
        # the fixtures draw every column independently: line counts per
        # order are Poisson-like (about 2% of orders have none), and prices
        # and ship dates do not follow from the other columns
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": ts(EPOCH_1995_US
                              + rng.integers(0, ORDER_DAYS, n_ord) * DAY_US),
            "o_orderpriority": pick(rng, PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": pick(rng, ["F", "O"], n_li),
            "l_shipdate": ts(EPOCH_1995_US
                             + rng.integers(1, SHIP_DAYS + 1, n_li) * DAY_US)},
    }


def documents(rng):
    """Uniform words, uniform lengths; a 5% share of documents are another
    document's text plus the word "dup" (the fixtures' near-duplicates;
    two of them can copy the same document, which makes exact duplicates)."""
    n = ROWS["documents"]
    lo, hi = DOC_TOKENS
    texts = [" ".join(pick(rng, VOCAB, k))
             for k in rng.integers(lo, hi + 1, n)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng):
    """Unit vectors in random directions; the labels carry no geometry."""
    n = ROWS["embeddings"]
    v = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, LABELS, n).astype(np.int32)}


def events(rng):
    n = ROWS["events"]
    t = np.sort(rng.integers(0, 30 * DAY_US, n))
    return {"event_id": np.arange(n, dtype=np.int64),
            "ts": ts(EPOCH_2024_US + t),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def generate(out_dir):
    rng = np.random.default_rng(DATA_SEED)
    tables = star(rng)
    tables["documents"] = documents(rng)
    tables["embeddings"] = embeddings(rng)
    tables["events"] = events(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


if __name__ == "__main__":
    generate(sys.argv[1])
