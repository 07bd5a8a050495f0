"""Seeded generator for the benchmark's input tables.

The tables have the schema and value ranges of graft's TPC-H-ish test
data (orders, lineitem, customer, supplier, part, nation, region,
documents): every SparkEntry query the benchmark runs, and
its DuckDB oracle, read them as bare table names from one directory of
single-row-group parquet files.  The same seed and scale always give
byte-identical tables.

Row counts scale with `sf` as in TPC-H: orders = 1.5M * sf,
lineitem = 4 * orders, and so on.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1970-01-01", "D")
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE",
                     "HOUSEHOLD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                       "PROMO"])
PART_ADJ = np.array(["large", "hot", "red", "new", "small", "cold", "old",
                     "shiny"])
PART_NOUN = np.array(["ring", "bolt", "anvil", "rod", "plate", "gear",
                      "widget", "nut"])


def _days(rng, lo, hi, n):
    """Random dates in [lo, hi] as timestamp[us] without a zone, the
    type Spark reads back as TIMESTAMP_NTZ."""
    lo_d = (np.datetime64(lo, "D") - EPOCH).astype(np.int64)
    hi_d = (np.datetime64(hi, "D") - EPOCH).astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def region(rng, sf):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation(rng, sf):
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k,
                     "n_name": [f"NATION_{i}" for i in k.tolist()],
                     "n_regionkey": k % 5})


def customer(rng, sf):
    n = int(150_000 * sf)
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": k, "c_name": _names("Customer", k),
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)})


def supplier(rng, sf):
    n = int(10_000 * sf)
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": k, "s_name": _names("Supplier", k),
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng, sf):
    n = int(200_000 * sf)
    k = np.arange(n, dtype=np.int64)
    names = np.char.add(np.char.add(rng.choice(PART_ADJ, n), " "),
                        rng.choice(PART_NOUN, n))
    brands = np.char.add("Brand#", rng.integers(1, 26, n).astype(str))
    return pa.table({
        "p_partkey": k, "p_name": names, "p_brand": brands,
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})


def orders(rng, sf):
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150_000 * sf), n, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(PRIORITIES, n)})


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    n_orders, n_parts, n_supp = (int(1_500_000 * sf), int(200_000 * sf),
                                 int(10_000 * sf))
    # (l_orderkey, l_partkey, l_suppkey) is the table's primary key:
    # draw a few spare rows and keep the first n distinct triples
    m = n + n // 50 + 16
    ok = rng.integers(0, n_orders, m, dtype=np.int64)
    pk = rng.integers(0, n_parts, m, dtype=np.int64)
    sk = rng.integers(0, n_supp, m, dtype=np.int64)
    packed = (ok * n_parts + pk) * n_supp + sk
    _, first = np.unique(packed, return_index=True)
    keep = np.sort(first)[:n]
    assert keep.size == n, "lineitem key draw came up short"
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": ok[keep], "l_partkey": pk[keep], "l_suppkey": sk[keep],
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})


def documents(rng, sf):
    """Bag-of-words documents; one in twenty is an earlier document
    with a trailing ' dup', so the dedup queries find near-duplicates."""
    n = int(50_000 * sf)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


TABLES = {f.__name__: f for f in (region, nation, customer, supplier, part,
                                  orders, lineitem, documents)}


def generate(out_dir, names, seed, sf):
    """Write `<out_dir>/<name>.parquet` for each table name.  Each table
    draws from its own stream, so a table's content depends only on the
    seed, the scale and its name."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name in names:
            rng = np.random.default_rng([seed, i])
            pq.write_table(TABLES[name](rng, sf),
                           os.path.join(out_dir, f"{name}.parquet"),
                           row_group_size=1 << 24)
