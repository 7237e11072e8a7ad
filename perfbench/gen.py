"""Seeded input generator for the graft benchmark.

Writes the parquet tables the program reads (events, documents,
embeddings and the TPC-H-shaped star schema) with the same schemas,
column types and value distributions as the repository's sf0.1 test
fixtures, at the sizes each workload asks for. Every table comes from
one numpy generator seeded with the run's seed, so the same seed gives
byte-identical inputs and another seed re-draws keys, times and text:

  * keys (users, resources, customers, parts, suppliers) are drawn from
    the same ranges, so the key space and its uniform skew stay fixed;
  * event times are uniform over 30 days from a seeded whole-day offset,
    which keeps the hour-of-day profile the after-hours queries read;
  * rows arrive in a seeded order (events sorted by time, as the
    fixture is; the other tables shuffled).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.1506, 0.1488, 0.1484, 0.1402]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    """Uniform 2-decimal amounts in [lo, hi], as the fixture stores them."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def events(rng, out_dir, n, n_users=1500, n_resources=100, days=30):
    shift = int(rng.integers(0, 7)) * US_PER_DAY
    span = days * US_PER_DAY
    ts = np.sort(rng.integers(0, span, n)) + shift
    k = rng.integers(0, n_resources, n)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    })
    return n


def documents(rng, out_dir, n, dup_frac=0.05):
    """Texts of 10-100 words over the fixture's 31-word vocabulary; a
    `dup_frac` share are an earlier document plus the token `dup`, the
    fixture's near-duplicate pattern."""
    vocab = np.array(VOCAB)
    texts = []
    is_dup = rng.random(n) < dup_frac
    for i in range(n):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return n


def embeddings(rng, out_dir, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })
    return n


def tpch(rng, out_dir, sf):
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    day0 = np.datetime64("1995-01-01", "D")

    def days(lo, hi, n):
        return (day0 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(rng.permutation(n_ord).astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(days(0, 2403, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(days(1, 2499, n_li))})
    return n_li


def generate(out_dir, seed, sizes):
    """Write the tables named in `sizes` under `out_dir`; returns the row
    count written per table (recorded in the benchmark's result)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    written = {}
    if "events" in sizes:
        written["events"] = events(rng, out_dir, sizes["events"],
                                   n_users=sizes.get("event_users", 1500),
                                   days=sizes.get("event_days", 30))
    if "documents" in sizes:
        written["documents"] = documents(rng, out_dir, sizes["documents"])
    if "embeddings" in sizes:
        written["embeddings"] = embeddings(rng, out_dir, sizes["embeddings"])
    if "tpch_sf" in sizes:
        written["lineitem"] = tpch(rng, out_dir, sizes["tpch_sf"])
    return written
