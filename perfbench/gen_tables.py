"""Seeded generator of the query_mix input tables.

Writes the ten tables the registry queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, at sf0.02 row counts (120k lineitem rows). Column names, types,
value domains and the near-duplicate structure of `documents` follow the
synthetic star schema the registry was built against; every value is drawn
from `numpy.random.default_rng(seed)`, so one seed gives one byte-identical
data set.

    python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.02
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "red", "new", "small", "old", "green"]
PART_NOUN = ["ring", "bolt", "rod", "plate", "anvil", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def day_ts(rng, n, start, end):
    """Midnight timestamps drawn uniformly between two dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys], pa.string())


def pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_events, n_docs, n_vecs = (int(1_500_000 * SF), int(6_000_000 * SF),
                                                int(1_000_000 * SF), int(50_000 * SF),
                                                int(20_000 * SF))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(np.arange(5)),
                              "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({"n_nationkey": i32(np.arange(25)),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                              "n_regionkey": i32(np.arange(25) % 5)})
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": i64(ck), "c_name": names("Customer", ck),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": i64(sk), "s_name": names("Supplier", sk),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": i64(pk), "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": f64(money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": f64(money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": day_ts(rng, n_line, "1995-01-02", "2001-11-04")})
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start_us
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_events)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, n_events)),
        "event_type": pick(rng, EVENT_TYPES, n_events),
        "value": f64(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    out["documents"] = pa.table(documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_vecs)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs))})
    return out


def documents(rng, n):
    """Random word strings; 5% near-duplicates (an earlier text plus the
    token `dup`) and 0.16% exact duplicates give the dedup queries real work."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 100))])
             for _ in range(n)]
    n_near, n_exact = n // 20, max(1, n // 625)
    near = rng.choice(np.arange(n // 2, n), n_near + n_exact, replace=False)
    for j, d in enumerate(near):
        src = texts[int(rng.integers(0, n // 2))]
        texts[d] = src + " dup" if j < n_near else src
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def main():
    out_dir, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
