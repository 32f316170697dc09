"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (TPC-H-style star schema, an events
stream table, documents and embeddings) as one single-row-group parquet
file each, with the physical schema and value ranges of the project's
testdata. The output depends only on (scale, seed).

    python3 perfbench/gen_data.py OUT_DIR [--scale 0.02] [--seed 42]
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000   # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs
ORDER_DAYS = 2404                        # 1995-01-01 .. 2001-08-01


def sizes(scale):
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def tables(scale, seed):
    n = sizes(scale)
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    retail = np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": rng.choice(names, p),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.integers(1, 51, p, dtype=np.int32),
        "p_retailprice": retail})
    o = n["orders"]
    order_day = rng.integers(0, ORDER_DAYS + 1, o)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": ts_us(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    partkey = rng.integers(0, p, li, dtype=np.int64)
    quantity = rng.integers(1, 51, li).astype(np.float64)
    ship_day = rng.integers(1, ORDER_DAYS + 96, li)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, li, dtype=np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * retail[partkey] *
                                    rng.uniform(1.0, 2.1, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": ts_us(EPOCH_1995 + ship_day * DAY_US)})
    e = n["events"]
    event_ts = np.sort(rng.integers(0, 30 * DAY_US, e))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts_us(EPOCH_2024 + event_ts),
        "user_id": rng.integers(0, n["users"], e, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def documents(rng, d):
    """Random token texts; ~5 % are near-duplicates of an earlier document
    (its text plus one or two trailing `dup` tokens)."""
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, v):
    """Unit vectors of length 64 around ten label centroids."""
    label = rng.integers(0, 10, v, dtype=np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[label] * 0.1 + rng.normal(0.0, 1.0, (v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": emb,
        "label": label})


def write(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=float, default=0.02)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args(argv)
    write(a.out_dir, a.scale, a.seed)


if __name__ == "__main__":
    main(sys.argv[1:])
