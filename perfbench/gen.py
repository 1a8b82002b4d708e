"""Deterministic fixture generator for the graft benchmark.

Writes the ten tables graft's queries read (the TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) as one parquet file each, with the
value domains of the sf0.1 test fixtures:

    events      100k points over 30 days, 5 event types x 1500 users
    orders      150k, lineitem 600k, customer 15k, part 20k, supplier 1k
    documents   5000 texts over a 31-word vocabulary, ~2% near duplicates
    embeddings  2000 x 64 float32 vectors in 10 labelled clusters

The tables depend only on `seed` and `scale`, so the bytes, the row counts
and every query result are the same on every run; a run's own `--seed`
only varies the request stream that reads them.

    python3 gen.py <out_dir> [scale=1.0] [seed=42]
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = np.array(["de", "en", "es", "fr", "zh"])
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
P_ADJ = ["blue", "cold", "hot", "red", "small", "large", "green", "dark"]
P_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "nut", "pin"]
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                    "STANDARD"])

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def _days_us(rng, n, first, last):
    """Whole-day timestamps (µs) uniform over [first, last] (ISO dates)."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def tables(scale, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_li, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc, n_vec = int(5000 * scale), int(2000 * scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": P_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days_us(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": _ts(_days_us(rng, n_li, "1995-01-02", "2001-11-04"))})
    ts = np.sort(EPOCH_2024 * 1_000_000 + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(VOCAB[i] for i in
                              rng.integers(0, len(VOCAB), rng.integers(10, 101))))
    # plant near duplicates (one or two substituted words) and a few exact
    # ones, so the dedup operators have clusters to find
    for i in rng.choice(n_doc, n_doc // 50, replace=False):
        words = texts[rng.integers(0, n_doc)].split(" ")
        for _ in range(rng.integers(0, 3)):
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.06, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.12, (n_vec, 64))).astype(np.float32)
    for i in rng.choice(n_vec, n_vec // 50, replace=False):
        vecs[i] = vecs[rng.integers(0, n_vec)] + rng.normal(0, 0.002, 64).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def write(out_dir, scale=1.0, seed=42):
    """Write every table plus MANIFEST.json (row count and sha256 per file)."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, t in tables(scale, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        manifest[name] = {"rows": t.num_rows, "sha256": sha256(path)}
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0,
          int(sys.argv[3]) if len(sys.argv) > 3 else 42)
