"""Seeded input generators for the benchmark.

Every table the workloads read is made here from the workload seed, so
a run never depends on data outside its checkout. The schemas and
value domains follow the star-schema test tables the query keys are
written against (TPC-H-like relations, an `events` stream, `documents`
and `embeddings`); sizes scale linearly with `sf` (sf=0.1: 600k
lineitems, 100k events, 5k documents, 2k embeddings).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
REPLICA_STRIDE = 10_000_000  # doc_id offset per replica (MakeBigSf's)

US_PER_DAY = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, id0=0):
    """`n` documents of 10-100 tokens from a 30-word vocabulary; about
    5% are near-duplicates (an earlier document plus a `dup` token) and
    a few of those are exact copies."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.85:
                src = src + ["dup"]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, k)))
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def replicate_docs(docs, reps):
    """MakeBigSf's bijective per-replica retag: replica r > 0 prefixes
    every token with `r<r>_` and offsets doc_id by r * 10^7, so replicas
    share no token and each has replica 0's similarity structure."""
    out = {k: [] for k in docs}
    for r in range(reps):
        out["doc_id"].extend(int(i) + r * REPLICA_STRIDE for i in docs["doc_id"])
        out["text"].extend(t if r == 0 else " ".join(f"r{r}_{w}" for w in t.split(" "))
                           for t in docs["text"])
        out["lang"].extend(docs["lang"])
        out["source"].extend(docs["source"])
        out["n_chars"].extend(int(c) for c in docs["n_chars"])
    return out


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def star_schema(rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}
    day0 = 9131 * US_PER_DAY  # 1995-01-01
    odate = day0 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]}
    lines = rng.integers(0, 8, n_ord)  # 0..7 lines per order
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines if k]).astype(np.int32)
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_li) * US_PER_DAY)}
    n_ev = int(1_000_000 * sf)
    ev0 = 19723 * US_PER_DAY  # 2024-01-01
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ev0 + rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]}
    t["documents"] = documents(rng, int(50_000 * sf))
    t["embeddings"] = embeddings(rng, int(20_000 * sf))
    return t


def write_tables(tables, out_dir):
    """Write each table as one parquet file, `<out_dir>/<name>.parquet`,
    through a temporary name so a killed run leaves no partial table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path + ".tmp")
        os.replace(path + ".tmp", path)


def ensure_star_schema(seed, sf, out_dir):
    """Generate the star-schema tables for `seed` once per checkout."""
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        write_tables(star_schema(np.random.default_rng(seed), sf), out_dir)
        open(done, "w").close()
    return out_dir


def ensure_dedup_docs(seed, n_base, reps, n_batch_docs, out_dir):
    """The dedup corpus (`documents.parquet`, `n_base` docs x `reps`
    retagged replicas) and the admission stream (`arrivals.parquet`):
    fresh documents mixed with near-copies of corpus documents."""
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        rng = np.random.default_rng(seed)
        base = documents(rng, n_base)
        arrivals = documents(rng, n_batch_docs, id0=REPLICA_STRIDE * (reps + 1))
        for i in range(0, n_batch_docs, 4):  # every 4th arrival re-sends corpus text
            arrivals["text"][i] = base["text"][int(rng.integers(0, n_base))] + " again"
        write_tables({"documents": replicate_docs(base, reps),
                      "arrivals": arrivals}, out_dir)
        open(done, "w").close()
    return out_dir
