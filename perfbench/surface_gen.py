"""Seeded generator for the operator-surface tables.

Writes the ten tables `SparkEntry.queries` read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names and types of the repository's
test data (TESTDATA.md). Row counts come from workloads.json; the seed
picks every value. Documents include exact and near duplicates, and
embeddings are drawn around labelled centroids, so the dedup and vector
rows have work to do.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
         "vector", "window"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def generate(out, shape, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = shape["customers"], shape["suppliers"], shape["parts"]
    n_ord, n_ev, n_doc, n_emb = shape["orders"], shape["events"], shape["documents"], shape["embeddings"]

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = lo.size
    lp = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": lo, "l_partkey": lp,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": ln, "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lp], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((odate[lo] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us"))})

    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, shape["users"], n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": money(rng, 0.01, 499.99, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    docs, originals = [], []
    for i in range(n_doc):
        r = rng.random()
        if originals and r < 0.01:    # exact duplicate of an original document
            docs.append(docs[originals[rng.integers(0, len(originals))]])
        elif originals and r < 0.04:  # near duplicate: one or two words replaced
            words = docs[originals[rng.integers(0, len(originals))]].split(" ")
            for _ in range(rng.integers(1, 3)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            docs.append(" ".join(words))
        else:
            originals.append(i)
            docs.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                              rng.integers(8, 100))]))
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": docs,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)})

    dim, k = shape["dim"], 10
    centroids = rng.normal(0, 0.15, (k, dim))
    label = rng.integers(0, k, n_emb)
    emb = (centroids[label] + rng.normal(0, 0.08, (n_emb, dim))).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
