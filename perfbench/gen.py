"""Seeded corpus generator for the benchmark.

Writes the ten parquet tables the program reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schema and value distributions of the repository's synthetic test data, so
every query of every workload finds the columns, key ranges and near
duplicates it expects. The program only ever sees the parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
PART_ADJ = np.array(["blue", "old", "small", "new", "large", "hot", "cold",
                     "red"])
PART_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate",
                      "rod", "anvil"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                       "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EMBED_DIM = 64
DUP_SHARE = 0.05


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _doc_table(doc_ids, texts, langs, sources):
    texts = pa.array(texts, pa.string())
    return {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": texts,
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.compute.utf8_length(texts).cast(pa.int64()),
    }


def _embed_table(vec_ids, vecs, labels):
    vecs = np.asarray(vecs, np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return {
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)),
            flat),
        "label": pa.array(labels, pa.int32()),
    }


def base(out, sf, seed):
    """The star schema plus documents/embeddings/events at scale factor sf."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(1, int(15000 * sf))
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, n_part)], " "),
                              PART_NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, month_us, n_evt)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    lengths = rng.integers(10, 101, n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = np.flatnonzero(rng.random(n_docs) < DUP_SHARE)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    _write(out, "documents", _doc_table(
        ids, texts, LANGS[rng.choice(5, n_docs, p=LANG_P)],
        np.char.add("src", (ids % 20).astype(str))))

    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", _embed_table(
        np.arange(n_vecs, dtype=np.int64), vecs,
        rng.integers(0, 10, n_vecs).astype(np.int32)))
