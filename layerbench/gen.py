"""Seeded input generator for the layered benchmark.

Every table is drawn from numpy's PCG64 stream seeded with ``--seed``, so
the same seed always yields byte-identical parquet. Shapes and value
domains follow the star schema the graft queries are written against
(TPC-H-ish dimensions and facts, an ``events`` stream, a ``documents``
corpus over a 30-word vocabulary with planted exact-copy near duplicates,
and unit-norm 64-d ``embeddings``); row counts are the sf0.1 ones, with
documents and embeddings scaled by ``corpus``.

Usage (as a library): ``write_tables(out_dir, seed, corpus=1)`` and
``write_stream(out_dir, seed, docs, batch)``.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DUP_SHARE = 0.05       # share of documents that copy another one + " dup"
EMBED_DIM = 64

# sf0.1 row counts
ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000, documents=5000, embeddings=2000)


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _day_ts(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def documents(seed, n, salt=7):
    """``n`` documents: 10–100 words each, DUP_SHARE of them an exact copy
    of another document's text plus a trailing " dup" token."""
    rng = _rng(seed, salt)
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[idx[cuts[i]:cuts[i + 1]]]) for i in range(n)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for d in dups:
        text[d] = text[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def embeddings(seed, n):
    rng = _rng(seed, 8)
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def write_tables(out, seed, corpus=1):
    """All ten tables at sf0.1 row counts; ``corpus`` multiplies the
    documents and embeddings rows."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 1)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n = ROWS["customer"]
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(r.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
            n))})
    n = ROWS["supplier"]
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2))})
    n = ROWS["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": pa.array(r.choice(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), n)),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1))})
    n = ROWS["orders"]
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, ROWS["customer"], n)),
        "o_orderstatus": pa.array(r.choice(np.array(["F", "O", "P"]), n)),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _day_ts(r, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(r.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n))})
    n = ROWS["lineitem"]
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(r.integers(0, ROWS["orders"], n)),
        "l_partkey": pa.array(r.integers(0, ROWS["part"], n)),
        "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(r.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(r.choice(np.array(["F", "O"]), n)),
        "l_shipdate": _day_ts(r, n, "1995-01-02", "2001-11-04")})
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + r.integers(0, span, n))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, 1500, n)),
        "event_type": pa.array(r.choice(np.array(
            ["click", "error", "purchase", "signup", "view"]), n)),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    _write(f"{out}/documents.parquet",
           documents(seed, round(ROWS["documents"] * corpus)))
    _write(f"{out}/embeddings.parquet",
           embeddings(seed, round(ROWS["embeddings"] * corpus)))


def write_stream(out, seed, docs, batch):
    """A document stream of ``docs`` rows split into consecutive
    micro-batch files of ``batch`` rows each (``part-00000.parquet`` …),
    in landing order."""
    os.makedirs(out, exist_ok=True)
    t = pa.table(documents(seed, docs, salt=9))
    for i, lo in enumerate(range(0, docs, batch)):
        pq.write_table(t.slice(lo, batch), f"{out}/part-{i:05d}.parquet")
