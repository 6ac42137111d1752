"""Seeded generator of the llm_iterative corpus.

Writes the TPC-H-like star schema plus the documents, embeddings and events
tables as one parquet file per table (`<dir>/<table>.parquet`), in the
shape graft's query catalogue reads: dates as TIMESTAMP without time zone,
embeddings as list<float>. Every table draws from its own numpy stream
seeded by (seed, table), and pyarrow writes the same bytes for the same
values, so a seed always gives byte-identical files. Documents carry planted
near-duplicates and embeddings are clustered, so the dedup and ANN operators
find real structure.
"""
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["red", "small", "hot", "old", "big", "blue", "cold", "new"]
NOUNS = ["plate", "widget", "ring", "rod", "gear", "bolt", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "window"]

# rows of each table at scale 1.0 (the sf0.01 test corpus)
BASE_ROWS = {"lineitem": 60000, "orders": 15000, "customer": 1500, "supplier": 100,
             "part": 2000, "events": 10000, "documents": 500, "embeddings": 500}


def _rng(seed, table):
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _pick(r, xs, n):
    return [xs[i] for i in r.integers(0, len(xs), n)]


def _days(base, offsets):
    return pa.array(np.datetime64(base, "us") + offsets.astype("timedelta64[D]"),
                    pa.timestamp("us"))


def write(dirname, seed, scale):
    """Write every table of the corpus under `dirname`."""
    n = {t: max(1, round(c * scale)) for t, c in BASE_ROWS.items()}
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r, c = _rng(seed, "customer"), n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": r.integers(0, 25, c, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": _pick(r, SEGMENTS, c)})

    r, s = _rng(seed, "supplier"), n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": r.integers(0, 25, s, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, s)})

    r, p = _rng(seed, "part"), n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(r, ADJECTIVES, p), _pick(r, NOUNS, p))],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, p)],
        "p_type": _pick(r, PART_TYPES, p),
        "p_size": r.integers(1, 51, p, dtype=np.int32),
        "p_retailprice": 900.0 + r.integers(0, 1000, p) / 10.0})

    r, o = _rng(seed, "orders"), n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": r.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], o),
        "o_totalprice": _money(r, 1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", r.integers(0, 2404, o)),
        "o_orderpriority": _pick(r, PRIORITIES, o)})

    r, li = _rng(seed, "lineitem"), n["lineitem"]
    qty = r.integers(1, 51, li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, o, li, dtype=np.int64),
        "l_partkey": r.integers(0, p, li, dtype=np.int64),
        "l_suppkey": r.integers(0, s, li, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.integers(900, 2100, li), 2),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], li),
        "l_linestatus": _pick(r, ["F", "O"], li),
        "l_shipdate": _days("1996-01-01", r.integers(0, 2400, li))})

    r, e = _rng(seed, "events"), n["events"]
    # sorted arrival times: a stream's event ids follow its clock
    micros = np.arange(e, dtype=np.int64) * (30 * 86400 * 10**6 // e) + r.integers(0, 10**6, e)
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": r.integers(0, max(10, e // 66), e, dtype=np.int64),
        "event_type": _pick(r, EVENT_TYPES, e),
        "value": _money(r, 0.01, 490.02, e),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]})

    r, d = _rng(seed, "documents"), n["documents"]
    texts = []
    for i in range(d):
        if i > 10 and r.integers(0, 5) == 0:
            # planted near-duplicate: an earlier document with a few tokens swapped
            toks = texts[r.integers(0, i)].split(" ")
            texts.append(" ".join(WORDS[r.integers(0, len(WORDS))] if r.integers(0, 12) == 0
                                  else t for t in toks))
        else:
            texts.append(" ".join(_pick(r, WORDS, int(r.integers(10, 90)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, d),
        "source": [f"src{k}" for k in r.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r, v = _rng(seed, "embeddings"), n["embeddings"]
    centers = r.uniform(-1, 1, (10, 64))
    labels = r.integers(0, 10, v, dtype=np.int32)
    vecs = centers[labels] + r.uniform(-0.6, 0.6, (v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})

    for name, t in tables.items():
        pq.write_table(t, f"{dirname}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
