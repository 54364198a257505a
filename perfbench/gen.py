"""Seeded input generation for the benchmark.

Every table is a pure function of its seed (numpy's PCG64 stream), so
the same seed writes byte-identical parquet.  Schemas follow the
fixture tables the engine's readers expect (FIXTURES.md):

- `write_base(dir)`: the sf0.1-sized star schema plus `events`,
  `documents` and `embeddings`, from the fixed BASE_SEED.  The
  catalogue workloads read it; their run seed only orders the ops.
- `write_corpus(dir, seed, regime)`: a MapReduce corpus (`documents`
  and `events`) for `mr_kernel`, in one of two key regimes:
  `hot` (Zipf over a few thousand words / users, so a combiner
  collapses most pairs) or `unique` (keys drawn from a space far
  larger than the pair count, so nothing combines).
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# The fixture's documents draw from this analytics vocabulary.
VOCAB = ("a the spark join merge sort hash key group agg scan filter batch "
         "row query order value window fast slow vector small big table data "
         "stream part column customer line").split()
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

# Row counts of the sf0.1 fixture (FIXTURES.md).
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}

# mr_kernel corpus sizes, per regime.
CORPUS_DOCS = 10_000
CORPUS_WORDS = (20, 60)        # words per document, uniform
CORPUS_EVENTS = 100_000
HOT_VOCAB = 4_000              # Zipf vocabulary (hot regime)
UNIQUE_VOCAB = 200_000_000     # far larger than any token count
HOT_USERS = 2_000
UNIQUE_USERS = 25_000

_EPOCH = _dt.datetime(1970, 1, 1)


def _ts_us(y, m, d):
    return int((_dt.datetime(y, m, d) - _EPOCH).total_seconds()) * 1_000_000


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=1 << 30, compression="snappy")
    os.replace(tmp, path)


def _days(rng, n, y0, y1):
    lo, hi = _ts_us(y0, 1, 1) // 86_400_000_000, _ts_us(y1, 1, 1) // 86_400_000_000
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs_text(rng, n_docs, words_lo, words_hi, draw):
    """Space-joined documents; `draw(k)` returns k word strings."""
    lens = rng.integers(words_lo, words_hi + 1, n_docs)
    words = draw(int(lens.sum()))
    ends = np.cumsum(lens)
    starts = ends - lens
    return [" ".join(words[s:e]) for s, e in zip(starts, ends)]


def _documents(rng, texts):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _events(rng, n, users):
    """`users(n)` returns n user ids."""
    lo, hi = _ts_us(2024, 1, 1), _ts_us(2024, 1, 31)
    ts = np.sort(rng.integers(lo, hi, n)).astype("datetime64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users(n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_base(out_dir):
    """The fixed sf0.1-sized fixture set; returns the table row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(BASE_SEED))
    r = BASE_ROWS
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = r["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": pa.array([["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"][i]
                                  for i in rng.integers(0, 5, n)])})
    n = r["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99))})
    n = r["part"]
    adj = ["large", "hot", "blue", "small", "red", "green", "cold", "shiny"]
    noun = ["ring", "bolt", "anvil", "widget", "gear", "nut", "pipe", "valve"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                    "STANDARD"][i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 2))})
    n = r["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n).astype(np.int64)),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n)],
        "o_totalprice": pa.array(_money(rng, n, 1000, 500000)),
        "o_orderdate": pa.array(_days(rng, n, 1995, 2001), pa.timestamp("us")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW"][i]
                            for i in rng.integers(0, 5, n)]})
    # Line i belongs to order i % orders, line number i // orders + 1:
    # (l_orderkey, l_linenumber) is unique, the key table_rw builds on.
    n = r["lineitem"]
    idx = np.arange(n, dtype=np.int64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(idx % r["orders"]),
        "l_partkey": pa.array(rng.integers(0, r["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array((idx // r["orders"] + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900, 105000)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(rng, n, 1995, 2002), pa.timestamp("us"))})
    tables["events"] = _events(rng, r["events"],
                               lambda k: rng.integers(0, 1500, k))
    # Documents: word soup, with 2% exact and 3% near duplicates so the
    # dedup family has clusters to find.
    n = r["documents"]
    texts = _docs_text(rng, n, 6, 100,
                       lambda k: [VOCAB[i] for i in rng.integers(0, len(VOCAB), k)])
    for i in range(n):
        pick = rng.random()
        if pick < 0.05 and i > 0:
            src = texts[int(rng.integers(0, i))]
            if pick >= 0.02:
                words = src.split(" ")
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                src = " ".join(words)
            texts[i] = src
    tables["documents"] = _documents(rng, texts)
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.15, (10, 64))
    emb = (centroids[labels] + rng.normal(0.0, 0.1, (n, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_corpus(out_dir, seed, regime):
    """One mr_kernel corpus; returns its row and token counts."""
    assert regime in ("hot", "unique"), regime
    os.makedirs(out_dir, exist_ok=True)
    tag = 0 if regime == "hot" else 1
    rng = np.random.Generator(np.random.PCG64([seed, tag]))
    if regime == "hot":
        # Log-uniform rank over the vocabulary: P(rank r) ~ 1/r, Zipf s=1.
        def draw(k):
            ranks = np.floor(np.exp(rng.random(k) * np.log(HOT_VOCAB))).astype(np.int64) - 1
            return [f"w{r}" for r in ranks]

        def users(k):
            return np.floor(np.exp(rng.random(k) * np.log(HOT_USERS))).astype(np.int64) - 1
    else:
        def draw(k):
            return [f"u{r}" for r in rng.integers(0, UNIQUE_VOCAB, k)]

        def users(k):
            return rng.integers(0, UNIQUE_USERS, k)
    texts = _docs_text(rng, CORPUS_DOCS, *CORPUS_WORDS, draw)
    docs = _documents(rng, texts)
    events = _events(rng, CORPUS_EVENTS, users)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(events, os.path.join(out_dir, "events.parquet"))
    return {"documents": docs.num_rows, "events": events.num_rows,
            "tokens": sum(len(t.split(" ")) for t in texts)}
