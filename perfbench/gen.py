"""Seeded input generator for the benchmark.

Writes the star-schema + text + vector tables the registry queries read
(same names, columns and physical types as the fixture tables described in
FIXTURES.md), a chunking corpus for the RAG and index-build workloads, and
the RAG conversation script (query texts and simulated answers).

Everything is drawn from one numpy Generator seeded by the caller, so the
same seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "small red blue hot old large cold new".split()
NOUN = "ring widget bolt gear gizmo plate nut pipe".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _texts(rng, n, vocab, lo=10, hi=100):
    """n texts of lo..hi words drawn uniformly from vocab; the last 5% are
    near-duplicates (an earlier text plus ' dup'), as in the fixtures."""
    vocab = np.asarray(vocab)
    lens = rng.integers(lo, hi + 1, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    out = [" ".join(words[e - l:e]) for e, l in zip(ends, lens)]
    n_dup = n // 20
    for i in range(n - n_dup, n):
        out[i] = out[int(rng.integers(0, n - n_dup))] + " dup"
    return out


def tables(rng, out, sf):
    """The ten registry tables at scale factor sf (lineitem = 600000 * sf)."""
    os.makedirs(out, exist_ok=True)
    n_li, n_ord = int(600_000 * sf), int(150_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_docs, n_emb, n_ev = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(1_000_000 * sf)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n_part)]})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2499, n_li) * DAY_US)})
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_docs, WORDS)
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.normal(0.0, 1.0, (n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def corpus(rng, path, n_docs, copies):
    """Chunking corpus: `copies` token-relabelled copies of n_docs texts, so
    that no two copies share a chunk (and so an embedding)."""
    base = _texts(rng, n_docs, WORDS)
    text = [t if c == 0 else " ".join(f"{w}{c}" for w in t.split(" "))
            for c in range(copies) for t in base]
    _write(path, {"doc_id": pa.array(range(len(text)), pa.int64()), "text": text})
    return sum(len(t.encode("utf-8")) for t in text)


def script(rng, path, n_turns, answer_words):
    """RAG conversation script: one seeded query text and one fixed-length
    simulated answer per turn."""
    w = np.asarray(WORDS)
    turns = [{"query": " ".join(w[rng.integers(0, len(w), int(rng.integers(3, 9)))]),
              "answer": " ".join(w[rng.integers(0, len(w), answer_words)])}
             for _ in range(n_turns)]
    with open(path, "w") as f:
        json.dump(turns, f)
