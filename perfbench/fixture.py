"""Seeded synthetic fixture for the benchmark.

Writes the ten tables the engine's driver queries read (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same column names and parquet types as the engine's test data, sized by
``scale`` (1.0 = the sf0.1 row counts: 15k customers, 150k orders, 600k
lineitems, 100k events). Every table scales with ``scale``; the text and
vector corpora scale with ``corpus_scale``.

The seed fixes every value and the row order of every file, so two calls
with the same arguments write identical files and the outputs of a
workload stay checkable against the DuckDB oracles run over the same
files.
"""
from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
COLORS = ["red", "blue", "green", "small", "large", "steel"]
THINGS = ["ring", "widget", "bolt", "gear", "panel", "valve"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_ORDER_START = datetime(1995, 1, 1, tzinfo=timezone.utc)
_ORDER_DAYS = 2404            # 1995-01-01 .. 2001-08-01
_EVENT_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
_EVENT_SPAN_US = 30 * _DAY_US
EMBED_DIM = 64


def _epoch_us(d: datetime) -> int:
    return int(d.timestamp()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _zipf_keys(rng, n_keys: int, n: int, a: float = 1.15) -> np.ndarray:
    """Skewed key draw over [0, n_keys): rank r has weight 1/(r+1)^a and
    ranks map to keys through a seeded permutation, so the hot keys are
    scattered over the key space."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def _names(prefix: str, keys: np.ndarray) -> list:
    return [f"{prefix}#{k:09d}" for k in keys]


def _shuffle(rng, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _texts(rng, n_docs: int, dup_share: float):
    """Random-word documents; ``dup_share`` of them are near-copies of an
    earlier document with about 3% of the words replaced, so MinHash
    finds verified pairs at Jaccard >= 0.7 and clusters of 2+ docs."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(20, 90, n_docs)
    docs = [vocab[rng.integers(0, len(vocab), k)] for k in lengths]
    n_dup = int(n_docs * dup_share)
    targets = rng.choice(np.arange(1, n_docs), size=n_dup, replace=False)
    for t in targets:
        src = docs[int(rng.integers(0, t))].copy()
        edits = rng.random(len(src)) < 0.03
        src[edits] = vocab[rng.integers(0, len(vocab), int(edits.sum()))]
        docs[t] = src
    return [" ".join(d) for d in docs]


def _embeddings(rng, n: int, dup_share: float) -> np.ndarray:
    """Unit vectors; ``dup_share`` of them are noisy copies (cosine about
    0.9) of as many distinct originals, so the near-duplicate pairs that
    semantic dedup looks for number ``dup_share * n`` plus the few random
    pairs that reach its threshold by chance."""
    x = rng.standard_normal((n, EMBED_DIM))
    n_dup = int(n * dup_share)
    picked = rng.choice(n, size=2 * n_dup, replace=False)
    for src, dst in zip(picked[:n_dup], picked[n_dup:]):
        x[dst] = x[src] + 0.45 * rng.standard_normal(EMBED_DIM) \
            * np.linalg.norm(x[src]) / np.sqrt(EMBED_DIM)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def build_tables(seed: int, scale: float, corpus_scale: float) -> dict:
    """All ten tables as pyarrow Tables (deterministic in the arguments)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(100, int(20_000 * scale))
    n_ord = max(500, int(150_000 * scale))
    n_users = max(50, int(1_500 * scale))
    n_ev = max(1_000, int(100_000 * scale))
    n_docs = max(200, int(5_000 * corpus_scale))
    n_vec = max(200, int(2_000 * corpus_scale))
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in zip(
            rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 20_000) / 10.0, 2)})

    ok = np.arange(n_ord)
    odate_us = (_epoch_us(_ORDER_START)
                + rng.integers(0, _ORDER_DAYS, n_ord) * _DAY_US)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(ok, lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(float)
    l_part = _zipf_keys(rng, n_part, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * (900 + (l_part % 20_000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate_us[l_order]
                          + rng.integers(1, 122, n_li) * _DAY_US)})

    # strictly increasing timestamps: the event stream is tie-free per
    # user, which LATEST/NOP and the as-of join rely on
    gaps = rng.integers(1, 2 * _EVENT_SPAN_US // n_ev, n_ev)
    ev_us = _epoch_us(_EVENT_START) + np.cumsum(gaps)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(_zipf_keys(rng, n_users, n_ev, a=0.6), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = _texts(rng, n_docs, dup_share=0.08)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    emb = _embeddings(rng, n_vec, dup_share=0.3)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})

    return {name: _shuffle(rng, tab) for name, tab in t.items()}


def generate(out_dir: str, seed: int, scale: float,
             corpus_scale: float) -> dict:
    """Write the fixture to ``out_dir`` (one ``<table>.parquet`` file
    each) and return its manifest: rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "scale": scale, "corpus_scale": corpus_scale,
                "tables": {}}
    for name, table in build_tables(seed, scale, corpus_scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest["tables"][name] = {"rows": table.num_rows,
                                    "bytes": os.path.getsize(path)}
    return manifest


def digest(out_dir: str) -> str:
    """Hash of every file's name and bytes in a fixture directory."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()[:16]
