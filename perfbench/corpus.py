"""Seeded corpus tables.

Everything here is a pure function of the seed, so the same seed gives the
same tables byte for byte. The engine under test only ever sees what these
functions and `stream` produce.

The star-schema tables follow the shapes and dtypes of the engine's sf0.1
test data (documents 5,000 rows, embeddings 2,000 x 64, lineitem 600,000
rows). Document text is drawn from a vocabulary of 31 core words plus a
long tail of synthetic words with Zipf-like popularity, so that queries
built from the same vocabulary hit both common and rare postings.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
_SYLLABLES = ("ka lo mi ru te sa no vi de pa zu ri ko ma le tu fi ga ne so"
              ).split()
N_TAIL_WORDS = 1_200
ZIPF_S = 1.1

# rows at sf0.1
SF01_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000, "users": 1_500}
LANGS = ("en", "zh", "fr", "es", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DAY_US = 86_400_000_000


def vocabulary(seed: int) -> list[str]:
    """Core words then the synthetic tail, ranked by popularity."""
    rng = np.random.default_rng([seed, 1])
    tail: set[str] = set()
    while len(tail) < N_TAIL_WORDS:
        n = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in CORE_WORDS:
            tail.add(w)
    # core words take the popular ranks; the tail follows in seeded order
    return ([CORE_WORDS[i] for i in rng.permutation(len(CORE_WORDS))]
            + [str(w) for w in rng.permutation(sorted(tail))])


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def miss_words(seed: int, n: int = 50) -> list[str]:
    """Words guaranteed absent from every generated document."""
    return [f"qqx{seed % 1000}n{i}" for i in range(n)]


def _texts(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    wc = rng.integers(10, 101, n)
    ids = rng.choice(len(vocab), int(wc.sum()), p=zipf_probs(len(vocab)))
    words = np.array(vocab, dtype=object)[ids]
    offs = np.concatenate([[0], np.cumsum(wc)])
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n)]
    for i in range(0, n - 1, 600):  # a few exact-duplicate pairs
        texts[i + 1] = texts[i]
    return texts


def documents(seed: int, n: int = SF01_ROWS["documents"]) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, vocabulary(seed), n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _ts(start: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return pa.array(base + us, type=pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, tables: tuple[str, ...]) -> None:
    """Write the named sf0.1 tables as parquet under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS
    rng = np.random.default_rng([seed, 3])
    built: dict[str, pa.Table] = {}
    if "documents" in tables:
        built["documents"] = documents(seed)
    if "region" in tables:
        built["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in tables:
        built["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no = (n["customer"], n["supplier"], n["part"],
                         n["orders"])
    if "customer" in tables:
        built["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
            "c_mktsegment": pa.array(np.array(
                ["MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "BUILDING",
                 "FURNITURE"])[rng.integers(0, 5, nc)])})
    if "supplier" in tables:
        built["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(0, 10000, ns), 2)})
    if "part" in tables:
        adj = ["large", "hot", "cold", "small", "steel", "green"]
        noun = ["ring", "bolt", "wheel", "plate", "gear", "cap"]
        built["part"] = pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{adj[i % 6]} {noun[(i // 6) % 6]}"
                       for i in range(npart)],
            "p_brand": [f"Brand#{i % 20}" for i in range(npart)],
            "p_type": pa.array(np.array(
                ["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO", "MEDIUM"])
                [rng.integers(0, 6, npart)]),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(npart) / 10.0, 2)})
    if "orders" in tables or "lineitem" in tables:
        odate = rng.integers(0, 2403, no) * DAY_US
        built["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])
                                      [rng.integers(0, 3, no)]),
            "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
            "o_orderdate": _ts("1995-01-01", odate),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, no)])})
        nl = n["lineitem"]
        okeys = rng.integers(0, no, nl)
        built["lineitem"] = pa.table({
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])
                                     [rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["O", "F"])
                                     [rng.integers(0, 2, nl)]),
            "l_shipdate": _ts("1995-01-02", odate[okeys]
                              + rng.integers(1, 96, nl) * DAY_US)})
    if "events" in tables:
        ne = n["events"]
        built["events"] = pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": pa.array(np.array(
                ["view", "click", "signup", "purchase", "error"])
                [rng.integers(0, 5, ne)]),
            "value": np.round(rng.uniform(0, 150, ne), 2),
            "props": [json.dumps({"k": int(k)})
                      for k in rng.integers(0, 100, ne)]})
    if "embeddings" in tables:
        nv, dim, k = n["embeddings"], 64, 10
        cents = rng.normal(size=(k, dim))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        labels = rng.integers(0, k, nv)
        vecs = cents[labels] + 0.6 * rng.normal(size=(nv, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        built["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())})
    for name in tables:
        pq.write_table(built[name], os.path.join(out_dir, f"{name}.parquet"))
