"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the engine's catalog reads (TPC-H-ish star schema,
``events``, ``documents``, ``embeddings``) as one single-row-group parquet
file each, with the schemas, row counts and value domains of the
engine's reference test data: row counts scale with ``sf`` the way TPC-H
does (lineitem is 6M x sf), except that ``documents`` and ``embeddings``
never drop below 500 rows. The corpus is fixed by ``CORPUS_SEED``: the workload seed only
orders ops and shapes the stream, so every run reads the same tables.

Run standalone to (re)build one scale:
    python3 perfbench/corpus.py <out_dir> [sf]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EPOCH = dt.datetime(1970, 1, 1)


def _days(start: dt.date, end: dt.date, n: int, rng) -> np.ndarray:
    """n midnight timestamps (µs) uniform over [start, end]."""
    d0 = (dt.datetime.combine(start, dt.time()) - EPOCH).days
    d1 = (dt.datetime.combine(end, dt.time()) - EPOCH).days
    return rng.integers(d0, d1 + 1, n).astype(np.int64) * 86_400_000_000


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                         "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    adj = np.array("blue cold hot red small new old large".split())
    noun = np.array("ring plate gear rod bolt anvil widget nut".split())
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _ts(_days(dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                                 n_ord, rng)),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_li, rng),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                                n_li, rng))})

    t0 = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    span = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, span, n_ev))),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)),
                                n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i and r < 0.05:
            # planted near-duplicate: an earlier doc, ~5% of tokens
            # replaced, tagged with the marker token
            toks = texts[int(rng.integers(0, i))].split()
            for j in np.nonzero(rng.random(len(toks)) < 0.05)[0]:
                toks[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks) + " dup")
        elif i and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def build(out_dir: str, sf: float) -> None:
    """Write the corpus to ``out_dir`` unless a complete copy made by this
    version of the generator is there. The marker file, written last,
    holds a digest of this file, so an interrupted build or a changed
    generator rebuilds."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == digest:
                return
        os.remove(done)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    with open(done, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
