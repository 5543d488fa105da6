"""Seeded input generator for the benchmark: numpy and pyarrow only.

Writes the ten tables of the test data (TPC-H-like star schema, ``events``,
``documents``, ``embeddings``) with the schema and value rules that
``scripts/gen_sf1.py`` documents, at sf0.1 row counts times ``scale``,
plus the ingest batch files: seeded document batches with doc ids
disjoint from ``documents``, a few near-duplicates planted per batch,
and strictly increasing mtimes so a file stream picks them up in
order.  The same seed and scale give byte-identical files.

Run alone to print the row counts and bytes:
``python3 perfbench/gen.py OUT_DIR --seed 1 [--scale 1.0]``.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts (TESTDATA.md); nation and region are fixed
ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "part": 20_000,
    "supplier": 1_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: exact-duplicate pairs planted in ``documents`` (~0.16% of docs)
DUP_PAIRS = 8

INGEST_BATCHES = 8
INGEST_BATCH_DOCS = 250
#: near-duplicates planted per ingest batch (one word replaced in a
#: copy of an earlier document), so the label state has components
INGEST_NEAR_DUPS = 10
INGEST_ID_BASE = 1_000_000
#: mtime of the first ingest batch file; later files step by 1 s
INGEST_MTIME0 = 1_700_000_000

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, table: pa.Table, stats: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return path


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    n_words = rng.integers(10, 101, n)
    return [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in n_words]


def _documents(rng, texts: list[str], first_id: int) -> pa.Table:
    n = len(texts)
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


#: input groups; each draws from its own stream, so a group's files do
#: not depend on which other groups are written
GROUPS = ("tpch", "documents", "embeddings", "ingest")


def generate(out_dir: str, seed: int, scale: float = 1.0, groups=GROUPS) -> dict:
    """Write ``groups`` under ``out_dir`` (tables at the top level,
    ingest batches under ``ingest/``) and return
    ``{name: {"rows", "bytes"}}``."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    stats: dict = {}
    for g in groups:
        rng = np.random.default_rng([seed, GROUPS.index(g)])
        _GENERATORS[g](out_dir, rng, n, scale, stats)
    return stats


def _gen_tpch(out_dir, rng, n, scale, stats) -> None:
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), stats)
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), stats)

    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
    }), stats)

    nc = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    }), stats)

    npart = n["part"]
    adjs = ["large", "hot", "blue", "red", "small", "green", "cold", "dim"]
    nouns = ["ring", "bolt", "case", "drum", "plate", "wheel", "cap", "rod"]
    names = np.array([f"{a} {b}" for a in adjs for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(npart)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    }), stats)

    no = n["orders"]
    o_start = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
    o_days = (np.datetime64("2001-08-01", "us").astype(np.int64) - o_start) // DAY_US
    odate = o_start + rng.integers(0, o_days + 1, no) * DAY_US
    stat = np.array(["O", "P", "F"])
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": stat[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pri[rng.integers(0, 5, no)],
    }), stats)

    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    rf = np.array(["A", "N", "R"])
    ls = np.array(["F", "O"])
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rf[rng.integers(0, 3, nl)],
        "l_linestatus": ls[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            odate[lok] + rng.integers(1, 96, nl) * DAY_US, pa.timestamp("us")
        ),
    }), stats)

    ne = n["events"]
    e_start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ets = np.sort(e_start + rng.integers(0, 30 * DAY_US, ne))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), stats)


def _gen_documents(out_dir, rng, n, scale, stats) -> None:
    nd = n["documents"]
    texts = _texts(rng, nd)
    srcs = rng.choice(nd, 2 * DUP_PAIRS, replace=False)
    for i, j in zip(srcs[:DUP_PAIRS], srcs[DUP_PAIRS:]):
        texts[j] = texts[i]
    _write(out_dir, "documents", _documents(rng, texts, 0), stats)


def _gen_embeddings(out_dir, rng, n, scale, stats) -> None:
    nm = n["embeddings"]
    emb = rng.standard_normal((nm, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(range(nm), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32))),
        "label": pa.array(rng.integers(0, 10, nm), pa.int32()),
    }), stats)


def _gen_ingest(out_dir, rng, n, scale, stats) -> None:
    os.makedirs(os.path.join(out_dir, "ingest"), exist_ok=True)
    bs = max(10, int(INGEST_BATCH_DOCS * scale))
    seen: list[str] = []
    for b in range(INGEST_BATCHES):
        texts = _texts(rng, bs)
        pool = seen + texts
        for slot in rng.choice(bs, min(INGEST_NEAR_DUPS, bs // 2), replace=False):
            words = pool[int(rng.integers(0, len(pool)))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(VOCAB[rng.integers(0, len(VOCAB))])
            texts[slot] = " ".join(words)
        seen += texts
        name = os.path.join("ingest", f"documents_b{b:04d}")
        path = _write(out_dir, name, _documents(rng, texts, INGEST_ID_BASE + b * bs), stats)
        os.utime(path, (INGEST_MTIME0 + b, INGEST_MTIME0 + b))


_GENERATORS = {
    "tpch": _gen_tpch,
    "documents": _gen_documents,
    "embeddings": _gen_embeddings,
    "ingest": _gen_ingest,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    stats = generate(args.out_dir, args.seed, args.scale)
    for name, s in stats.items():
        print(f"{name}: {s['rows']} rows, {s['bytes']} bytes")
    print(f"total: {sum(s['bytes'] for s in stats.values())} bytes")


if __name__ == "__main__":
    main()
