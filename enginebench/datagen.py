"""Deterministic TPC-H-shaped input tables for the benchmark.

Writes the parquet files ``sources.tpch_graph`` reads (region, nation,
supplier, customer, part, orders, lineitem) plus a ``documents`` corpus,
with the fixture schemas of the engine's tests: ``o_orderdate`` and
``l_shipdate`` are TIMESTAMP(NANOS), so the loader's nanos-as-long path
runs as it does on the reference fixtures.

The tables depend only on ``scale`` and a fixed data seed, never on the
workload seed: the workload seed picks anchors, write batches and order.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260417

# rows per 1.0 of scale (TPC-H cardinalities); scale 0.01 gives 1,500
# customers, 15,000 orders and ~60,000 lineitems
PER_SF = {"supplier": 10_000, "customer": 150_000, "part": 200_000, "orders": 1_500_000}

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join small customer query order stream filter "
    "group big vector node edge graph label index shuffle stage task cache "
    "plan cost rank path chain hub write read"
).split()
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "for", "with", "as")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   version="2.6")


def _documents(rng: np.random.Generator, n_docs: int) -> dict:
    """A corpus with planted exact duplicates, near duplicates (a shared
    long passage) and short or symbol-heavy docs the quality filter drops."""
    vocab = np.array(WORDS + list(STOPWORDS))
    passage = " ".join(rng.choice(vocab, 40))
    texts = []
    for i in range(n_docs):
        kind = i % 10
        if kind == 9 and i >= 10:
            texts.append(texts[i - 7])  # exact copy of an earlier doc
            continue
        words = list(rng.choice(vocab, int(rng.integers(30, 90))))
        if kind == 7:
            words = words[:10] + passage.split() + words[10:]  # near duplicate
        elif kind == 5:
            words = words[:12]  # too short to keep
        elif kind == 3:
            words = [w + "#" for w in words]  # symbol-heavy
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def generate(out_dir: str, scale: float, n_docs: int) -> dict:
    """Write every table under ``out_dir``; returns the row counts."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(int(k * scale), 4) for t, k in PER_SF.items()}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array([f"REGION{i}" for i in range(5)]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(1, ns + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i}" for i in range(1, ns + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(rng.uniform(-999, 9999, ns).round(2)),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(1, nc + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i}" for i in range(1, nc + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(rng.uniform(-999, 9999, nc).round(2)),
        "c_mktsegment": pa.array(rng.choice(["AUTO", "BUILD", "HOUSE"], nc)),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(1, npart + 1, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(1, npart + 1)]),
        "p_brand": pa.array([f"Brand#{i % 25}" for i in range(npart)]),
        "p_type": pa.array(rng.choice(["STEEL", "TIN", "COPPER"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(rng.uniform(900, 2000, npart).round(2)),
    })
    no = n["orders"]
    # as in TPC-H, a third of the customers place no orders
    buyers = np.arange(1, nc + 1)[np.arange(nc) % 3 != 2]
    o_cust = rng.choice(buyers, no).astype(np.int64)
    day_ns = 86_400 * 10**9
    epoch_1992 = 694_224_000 * 10**9
    o_date = epoch_1992 + rng.integers(0, 2400, no) * day_ns
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(1, no + 1, dtype=np.int64)),
        "o_custkey": pa.array(o_cust),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no)),
        "o_totalprice": pa.array(rng.uniform(1000, 400_000, no).round(2)),
        "o_orderdate": pa.array(o_date, type=pa.timestamp("ns")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"], no)),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(1, no + 1, dtype=np.int64), lines)
    l_line = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(1, npart + 1, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, ns + 1, nl).astype(np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(rng.uniform(900, 100_000, nl).round(2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": pa.array(np.repeat(o_date, lines) + rng.integers(1, 122, nl) * day_ns,
                               type=pa.timestamp("ns")),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    counts = dict(n, lineitem=nl, documents=n_docs)
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump({"scale": scale, "n_docs": n_docs, "rows": counts}, f)
    return counts
