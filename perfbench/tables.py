"""Seeded tables for the operator suite, in the shape of the repo's sf
test data: a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), an ``events`` stream, a ``documents`` corpus and
an ``embeddings`` table, one parquet file each.

Column names, types and value domains follow the sf0.01 data the
``queries`` registry was written against, so every suite row and its
DuckDB oracle runs unchanged on the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1; scale 0.01 gives the sf0.01 sizes.
ROWS_AT_SCALE_1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64
N_USERS_AT_SCALE_1 = 15_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, lengths[i])))
    langs = rng.choice(
        ["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14]
    )
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n):
    centroids = rng.normal(0.0, 0.15, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in ROWS_AT_SCALE_1.items()}
    n_users = max(1, int(N_USERS_AT_SCALE_1 * scale))
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(
                ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()
            ),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array(
                [f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()
            ),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(rng.choice(segments, n["customer"]), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array(
                [f"Supplier#{i:09d}" for i in range(n["supplier"])], pa.string()
            ),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
    }
    adjectives = "small red blue hot old large new cold".split()
    nouns = "ring widget bolt gear gizmo plate anvil rod".split()
    keys = np.arange(n["part"])
    tables["part"] = {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in keys], pa.string()
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], pa.string()
        ),
        "p_type": pa.array(
            rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]
            ),
            pa.string(),
        ),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2)),
    }
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"]), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n["orders"])),
        "o_orderpriority": pa.array(
            rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            ),
            pa.string(),
        ),
    }
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18.0, 2100.0, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m), pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, m)),
    }
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    tables["events"] = {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
        "event_type": pa.array(
            rng.choice(["click", "error", "purchase", "signup", "view"], e), pa.string()
        ),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    }
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, max(500, n["embeddings"]))
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
