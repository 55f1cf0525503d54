"""Seeded input generators for the benchmark.

Everything a workload reads is made here from its seed, so the same seed
gives byte-identical inputs and the benchmark needs no data outside its
checkout.

- ``write_tables``: the ten registry tables (region ... embeddings) with the
  column names and Parquet types the registry queries and their DuckDB
  oracles expect, at a TPC-H-style scale factor (sf0.1: 600k lineitem rows,
  5k documents, 2k embeddings, 17.5 MB of Parquet). Row counts, value
  ranges and the planted-duplicate recipe follow the registry's sf0.1
  fixture tables: unit-norm Gaussian embeddings with labels drawn apart
  from them, 10-99-word documents over a 30-word vocabulary of which one
  in twenty is another document plus `` dup``.
- ``clustered_vectors``: d-dimensional float32 vectors drawn around seeded
  cluster centres, so exact top-10 neighbours are well defined and recall
  against numpy truth means something.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(
    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
PART_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = np.array(["large", "hot", "blue", "small", "red", "cold", "green", "dark"])
PART_NOUN = np.array(["ring", "bolt", "nut", "gear", "pipe", "screw", "valve", "cog"])
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    """Word-salad documents of 10-99 words; then one in twenty is replaced
    by another document's text plus " dup" (a near-duplicate pair, and an
    exact pair where two replacements copy the same source)."""
    words = np.array(WORDS)
    out = [" ".join(rng.choice(words, int(k))) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


def sphere_vectors(rng, n: int, dim: int) -> np.ndarray:
    """Unit-norm Gaussian vectors, near-uniform on the sphere (float32)."""
    v = rng.normal(0.0, 1.0, (n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def clustered_vectors(
    seed: int, n: int, dim: int = EMBED_DIM, n_clusters: int = 64
) -> tuple[np.ndarray, np.ndarray]:
    """→ (float32 vectors (n, dim), int cluster labels (n,))."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    labels = rng.integers(0, n_clusters, n)
    spread = rng.uniform(0.15, 0.35, n_clusters)[labels][:, None]
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, dim)) * spread
    return vecs.astype(np.float32), labels


def vector_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    """(id long, vector array<float>) Arrow table for Spark."""
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).ravel())
    lists = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table({"id": pa.array(ids, pa.int64()), "vector": lists})


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf`` → row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(PART_ADJ[rng.integers(0, 8, n_part)], " "),
            PART_NOUN[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(
            _EPOCH_1995_US + rng.integers(0, 2405, n_ord) * _DAY_US
        ),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(
            _EPOCH_1995_US + rng.integers(1, 2500, n_line) * _DAY_US
        ),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024_US + ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = vector_table(np.arange(n_emb), sphere_vectors(rng, n_emb, EMBED_DIM))
    tables["embeddings"] = pa.table({
        "vec_id": emb["id"],
        "embedding": emb["vector"],
        "label": pa.array(rng.integers(0, N_LABELS, n_emb), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    # python3 perfbench/datagen.py <out_dir> <seed> <sf>: write the tables
    import sys

    write_tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
