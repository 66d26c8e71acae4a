"""Seeded synthetic input tables for the benchmark.

Writes the same ten parquet tables, with the same arrow schemas and
value domains, as the engine's fixture tables (TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``), so every registry
entry and its DuckDB oracle run unchanged on them. Row counts scale
with ``sf`` like the fixtures do (sf0.01: 60,000 lineitem rows); the
corpus tables keep the fixtures' fixed 500 rows below sf0.1. The same
``(sf, seed)`` always yields byte-identical tables.

    python perfbench/datagen.py OUT_DIR SF SEED
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUNS = ["ring", "widget", "bolt", "plate", "rod", "gear", "valve", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def random_text(rng, n_tokens: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tokens))


def documents(rng, n: int, id_base: int = 0) -> pa.Table:
    """``n`` corpus docs; 5% are near-duplicates of an earlier doc (its
    text with the last token replaced by ``dup``), a few of those exact
    copies of one another, like the fixture corpus."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].rsplit(" ", 1)[0]
            texts.append(base + " dup")
        else:
            texts.append(random_text(rng, int(rng.integers(10, 101))))
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 0.125, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(10, round(200_000 * sf))
    n_ord = max(10, round(1_500_000 * sf))
    n_line = max(10, round(6_000_000 * sf))
    n_ev = max(10, round(1_000_000 * sf))
    n_docs = 500 if sf < 0.1 else round(50_000 * sf)
    n_vecs = 500 if sf < 0.1 else round(20_000 * sf)
    n_users = max(10, n_cust // 10)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(
                EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
            "l_shipdate": _ts(
                EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US
            ),
        }
    )
    # exponential inter-arrival gaps, rescaled to span the 30 days
    arrivals = np.cumsum(rng.exponential(1.0, n_ev))
    ev_ts = EPOCH_2024 + arrivals / arrivals[-1] * (30 * DAY_US - 1)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
            "value": pa.array(
                np.clip(np.round(rng.exponential(40.0, n_ev), 2), 0.01, 490.0)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
            ),
        }
    )
    out["documents"] = documents(rng, n_docs)
    out["embeddings"] = embeddings(rng, n_vecs)
    return out


def write(out_dir: str | Path, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``OUT_DIR/<name>.parquet``; returns row counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, out / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
