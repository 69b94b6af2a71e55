"""Seeded generator for the analytics tables the query catalogue reads.

Writes the ten tables of the query catalogue (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each, with the
column names and types the queries expect. Row counts scale with ``sf`` the way
the catalogue's test data does (lineitem ~ 6M x sf). Everything derives from
``numpy.random.default_rng(seed)``, so a seed always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
WORDS = (
    "a the data query table join merge batch stream window group order part line "
    "customer value key scan sort hash filter agg row column spark fast slow big small vector"
).split()
PART_WORDS = ["small", "red", "large", "blue", "steel", "ring", "widget", "bolt", "gear"]
EMBED_DIM = 64
EMBED_CLUSTERS = 10


def _day_ts(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Random word sequences; every tenth document is a lightly edited copy of
    one of the nine before it, so the near-duplicate queries have pairs to find.
    Lengths and the number of copies are the same for every seed, so the amount
    of work does not depend on the seed."""
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            words = texts[i - 1 - int(rng.integers(0, 9))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), 8 + (i * 37) % 92)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten random centres of equal size: same-centre pairs sit
    near cosine 0.7 and cross-centre pairs near 0, far from the 0.45 threshold
    either way."""
    centres = rng.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.permutation(np.arange(n) % EMBED_CLUSTERS)
    noise = rng.normal(scale=0.65 / np.sqrt(EMBED_DIM), size=(n, EMBED_DIM))
    vec = centres[label] + noise
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_ev = max(20, int(1_000_000 * sf))
    n_doc = max(20, int(50_000 * sf))
    n_vec = max(20, int(50_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_WORDS[a]} {PART_WORDS[b]}"
                    for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([["ECONOMY", "STANDARD", "PROMO"][k] for k in rng.integers(0, 3, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array([["F", "O", "P"][k] for k in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": pa.array(_day_ts(rng, n_ord, "1995-01-01", 2400)),
            "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord), per_order), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
            ),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array([["A", "N", "R"][k] for k in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([["F", "O"][k] for k in rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(_day_ts(rng, n_li, "1995-01-02", 2500)),
        }
    )
    gaps = rng.integers(1, 2 * 86_400_000_000 * 30 // n_ev, n_ev)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(2, n_cust // 10), n_ev)),
            "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)]),
            "value": pa.array(_money(rng, n_ev, 0.01, 490.0)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_vec)

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
