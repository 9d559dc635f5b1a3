"""Deterministic synthetic fixtures for the benchmark.

Writes the ten entity tables the query builders read (``catalog.TABLES``)
as single-row-group parquet files, with the schemas, key ranges, foreign
keys and value domains documented in the repository's FIXTURES.md. The
data depends only on the scale factor and ``DATA_SEED``; the workload seed
of a run orders the queries, it never changes the data.

    python3 perfbench/fixtures.py OUT_DIR SF
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated data changes, so cached copies are rebuilt.
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
PART_TYPES = ["STANDARD", "LARGE", "ECONOMY", "MEDIUM", "SMALL", "PROMO"]
COLORS = ["blue", "cold", "green", "red", "small", "dark", "light", "pale"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(start: dt.datetime, n: int, span_days: int, rng) -> pa.Array:
    return _ts(start, rng.integers(0, span_days + 1, n) * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), n_ord, 2404, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(dt.datetime(1995, 1, 2), n_line, 2498, rng),
    })
    month_us = 30 * 86_400_000_000 - 3 * 60_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the fixtures for ``sf``, writing them
    first if absent. The write goes to a temporary sibling that is renamed
    into place, so an interrupted run never leaves a partial directory."""
    final = os.path.join(root, f"sf{sf}-v{VERSION}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    os.rename(tmp, final)
    return final


if __name__ == "__main__":
    print(ensure(sys.argv[1], float(sys.argv[2])))
