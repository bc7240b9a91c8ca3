"""Deterministic synthetic input tables for the benchmark.

Writes the TPC-H-ish star schema plus the ``events`` and ``documents``
tables (one parquet file each, the layout ``io.load_table`` reads) with
the shapes and value ranges of the engine's test fixtures: uniform
foreign keys, TPC-H code columns, minute-spaced events with an
exponential ``value``, and documents drawn from a 30-word vocabulary.

The data depends only on the scale factor and ``DATA_SEED``, never on
the benchmark's ``--seed`` (which permutes query order), so the stored
result fingerprints hold for every run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated data changes, so cached tables are rebuilt
VERSION = 1
TABLES = "region nation supplier customer part orders lineitem events documents".split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _ms(date: str) -> int:
    return int(np.datetime64(date, "ms").astype(np.int64))


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(0, (_ms(hi) - _ms(lo)) // 86_400_000 + 1, n)
    return pa.array(_ms(lo) + days * 86_400_000, pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    """All tables at scale factor ``sf`` (sf=1 ~ 6M lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1_000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # events: exponential gaps spread over 30 days, microsecond stamps
    gaps = rng.exponential(1.0, n_ev)
    offs_us = (np.cumsum(gaps) / gaps.sum() * 30 * 86_400e6 * 0.9999).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_ms("2024-01-01") * 1000 + offs_us, pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_doc):
        words = list(rng.choice(_VOCAB, rng.integers(10, 100)))
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    return t


def ensure(data_dir: str, sf: float) -> str:
    """Generate the tables under ``data_dir/sf<sf>`` unless a matching
    build is already there; return that directory."""
    out = os.path.join(data_dir, f"sf{sf:g}")
    stamp = os.path.join(out, "MANIFEST.json")
    want = {"version": VERSION, "sf": sf, "seed": DATA_SEED, "tables": TABLES}
    try:
        with open(stamp) as f:
            if json.load(f) == want:
                return out
    except (OSError, ValueError):
        pass
    os.makedirs(out, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(stamp, "w") as f:
        json.dump(want, f)
    return out
