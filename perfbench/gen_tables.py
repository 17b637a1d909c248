"""Seeded TPC-H-ish tables for the catalog workloads.

Writes the ten parquet tables the catalog reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the schemas, physical timestamp encodings and value distributions of
the catalog's synthetic test tables, at ``sf`` (0.01 gives 60k lineitem
rows).  Everything is derived from the seed: the same seed gives
byte-identical files.

    python3 perfbench/gen_tables.py --seed 7 --sf 0.01 --out .perfbench_work/tables-7
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 44 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13 + ["zh"] * 15
_WORDS = ("a agg batch big column customer data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table the value "
          "vector window").split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def build(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 20240101])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs, n_users = max(50, int(50_000 * sf)), max(50, int(50_000 * sf)), 150

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
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    gaps = rng.exponential(259.0, n_events)
    ts_us = np.cumsum(np.maximum(1, (gaps * 1e6).astype(np.int64)))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return t


def generate(out_dir: str, seed: int, sf: float = 0.01) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    # written last: its presence marks a complete generation
    with open(os.path.join(out_dir, "DONE"), "w") as fh:
        fh.write(f"seed={seed} sf={sf}\n")


def ensure(out_dir: str, seed: int, sf: float = 0.01) -> None:
    """Generate once per seed, in a child process so the generator's
    memory stays out of the caller's peak RSS; reuse a complete earlier
    generation (``DONE`` is written last)."""
    if not os.path.exists(os.path.join(out_dir, "DONE")):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--seed", str(seed),
                        "--sf", str(sf), "--out", out_dir], check=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.out, args.seed, args.sf)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
