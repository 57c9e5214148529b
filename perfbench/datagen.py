"""Seeded synthetic input tables for the lineage-hook benchmark.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, see ``hive_lineage_spark.sources.registry.TABLES``) as
one parquet file each, with the same column names, Arrow types, value
domains and row counts per scale factor as the repository's test data.
The same ``(sf, seed)`` always yields byte-identical inputs.

Value shapes that queries depend on are kept:
- keys are dense ``0..n-1``; foreign keys are uniform draws;
- categorical columns use the fixed domains (segments, priorities,
  flags, brands, part-name words, event types, languages, sources);
- events are ordered by ``ts`` and keyed by ``event_id`` in that order;
- documents come from ``tools/gen_scale_docs.generate``, the corpus
  model calibrated against the shipped test data (31-word vocabulary,
  substitution and subspan near-duplicate clones, 60% ``en``);
- embeddings are unit-norm 64-d float32 vectors with a 0..9 label.

Run as a script: ``python3 perfbench/datagen.py OUT_DIR SF SEED``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.gen_scale_docs import generate as generate_docs  # noqa: E402

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NAME_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (test-data sizing: 6M
    lineitem rows per unit; documents/embeddings floor at 500)."""
    n = lambda per_unit: max(1, int(round(per_unit * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _days(rng, start: np.datetime64, lo: int, hi: int, size: int) -> np.ndarray:
    return start + rng.integers(lo, hi + 1, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``(sf, seed)``; each table draws from its own
    child stream so row counts of one table never shift another's values."""
    counts = row_counts(sf)
    rngs = dict(zip(counts, np.random.default_rng(seed).spawn(len(counts))))
    nc, ns, npart, no = counts["customer"], counts["supplier"], counts["part"], counts["orders"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, nc)),
        }
    )

    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
        }
    )

    r = rngs["part"]
    keys = np.arange(npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(r.choice(NAME_ADJ, npart), r.choice(NAME_NOUN, npart))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, npart)]),
            "p_type": pa.array(r.choice(PART_TYPES, npart)),
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
        }
    )

    r = rngs["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(_days(r, _EPOCH_1995, 0, 2403, no), pa.timestamp("us")),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, no)),
        }
    )

    r = rngs["lineitem"]
    nl = counts["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, nl), 2)),
            "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, nl), 2)),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(r.choice(["F", "O"], nl)),
            "l_shipdate": pa.array(_days(r, _EPOCH_1995, 1, 2499, nl), pa.timestamp("us")),
        }
    )

    r = rngs["events"]
    ne = counts["events"]
    n_users = max(1, nc // 10)
    ts = _EPOCH_2024 + np.sort(r.integers(0, 30 * _DAY_US, ne)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, ne), pa.int64()),
            "event_type": pa.array(r.choice(EVENT_TYPES, ne)),
            "value": pa.array(np.maximum(np.round(r.exponential(50.0, ne), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
        }
    )

    out["documents"] = generate_docs(counts["documents"], int(rngs["documents"].integers(2**63)))
    out["embeddings"] = _embeddings(rngs["embeddings"], counts["embeddings"])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet`` (single row group,
    like the test data); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in make_tables(sf, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp, row_group_size=max(tbl.num_rows, 1))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


if __name__ == "__main__":
    print(write_tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
