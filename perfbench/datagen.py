"""Seeded input generators for the benchmark.

Every input the benchmark feeds the engine is made here from the run's
``--seed``: the same seed writes byte-identical files.

- ``write_lake``: the ten test-lake tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) at the sf0.1 row counts and
  value domains of the synthetic lake in TESTDATA.md, so that every
  registry query and its DuckDB oracle twin run unchanged on it. The
  ``events``, ``documents`` and ``embeddings`` tables come from the
  generators of ``scripts/gen_scale_probe.py``, which mirror the
  measured distributions of that lake; the TPC-H tables are made here.
- ``stream_days``: ``events``-schema day-files for the streaming replay,
  with a share of rows shifted back in time (out of order, within the
  watermark).
- ``write_raw_csv``: a raw clickstream CSV in the reference's nine-column
  schema (view/cart/purchase, nulls in category_code, brand and price)
  for the ingest cycle.
"""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# sf0.1 row counts of the synthetic test lake (TESTDATA.md).
LAKE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_USERS = 1_500
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30
US_PER_DAY = 86_400_000_000


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return pa.array((lo + rng.integers(0, span, n)).astype("datetime64[us]"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _scale_probe_generators():
    """The checkout's ``scripts/gen_scale_probe.py`` (the benchmark runs
    from the repository root)."""
    path = Path.cwd() / "scripts" / "gen_scale_probe.py"
    spec = importlib.util.spec_from_file_location("gen_scale_probe", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def lake_tables(seed: int) -> dict[str, pa.Table]:
    """The ten test-lake tables at sf0.1 for ``seed``."""
    probe = _scale_probe_generators()
    rng = np.random.default_rng([seed, 1])
    r = LAKE_ROWS
    n_li = r["lineitem"]
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(r["customer"]), pa.int64()),
                "c_name": _names("Customer", r["customer"]),
                "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, r["customer"])),
                "c_mktsegment": _pick(rng, SEGMENTS, r["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(r["supplier"]), pa.int64()),
                "s_name": _names("Supplier", r["supplier"]),
                "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, r["supplier"])),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(r["part"]), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (r["part"], 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, r["part"])]),
                "p_type": _pick(rng, PART_TYPES, r["part"]),
                "p_size": pa.array(rng.integers(1, 51, r["part"]), pa.int32()),
                "p_retailprice": pa.array(900.0 + (np.arange(r["part"]) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(r["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, r["customer"], r["orders"]), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], r["orders"]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, r["orders"])),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", r["orders"]),
                "o_orderpriority": _pick(rng, PRIORITIES, r["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, r["orders"], n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, r["part"], n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, r["supplier"], n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        "events": probe.gen_events(rng, r["events"], N_USERS),
        "documents": probe.gen_documents(rng, r["documents"]),
        "embeddings": probe.gen_embeddings(rng, r["embeddings"]),
    }


def write_lake(out_dir: str, seed: int) -> str:
    """Write the sf0.1 lake for ``seed`` under ``out_dir`` (idempotent:
    a complete earlier write for the same seed is reused)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in lake_tables(seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


def stream_days(
    seed: int, *, n_days: int, rows_per_day: int, late_share: float, late_max_s: int
) -> list[pa.Table]:
    """One ``events``-schema table per day of January 2024.

    Rows are in time order except a ``late_share`` of them, whose
    timestamps are moved back by up to ``late_max_s`` seconds (kept
    inside their own day) and which are then shuffled into the file, so
    the watermark sees out-of-order arrivals without dropping any row.
    """
    rng = np.random.default_rng([seed, 2])
    days = []
    for d in range(n_days):
        day0 = EVENTS_START + np.timedelta64(d * US_PER_DAY, "us")
        offs = np.sort(rng.integers(0, US_PER_DAY, rows_per_day))
        late = rng.random(rows_per_day) < late_share
        shift = rng.integers(1, late_max_s * 1_000_000, rows_per_day)
        offs = np.where(late, np.maximum(offs - shift, 0), offs)
        order = np.arange(rows_per_day)
        late_idx = np.flatnonzero(late)
        order[late_idx] = rng.permutation(late_idx)
        ts = (day0 + offs.astype("timedelta64[us]"))[order]
        days.append(
            pa.table(
                {
                    "event_id": pa.array(d * rows_per_day + np.arange(rows_per_day), pa.int64()),
                    "ts": pa.array(ts),
                    "user_id": pa.array(rng.integers(0, N_USERS, rows_per_day), pa.int64()),
                    "event_type": _pick(rng, EVENT_TYPES, rows_per_day),
                    "value": pa.array(np.round(rng.exponential(50.0, rows_per_day), 2)),
                    "props": pa.array(
                        [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows_per_day)], pa.string()
                    ),
                }
            )
        )
    return days


def write_raw_csv(
    path: str,
    seed: int,
    *,
    n_days: int,
    rows_per_day: int,
    null_share: float,
) -> list[int]:
    """A raw clickstream CSV in the reference's nine-column schema.

    ``event_type`` follows the reference funnel (view/cart/purchase at
    about 90/7/3), and ``category_code``, ``brand`` and ``price`` are
    empty (CSV null) in ``null_share`` of rows each. Timestamps are
    always well-formed, so every row survives cleaning. Returns the row
    count of each day.
    """
    rng = np.random.default_rng([seed, 3])
    n = n_days * rows_per_day
    day = np.repeat(np.arange(n_days), rows_per_day)
    ts = (
        np.datetime64("2019-10-01T00:00:00", "ms")
        + (day * 86_400_000 + rng.integers(0, 86_400_000, n)).astype("timedelta64[ms]")
    )
    cats = np.array(
        ["electronics.smartphone", "appliances.kitchen", "computers.notebook",
         "apparel.shoes", "furniture.living_room", "electronics.audio"],
        dtype=object,
    )
    brands = np.array([f"brand{i:02d}" for i in range(30)], dtype=object)

    def nullable(values: np.ndarray) -> pa.Array:
        return pa.array(values, pa.string(), mask=rng.random(n) < null_share)

    table = pa.table(
        {
            "event_time": pa.array(np.datetime_as_string(ts, unit="ms"), pa.string()),
            "event_type": pa.array(
                np.array(["view", "cart", "purchase"], dtype=object)[
                    rng.choice(3, n, p=[0.9, 0.07, 0.03])
                ],
                pa.string(),
            ),
            "product_id": pa.array(rng.integers(1_000_000, 1_005_000, n).astype(str), pa.string()),
            "category_id": pa.array(rng.integers(2_000, 2_050, n).astype(str), pa.string()),
            "category_code": nullable(cats[rng.integers(0, len(cats), n)]),
            "brand": nullable(brands[np.minimum(rng.zipf(1.6, n), 30) - 1]),
            "price": nullable(np.round(rng.uniform(0.5, 2500.0, n), 2).astype(str)),
            "user_id": pa.array(rng.integers(500_000_000, 500_002_000, n).astype(str), pa.string()),
            "user_session": pa.array(
                [f"s-{u:08x}" for u in rng.integers(0, n // 4, n)], pa.string()
            ),
        }
    )
    pacsv.write_csv(table, path)
    return [rows_per_day] * n_days
