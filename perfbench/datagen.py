"""The registry's test tables, generated inside the checkout.

``tables(sf)`` replays the generator of the engine's TPC-H-ish test data
(one ``numpy.random.default_rng(42)`` stream drawn table after table) and
returns region, nation, customer, supplier, part, orders, lineitem and
events equal, value for value and type for type, to the test data at sf0.01
and sf0.1.  ``documents`` and ``embeddings`` come from a stream of their
own that was not recovered, so the benchmark ships them as parquet files
copied from the test data (``perfbench/data/sf*/``).

Every run of the benchmark reads identical data; the run's ``--seed``
varies only the operation sequence.

    python3 perfbench/datagen.py OUT_DIR SF
    python3 perfbench/datagen.py --compare TESTDATA_SF_DIR SF
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_SEED = 42
SHIPPED = ("documents", "embeddings")

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod",
             "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(
        0, len(values), n)], pa.string())


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng, start: str, ndays: int, n: int) -> pa.Array:
    days = np.datetime64(start) + rng.integers(0, ndays, n).astype(
        "timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = round(150_000 * sf), round(10_000 * sf)
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_line, n_evt = round(6_000_000 * sf), round(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    # seconds into a 30-day window, taken to nanoseconds, then truncated to
    # the parquet column's microseconds
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_evt))
    ts = np.datetime64("2024-01-01", "us") + (
        (secs * 1e9).astype(np.int64) // 1000).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(range(n_evt), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return out


def generate(out_dir: str, sf: str) -> str:
    """Write every table under ``out_dir`` once; later calls are no-ops.
    A marker file written last makes an interrupted generation redo."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    shipped = os.path.join(HERE, "data", f"sf{sf}")
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(float(sf)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    for name in SHIPPED:
        shutil.copyfile(os.path.join(shipped, f"{name}.parquet"),
                        os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={DATA_SEED}\n")
    return out_dir


def compare(ref_dir: str, sf: str) -> bool:
    """Print, per generated table, whether it equals ``ref_dir``'s."""
    same = True
    for name, table in tables(float(sf)).items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        equal = ref.replace_schema_metadata(None).equals(table)
        print(f"{name}: {'equal' if equal else 'DIFFERENT'}")
        same &= equal
    return same


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        sys.exit(0 if compare(sys.argv[2], sys.argv[3]) else 1)
    generate(sys.argv[1], sys.argv[2])
