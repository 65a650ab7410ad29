"""Seeded inputs for the benchmark: a TPC-H-style star schema and the
upsert batches of the ``upsert_load`` workload.

The tables follow the column names, types and value domains in
FIXTURES.md (row counts scale like TPC-H: ``scale=0.01`` gives 15k
orders and about 60k line items). Every value comes from one
``numpy.random.Generator`` seeded with the workload seed, so the same
seed always writes the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

ORDER_COLUMNS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        path,
        compression="snappy",
    )


def star_schema(rng: np.random.Generator, scale: float) -> dict[str, pd.DataFrame]:
    """The seven star-schema tables as pandas frames."""
    n_cust = max(30, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(40, int(200_000 * scale))
    n_ord = max(300, int(1_500_000 * scale))
    n_li = 4 * n_ord

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": rng.integers(0, 5, 25).astype("int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) * 0.1, 1),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _schema(df: pd.DataFrame) -> pa.Schema:
    """Arrow schema with naive microsecond timestamps, as in the fixtures
    (parquet ``isAdjustedToUTC=false``)."""
    fields = []
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            fields.append(pa.field(c, pa.timestamp("us")))
        elif df[c].dtype == object:
            fields.append(pa.field(c, pa.string()))
        else:
            fields.append(pa.field(c, pa.from_numpy_dtype(df[c].dtype)))
    return pa.schema(fields)


def write_star_schema(data_dir: str, seed: int, scale: float) -> dict[str, pd.DataFrame]:
    os.makedirs(data_dir, exist_ok=True)
    tables = star_schema(np.random.default_rng(seed), scale)
    for name, df in tables.items():
        _write(df, os.path.join(data_dir, f"{name}.parquet"), _schema(df))
    return tables


# ---------------------------------------------------------------------------
# upsert_load batches


def to_destination(orders: pd.DataFrame) -> pd.DataFrame:
    """The load pipeline's mapping, computed independently of the engine:
    rename ``o_orderkey`` to ``id`` and lower-case ``o_orderpriority``."""
    out = orders[ORDER_COLUMNS].rename(columns={"o_orderkey": "id"})
    out["o_orderpriority"] = out["o_orderpriority"].str.lower()
    return out.reset_index(drop=True)


@dataclass
class LoadInputs:
    dest_seed: pd.DataFrame  # destination rows before the first batch
    batches: list[pd.DataFrame]  # source-format rows, unique keys per batch
    batch_paths: list[str]
    dest_seed_path: str


#: Rows per upsert batch as a share of ``orders``.
BATCH_FRAC = 0.1


def write_load_inputs(out_dir: str, seed: int, orders: pd.DataFrame, n_batches: int) -> LoadInputs:
    """Seeded upsert batches over the ``orders`` table.

    Each batch holds BATCH_FRAC of the ``orders`` row count. A seeded
    share (15-25%) are new keys; the rest are existing keys, of which
    a seeded tenth arrive unchanged (insert-if-absent must skip them)
    and the others carry a price perturbed by up to +-5%.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    current = orders[ORDER_COLUMNS].set_index("o_orderkey", drop=False)
    next_key = int(current.index.max()) + 1
    batches, paths = [], []
    for i in range(n_batches):
        size = max(10, int(len(orders) * BATCH_FRAC))
        n_new = int(round(size * rng.uniform(0.15, 0.25)))
        n_old = size - n_new
        old_keys = rng.choice(current.index.to_numpy(), n_old, replace=False)
        old = current.loc[old_keys].copy()
        changed = rng.random(n_old) >= 0.1
        factor = 1.0 + rng.uniform(-0.05, 0.05, n_old)
        old["o_totalprice"] = np.where(
            changed, np.round(old["o_totalprice"].to_numpy() * factor, 2), old["o_totalprice"]
        )
        new = pd.DataFrame(
            {
                "o_orderkey": np.arange(next_key, next_key + n_new, dtype="int64"),
                "o_custkey": rng.integers(0, int(orders["o_custkey"].max()) + 1, n_new).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_new),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_new),
                "o_orderdate": _days(rng, "2001-08-02", 365, n_new),
                "o_orderpriority": rng.choice(PRIORITIES, n_new),
            }
        )
        next_key += n_new
        batch = pd.concat([old, new], ignore_index=True)
        batch = batch.iloc[rng.permutation(len(batch))].reset_index(drop=True)
        path = os.path.join(out_dir, f"batch_{i:03d}.parquet")
        _write(batch, path, _schema(batch))
        batches.append(batch)
        paths.append(path)
        current = pd.concat([current.drop(index=old_keys), batch.set_index("o_orderkey", drop=False)])

    dest_seed = to_destination(orders)
    dest_seed_path = os.path.join(out_dir, "dest_seed")
    os.makedirs(dest_seed_path, exist_ok=True)
    _write(dest_seed, os.path.join(dest_seed_path, "part-00000.parquet"), _schema(dest_seed))
    return LoadInputs(dest_seed, batches, paths, dest_seed_path)


def expected_merge(dest_seed: pd.DataFrame, batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Destination after merging every batch by ``id`` (update or insert)."""
    state = dest_seed.set_index("id", drop=False)
    for b in batches:
        rows = to_destination(b).set_index("id", drop=False)
        state = pd.concat([state.drop(index=rows.index, errors="ignore"), rows])
    return state.reset_index(drop=True)


def expected_insert_if_absent(dest_seed: pd.DataFrame, batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Destination after appending each batch's rows not already present
    on every column."""
    state = dest_seed
    for b in batches:
        rows = to_destination(b).drop_duplicates()
        merged = rows.merge(state.drop_duplicates(), how="left", indicator=True)
        fresh = rows[(merged["_merge"] == "left_only").to_numpy()]
        state = pd.concat([state, fresh], ignore_index=True)
    return state
