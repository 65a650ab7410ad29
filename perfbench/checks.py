"""Correctness checks run after the timed passes.

Query results are compared with their DuckDB oracle (``ORACLES[name]``)
under the canonical form of ``tools/compare_oracle.canon``: columns in
name order, rows sorted, timestamps as naive microseconds, floats equal
bit for bit. Load destinations are compared with the state that
``datagen.expected_merge`` / ``expected_insert_if_absent`` compute from
the same batches with pandas.
"""

from __future__ import annotations

import pandas as pd

from tools.compare_oracle import _kind, canon


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    a, e = canon(actual.copy()), canon(expected.copy())
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return f"row count {len(a)} != {len(e)}"
    kinds = [(c, str(a[c].dtype), str(e[c].dtype)) for c in a.columns if _kind(str(a[c].dtype)) != _kind(str(e[c].dtype))]
    if kinds:
        return f"dtype kinds differ: {kinds}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "values differ: " + str(ex).split("\n")[0][:200]
    return None


def open_duckdb(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def read_destination(path: str) -> pd.DataFrame:
    """A destination directory as written by the engine, read with pyarrow."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()
