"""Fast self-tests of the benchmark's inputs and correctness checks (no Spark).

Run with:  python3 -m pytest perfbench/tests/test_perfbench_checks.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import datagen  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = datagen.star_schema(np.random.default_rng(5), 0.001)
    b = datagen.star_schema(np.random.default_rng(5), 0.001)
    c = datagen.star_schema(np.random.default_rng(6), 0.001)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])


def test_load_batches_have_unique_keys_and_new_keys(tmp_path):
    orders = datagen.star_schema(np.random.default_rng(1), 0.001)["orders"]
    load = datagen.write_load_inputs(str(tmp_path), 1, orders, n_batches=3)
    seen = set(orders["o_orderkey"])
    for b in load.batches:
        assert b["o_orderkey"].is_unique
        assert not set(b["o_orderkey"]) <= seen  # some keys are new
        seen |= set(b["o_orderkey"])
    assert all(os.path.exists(p) for p in load.batch_paths)


def _orders(keys, prices):
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": np.array(keys, dtype="int64"),
            "o_custkey": np.zeros(n, dtype="int64"),
            "o_orderstatus": ["F"] * n,
            "o_totalprice": prices,
            "o_orderdate": np.full(n, np.datetime64("1996-01-01", "us")),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )


def test_expected_merge_updates_and_inserts():
    seed = datagen.to_destination(_orders([1, 2], [10.0, 20.0]))
    batch = _orders([2, 3], [21.0, 30.0])
    merged = datagen.expected_merge(seed, [batch])
    assert sorted(zip(merged["id"], merged["o_totalprice"])) == [(1, 10.0), (2, 21.0), (3, 30.0)]
    assert set(merged["o_orderpriority"]) == {"1-urgent"}
    # the second copy of the batch is already present on every column
    inserted = datagen.expected_insert_if_absent(seed, [batch, batch])
    assert sorted(zip(inserted["id"], inserted["o_totalprice"])) == [
        (1, 10.0), (2, 20.0), (2, 21.0), (3, 30.0)
    ]


def test_query_check_accepts_equal_rows_in_any_order():
    got = pd.DataFrame({"k": [2, 1], "x": [0.5, 0.25]})
    want = pd.DataFrame({"x": [0.25, 0.5], "k": [1, 2]})
    assert checks.mismatch(got, want) is None


def test_corrupted_expected_result_fails_the_check():
    got = pd.DataFrame({"k": [1, 2, 3], "x": [0.1, 0.2, 0.3]})
    corrupt_value = got.assign(x=[0.1, 0.2, 0.30000000000000004])
    assert "values differ" in checks.mismatch(got, corrupt_value)
    assert "row count" in checks.mismatch(got, got.iloc[:2])
    assert "columns" in checks.mismatch(got, got.rename(columns={"x": "y"}))
    assert "dtype kinds" in checks.mismatch(got, got.assign(k=[1.0, 2.0, 3.0]))


def test_corrupted_load_destination_fails_the_check(tmp_path):
    orders = datagen.star_schema(np.random.default_rng(2), 0.001)["orders"]
    load = datagen.write_load_inputs(str(tmp_path), 2, orders, n_batches=2)
    want = datagen.expected_merge(load.dest_seed, load.batches)
    assert checks.mismatch(want.copy(), want) is None
    stale = want.copy()
    stale.loc[0, "o_totalprice"] += 0.01
    assert checks.mismatch(stale, want) is not None
