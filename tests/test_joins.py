"""Join tests vs DuckDB oracle (SURVEY §2.7).

Key semantics under test: eqNullSafe key matching (reference
``src/ops_join.cpp:161``), keep=False key-drop + coalesce,
``.x``/``.y`` suffixing, right-join column order, multi-key and
renamed-key specs. Order-insensitive comparison throughout (the
reference preserves left-row order; Spark doesn't — documented
divergence SURVEY §7).
"""

import os
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import types as T

from cuplyr_spark import Frame, from_pandas, read_parquet
from tests.helpers import assert_frame_matches, oracle


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return read_parquet(spark, os.path.join(sf_dir, "customer.parquet"))


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return read_parquet(spark, os.path.join(sf_dir, "nation.parquet"))


def test_inner_join_renamed_key(orders, customer, duck):
    got = (
        orders.inner_join(customer, by={"o_custkey": "c_custkey"})
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .collect()
    )
    want = oracle(
        duck,
        """SELECT o_orderkey, o_custkey, c_name, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey""",
    )
    assert_frame_matches(got, want)


def test_left_join_unmatched_nulls(customer, nation, duck):
    got = (
        customer.left_join(nation, by={"c_nationkey": "n_nationkey"})
        .select("c_custkey", "n_name")
        .collect()
    )
    want = oracle(
        duck,
        """SELECT c_custkey, n_name FROM customer
           LEFT JOIN nation ON c_nationkey = n_nationkey""",
    )
    assert_frame_matches(got, want)


def test_right_and_full_join(spark, duck):
    l = from_pandas(spark, pd.DataFrame({"k": [1, 2, 3], "a": [10, 20, 30]}))
    r = from_pandas(spark, pd.DataFrame({"k": [2, 3, 4], "b": [200, 300, 400]}))
    right = l.right_join(r, by="k").collect()
    assert sorted(right["k"].tolist()) == [2, 3, 4]
    assert right.columns.tolist() == ["k", "a", "b"]  # x cols then y cols
    full = l.full_join(r, by="k").collect()
    assert sorted(full["k"].tolist()) == [1, 2, 3, 4]  # keys coalesced


def test_null_keys_match(spark):
    """na_matches='na' is the reference's only mode — NULL==NULL."""
    l = from_pandas(spark, pd.DataFrame({"k": [1.0, None], "a": [1, 2]}))
    r = from_pandas(spark, pd.DataFrame({"k": [None, 1.0], "b": [10, 20]}))
    na = l.inner_join(r, by="k").collect()
    assert len(na) == 2  # NULL matched NULL
    never = l.inner_join(r, by="k", na_matches="never").collect()
    assert len(never) == 1


def test_suffix_on_conflicts(spark):
    l = from_pandas(spark, pd.DataFrame({"k": [1], "v": [1], "w": [1]}))
    r = from_pandas(spark, pd.DataFrame({"k": [1], "v": [2]}))
    out = l.inner_join(r, by="k")
    assert out.columns == ["k", "v.x", "w", "v.y"]
    custom = l.inner_join(r, by="k", suffix=("_l", "_r"))
    assert custom.columns == ["k", "v_l", "w", "v_r"]


def test_keep_true_keeps_both_keys(spark):
    l = from_pandas(spark, pd.DataFrame({"k": [1], "a": [1]}))
    r = from_pandas(spark, pd.DataFrame({"k": [1], "b": [2]}))
    out = l.inner_join(r, by="k", keep=True)
    assert out.columns == ["k.x", "a", "k.y", "b"]


def test_natural_join(spark):
    l = from_pandas(spark, pd.DataFrame({"k": [1, 2], "j": [1, 1], "a": [1, 2]}))
    r = from_pandas(spark, pd.DataFrame({"k": [1, 2], "j": [1, 2], "b": [5, 6]}))
    out = l.inner_join(r).collect()  # by=["k","j"]
    assert len(out) == 1
    assert out["a"].tolist() == [1]


def test_multikey_join_oracle(spark, duck, sf_dir):
    li = read_parquet(spark, os.path.join(sf_dir, "lineitem.parquet"))
    got = (
        li.inner_join(li, by=["l_orderkey", "l_linenumber"], suffix=("_a", "_b"))
        .select("l_orderkey", "l_linenumber", "l_quantity_a", "l_quantity_b")
        .collect()
    )
    want = oracle(
        duck,
        """SELECT a.l_orderkey, a.l_linenumber,
                  a.l_quantity AS l_quantity_a, b.l_quantity AS l_quantity_b
           FROM lineitem a JOIN lineitem b
           USING (l_orderkey, l_linenumber)""",
    )
    assert_frame_matches(got, want)


def test_semi_anti_join(orders, customer, duck):
    got = (
        customer.semi_join(orders, by={"c_custkey": "o_custkey"})
        .select("c_custkey")
        .collect()
    )
    want = oracle(
        duck,
        """SELECT c_custkey FROM customer
           WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    )
    assert_frame_matches(got, want)

    got_a = (
        customer.anti_join(orders, by={"c_custkey": "o_custkey"})
        .select("c_custkey")
        .collect()
    )
    want_a = oracle(
        duck,
        """SELECT c_custkey FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    )
    assert_frame_matches(got_a, want_a)


def test_cross_join(spark, duck, sf_dir):
    region = read_parquet(spark, os.path.join(sf_dir, "region.parquet"))
    nation = read_parquet(spark, os.path.join(sf_dir, "nation.parquet"))
    got = region.cross_join(nation).collect()
    assert len(got) == 5 * 25


def test_self_join_unambiguous(nation):
    """The prefix-rename strategy must make self-joins work."""
    out = nation.inner_join(nation, by={"n_regionkey": "n_regionkey"}, keep=False)
    assert len(out.collect()) > 0


def test_broadcast_join_plan(orders, customer):
    """broadcast() must produce a BroadcastHashJoin physical plan."""
    j = orders.inner_join(customer.broadcast(), by={"o_custkey": "c_custkey"})
    assert "BroadcastHashJoin" in j.explain_str("simple")


def test_key_type_mismatch_joins_numerics(spark):
    """Reference validate_key_types: both-numeric passes (int vs double)."""
    l = from_pandas(spark, pd.DataFrame({"k": [1, 2]}))
    r = from_pandas(spark, pd.DataFrame({"k": [1.0, 3.0], "b": [1.0, 2.0]}))
    out = l.inner_join(r, by="k").collect()
    assert len(out) == 1


def test_broadcast_size_guard(customer):
    """Guard-rail parity with the reference's pre-join OOM estimate
    (R/join.R:102-166), hardened: an explicit broadcast hint whose
    Catalyst size estimate exceeds the threshold is DROPPED (no-op +
    warning) so an oversized hint can never ship as an executor OOM;
    force=True overrides; under the threshold, and with the check
    disabled, the hint applies silently."""
    import warnings

    import pytest

    def _has_hint(frame):
        s = frame.df._jdf.queryExecution().analyzed().toString()
        return "ResolvedHint" in s or "hint" in s.lower()

    with pytest.warns(UserWarning, match="broadcast.*hint dropped"):
        dropped = customer.broadcast(max_bytes=1)
    assert not _has_hint(dropped)  # degraded to no-op, AQE decides

    forced = customer.broadcast(max_bytes=1, force=True)
    assert _has_hint(forced)  # explicit override keeps the hint

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # tiny table, default threshold — silent, hint applied
        assert _has_hint(customer.broadcast())
        # check disabled — silent, hint applied
        assert _has_hint(customer.broadcast(max_bytes=0))


# -- quoting and key semantics --------------------------------------------
# Expected rows are written out by hand (dplyr semantics), compared as
# multisets; column order is compared exactly.


def _frame(spark, names, types, rows):
    schema = T.StructType([T.StructField(n, t) for n, t in zip(names, types)])
    return Frame(spark.createDataFrame(rows, schema))


def _rows(frame):
    return Counter(tuple(r) for r in frame.collect_rows())


@pytest.fixture(scope="module")
def odd_names(spark):
    """Key and value names with a dot, a backtick, a space and mixed
    case; ``a b`` is a non-key name on both sides."""
    i, s = T.IntegerType(), T.StringType()
    left = _frame(
        spark, ["key.id", "Val`x", "a b", "CamelCase"], [i, s, i, i],
        [(1, "p", 10, 100), (2, "q", 20, 200), (None, "n", 30, 300)],
    )
    right = _frame(
        spark, ["key.id", "a b", "R.Only"], [i, i, s],
        [(1, 11, "x"), (1, 12, "y"), (None, 13, "z"), (5, 15, "w")],
    )
    return left, right


def test_odd_names_mutating_joins(odd_names):
    left, right = odd_names
    cols = ["key.id", "Val`x", "a b.x", "CamelCase", "a b.y", "R.Only"]
    matched = [
        (1, "p", 10, 100, 11, "x"), (1, "p", 10, 100, 12, "y"),
        (None, "n", 30, 300, 13, "z"),  # NULL keys match by default
    ]
    left_only = [(2, "q", 20, 200, None, None)]
    right_only = [(5, None, None, None, 15, "w")]  # key from the right side
    for how, want in {
        "inner": matched,
        "left": matched + left_only,
        "right": matched + right_only,
        "full": matched + left_only + right_only,
    }.items():
        out = getattr(left, f"{how}_join")(right, by="key.id")
        assert out.columns == cols, how
        assert _rows(out) == Counter(want), how


def test_odd_names_filtering_joins(odd_names):
    left, right = odd_names
    semi = left.semi_join(right, by="key.id")
    anti = left.anti_join(right, by="key.id")
    assert semi.columns == anti.columns == left.columns
    assert _rows(semi) == Counter([(1, "p", 10, 100), (None, "n", 30, 300)])
    assert _rows(anti) == Counter([(2, "q", 20, 200)])
    assert semi.select("Val`x", "CamelCase").columns == ["Val`x", "CamelCase"]


def test_suffixed_output_rejoined_on_itself(spark):
    i = T.IntegerType()
    l = _frame(spark, ["k", "v"], [i, i], [(1, 10), (2, 20)])
    r = _frame(spark, ["k", "v"], [i, i], [(1, 11), (2, 22)])
    out = l.inner_join(r, by="k")
    assert out.columns == ["k", "v.x", "v.y"]
    again = out.inner_join(out, by="v.x")
    assert again.columns == ["k.x", "v.x", "v.y.x", "k.y", "v.y.y"]
    assert _rows(again) == Counter([(1, 10, 11, 1, 11), (2, 20, 22, 2, 22)])
    assert _rows(again.select("v.x")) == Counter([(10,), (20,)])


def test_na_matches_never_null_keys_both_sides(spark):
    i = T.IntegerType()
    l = _frame(spark, ["k", "a"], [i, i], [(1, 10), (None, 20)])
    r = _frame(spark, ["k", "b"], [i, i], [(1, 100), (None, 200)])
    want = {
        "inner": [(1, 10, 100)],
        "left": [(1, 10, 100), (None, 20, None)],
        "full": [(1, 10, 100), (None, 20, None), (None, None, 200)],
    }
    for how, rows in want.items():
        out = getattr(l, f"{how}_join")(r, by="k", na_matches="never")
        assert out.columns == ["k", "a", "b"], how
        assert _rows(out) == Counter(rows), how


def test_right_full_renamed_keys_take_right_key(spark):
    i = T.IntegerType()
    l = _frame(spark, ["lk", "a"], [i, i], [(1, 10), (2, 20)])
    r = _frame(spark, ["rk", "b"], [i, i], [(2, 200), (3, 300)])
    right = l.right_join(r, by={"lk": "rk"})
    assert right.columns == ["lk", "a", "b"]
    assert _rows(right) == Counter([(2, 20, 200), (3, None, 300)])
    full = l.full_join(r, by={"lk": "rk"})
    assert _rows(full) == Counter([(1, 10, None), (2, 20, 200), (3, None, 300)])


def test_keep_true_conflicting_non_keys(spark):
    i = T.IntegerType()
    l = _frame(spark, ["k", "v"], [i, i], [(1, 10), (2, 20)])
    r = _frame(spark, ["k", "v", "w"], [i, i, i], [(1, 11, 7), (3, 33, 9)])
    same = l.left_join(r, by="k", keep=True)
    assert same.columns == ["k.x", "v.x", "k.y", "v.y", "w"]
    assert _rows(same) == Counter([(1, 10, 1, 11, 7), (2, 20, None, None, None)])
    renamed = l.rename(lk="k").inner_join(r, by={"lk": "k"}, keep=True)
    assert renamed.columns == ["lk", "v.x", "k", "v.y", "w"]
    assert _rows(renamed) == Counter([(1, 10, 1, 11, 7)])


def test_cross_join_conflicting_names(spark):
    i = T.IntegerType()
    l = _frame(spark, ["k", "a.b"], [i, i], [(1, 10), (2, 20)])
    r = _frame(spark, ["k", "c"], [i, i], [(7, 70)])
    out = l.cross_join(r)
    assert out.columns == ["k.x", "a.b", "k.y", "c"]
    assert _rows(out) == Counter([(1, 10, 7, 70), (2, 20, 7, 70)])
    self_cross = l.cross_join(l, suffix=("_l", "_r"))
    assert self_cross.columns == ["k_l", "a.b_l", "k_r", "a.b_r"]
    assert len(self_cross.collect_rows()) == 4
