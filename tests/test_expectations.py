"""Write-time expectations on append tables (`set_append_expectations`
/ `append_snapshot(expectations=)`): fail rejects the whole batch
before anything lands, drop filters and records the count, warn
writes anyway; SQL CHECK NULL semantics; enforcement on
append / UPDATE / upsert; the contract carries through compaction and
row-level writes and is changed only by a deliberate versioned
commit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    _read_log,
    _TableFS,
    append_snapshot,
    compact_append_snapshot,
    delete_append_rows,
    drop_append_column,
    read_append_snapshot,
    rename_append_column,
    set_append_expectations,
    update_append_rows,
    upsert_append_rows,
)


def _mk(spark, rows):
    return Frame(
        spark.createDataFrame(rows, "id int, price double, cat string"), ()
    )


def _rows(spark, d):
    return {
        tuple(r) for r in read_append_snapshot(spark, d).df.collect()
    }


def test_fail_rejects_whole_batch(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 10.0, "a")]), d,
        expectations={"positive_price": "price > 0"},
    )
    before = _rows(spark, d)
    with pytest.raises(ValueError, match="positive_price: 1 row"):
        append_snapshot(_mk(spark, [(2, 5.0, "b"), (3, -1.0, "c")]), d)
    assert _read_log(_TableFS(d, spark))["version"] == 1  # nothing landed
    assert _rows(spark, d) == before
    append_snapshot(_mk(spark, [(2, 5.0, "b")]), d)  # clean batch lands
    assert len(_rows(spark, d)) == 2


def test_drop_filters_and_records(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 10.0, "a")]), d,
        expectations={"has_cat": ("cat IS NOT NULL", "drop")},
    )
    append_snapshot(
        _mk(spark, [(2, 5.0, None), (3, 6.0, "b"), (4, 7.0, None)]), d)
    assert {r[0] for r in _rows(spark, d)} == {1, 3}
    log = _read_log(_TableFS(d, spark))
    assert log["expectation_drops"] == {"has_cat": 2}
    append_snapshot(_mk(spark, [(5, 8.0, "c")]), d)  # clean: no audit field
    assert "expectation_drops" not in _read_log(_TableFS(d, spark))


def test_warn_writes_anyway(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 10.0, "a")]), d,
        expectations={"cheap": ("price < 100", "warn")},
    )
    with pytest.warns(UserWarning, match="cheap"):
        append_snapshot(_mk(spark, [(2, 500.0, "b")]), d)
    assert {r[0] for r in _rows(spark, d)} == {1, 2}


def test_null_predicate_passes(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 10.0, "a")]), d,
        expectations={"positive": "price > 0"},
    )
    # NULL price → predicate NULL → passes, SQL CHECK semantics
    append_snapshot(_mk(spark, [(2, None, "b")]), d)
    assert len(_rows(spark, d)) == 2


def test_update_enforces_fail_and_refuses_drop(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), d,
        expectations={
            "positive": "price > 0",
            "has_cat": ("cat IS NOT NULL", "drop"),
        },
    )
    with pytest.raises(ValueError, match="positive"):
        update_append_rows(spark, d, "id = 1", {"price": "price - 100"})
    assert _rows(spark, d) == {(1, 10.0, "a"), (2, 20.0, "b")}
    with pytest.raises(ValueError, match="drop is not applied on UPDATE"):
        update_append_rows(spark, d, "id = 2",
                           {"cat": "cast(null as string)"})
    update_append_rows(spark, d, "id = 1", {"price": "price + 1"})
    assert (1, 11.0, "a") in _rows(spark, d)


def test_upsert_drops_source_rows(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), d,
        expectations={"has_cat": ("cat IS NOT NULL", "drop")},
    )
    v, replaced, appended = upsert_append_rows(
        _mk(spark, [(1, 99.0, None), (3, 30.0, "c")]), d, key="id")
    # the NULL-cat correction was dropped BEFORE matching: row 1 keeps
    # its old value, only row 3 arrives
    assert replaced == 0 and appended == 1
    assert _rows(spark, d) == {(1, 10.0, "a"), (2, 20.0, "b"),
                               (3, 30.0, "c")}
    assert _read_log(_TableFS(d, spark))["expectation_drops"] == {
        "has_cat": 1}


def test_set_and_clear_on_existing_table(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(_mk(spark, [(1, -5.0, "a")]), d)  # pre-contract rows
    v = set_append_expectations(spark, d, {"positive": "price > 0"})
    assert v == 2  # metadata-only versioned commit
    with pytest.raises(ValueError, match="positive"):
        append_snapshot(_mk(spark, [(2, -1.0, "b")]), d)
    # existing rows were NOT re-validated — the contract is forward-only
    assert (1, -5.0, "a") in _rows(spark, d)
    set_append_expectations(spark, d, None)
    append_snapshot(_mk(spark, [(2, -1.0, "b")]), d)
    assert len(_rows(spark, d)) == 2


def test_contract_carries_through_maintenance(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(i, float(i), "a") for i in range(1, 6)]), d,
        expectations={"positive": "price > 0"},
    )
    append_snapshot(_mk(spark, [(6, 6.0, "b")]), d)
    delete_append_rows(spark, d, "id = 6")
    compact_append_snapshot(spark, d, target_file_bytes=1 << 30)
    assert _read_log(_TableFS(d, spark))["expectations"] == {
        "positive": ["price > 0", "fail"]}
    with pytest.raises(ValueError, match="positive"):
        append_snapshot(_mk(spark, [(7, -7.0, "c")]), d)


def test_arg_must_match_stored_contract(spark, tmp_path):
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 1.0, "a")]), d,
        expectations={"positive": "price > 0"},
    )
    append_snapshot(  # same spec re-passed: fine
        _mk(spark, [(2, 2.0, "b")]), d,
        expectations={"positive": "price > 0"},
    )
    with pytest.raises(ValueError, match="set_append_expectations"):
        append_snapshot(
            _mk(spark, [(3, 3.0, "c")]), d,
            expectations={"positive": "price >= 0"},
        )


def test_spec_validation(spark, tmp_path):
    d = str(tmp_path / "t")
    with pytest.raises(ValueError, match="non-empty"):
        append_snapshot(_mk(spark, [(1, 1.0, "a")]), d, expectations={})
    with pytest.raises(ValueError, match="action 'purge'"):
        append_snapshot(
            _mk(spark, [(1, 1.0, "a")]), d,
            expectations={"x": ("price > 0", "purge")},
        )
    with pytest.raises(ValueError, match="predicate"):
        append_snapshot(
            _mk(spark, [(1, 1.0, "a")]), d, expectations={"x": ""})


def test_schema_evolution_pred_on_omitted_column(spark, tmp_path):
    """A batch that legitimately omits a column (additive evolution)
    sees NULL there — the predicate passes, CHECK semantics."""
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 1.0, "a")]), d,
        expectations={"cheap": "price < 100"},
    )
    slim = Frame(spark.createDataFrame([(2, "b")], "id int, cat string"), ())
    append_snapshot(slim, d, schema_mode="merge")  # no price column
    assert len(_rows(spark, d)) == 2


def test_rename_and_drop_respect_expectations(spark, tmp_path):
    """The log stores each spec as ``[predicate, action]``: renaming or
    dropping an unrelated column goes through, touching one a predicate
    names is refused."""
    d = str(tmp_path / "t")
    append_snapshot(
        _mk(spark, [(1, 1.0, "a")]), d,
        expectations={"positive": ("price > 0", "fail")},
    )
    rename_append_column(d, "cat", "category", spark)
    assert read_append_snapshot(spark, d).df.columns == [
        "id", "price", "category"]
    for op in (
        lambda: rename_append_column(d, "price", "cost", spark),
        lambda: drop_append_column(d, "price", spark),
    ):
        with pytest.raises(ValueError, match="quality expectations"):
            op()
    drop_append_column(d, "category", spark)
    assert read_append_snapshot(spark, d).df.columns == ["id", "price"]
    with pytest.raises(ValueError, match="positive: 1 row"):
        append_snapshot(
            Frame(spark.createDataFrame([(2, -1.0)], "id int, price double"),
                  ()), d)
