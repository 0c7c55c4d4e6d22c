"""Incremental materialized aggregate views (`sources/views.py`):
differential exactness against a direct re-aggregate after every kind
of base mutation, both maintenance paths, crash convergence (a
refresh that committed state but not its record), NULL-keyed groups,
vanished groups, full rebuilds, and spec validation."""

from __future__ import annotations

import json
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    ConcurrentWriteError,
    _walk_window,
    append_snapshot,
    delete_append_rows,
    read_append_snapshot,
    update_append_rows,
    upsert_append_rows,
    upsert_snapshot,
    write_snapshot,
)
from cuplyr_spark.sources.views import (
    _TableFS,
    append_view_status,
    create_append_view,
    read_append_view,
    refresh_append_view,
)

AGGS = {
    "sx": ("sum", "x"),
    "n": ("count", None),
    "ny": ("count", "y"),
    "mx": ("max", "x"),
    "mn": ("min", "y"),
    "avy": ("mean", "y"),
}


def _mk(spark, rows):
    return Frame(spark.createDataFrame(rows, "g string, x int, y double"), ())


def _direct(spark, base):
    return read_append_snapshot(spark, base).df.groupBy("g").agg(
        F.sum("x").alias("sx"),
        F.count(F.lit(1)).alias("n"),
        F.count("y").alias("ny"),
        F.max("x").alias("mx"),
        F.min("y").alias("mn"),
        F.avg("y").alias("avy"),
    )


def _assert_view_exact(spark, base, view):
    got = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    want = {tuple(r) for r in _direct(spark, base).collect()}
    assert got == want, f"view diverged:\n got={got}\n want={want}"


@pytest.fixture
def dirs(tmp_path):
    return str(tmp_path / "base"), str(tmp_path / "view")


def test_view_over_copy_on_write_table(spark, dirs):
    """Every copy-on-write version replaces all segments: the refresh
    reads the replaced rows as deletes and matches a rebuild."""
    base, view = dirs
    write_snapshot(
        _mk(spark, [("a", 1, 1.0), ("b", 2, 2.0), ("c", 3, None)]), base
    )
    assert create_append_view(spark, base, view, "g", AGGS) == 1
    # merge: a replaced, d inserted, c deleted
    upsert_snapshot(
        spark, _mk(spark, [("a", 10, 5.0), ("d", 4, 4.0)]), base,
        key="g", delete_filter="g = 'c'",
    )
    assert _walk_window(_TableFS(base), base, 1).has_deletes
    assert refresh_append_view(spark, view) == 2
    _assert_view_exact(spark, base, view)
    write_snapshot(_mk(spark, [("b", 7, 7.0), ("e", 5, None)]), base)
    assert refresh_append_view(spark, view) == 3
    _assert_view_exact(spark, base, view)


def test_lifecycle_exact_through_both_paths(spark, dirs):
    base, view = dirs
    append_snapshot(
        _mk(spark, [("a", 1, 1.0), ("a", 2, None), ("b", 3, 3.0),
                    (None, 4, 4.0)]), base)
    assert create_append_view(spark, base, view, "g", AGGS) == 1
    _assert_view_exact(spark, base, view)

    # insert-only window → arithmetic merge (asserted via the
    # metadata classifier the refresh itself uses)
    append_snapshot(_mk(spark, [("a", 10, 5.0), ("c", 7, None),
                                (None, 1, None)]), base)
    bfs = _TableFS(base, spark)
    assert not _walk_window(bfs, base, 1, 2).has_deletes
    assert refresh_append_view(spark, view) == 2
    _assert_view_exact(spark, base, view)

    # deletes + update → affected-group recompute; 'c' vanishes
    delete_append_rows(spark, base, "x >= 7")
    update_append_rows(spark, base, "g = 'b'", {"x": "x + 100"})
    assert _walk_window(bfs, base, 2, 4).has_deletes
    assert refresh_append_view(spark, view) == 4
    _assert_view_exact(spark, base, view)
    groups = {r["g"] for r in read_append_view(spark, view).df.collect()}
    assert "c" not in groups and None in groups

    # vanished group reappears
    append_snapshot(_mk(spark, [("c", 9, 2.0)]), base)
    refresh_append_view(spark, view)
    _assert_view_exact(spark, base, view)
    assert refresh_append_view(spark, view) is None  # already current


def test_null_group_never_duplicates(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [(None, 1, 1.0)]), base)
    create_append_view(spark, base, view, "g", {"sx": ("sum", "x")})
    for i in range(3):  # each window touches the NULL group again
        append_snapshot(_mk(spark, [(None, 10 + i, None)]), base)
        refresh_append_view(spark, view)
    rows = read_append_view(spark, view).df.collect()
    assert len(rows) == 1 and rows[0]["sx"] == 1 + 10 + 11 + 12
    _assert_view_exact_sum_only(spark, base, view)


def _assert_view_exact_sum_only(spark, base, view):
    got = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    want = {
        tuple(r)
        for r in read_append_snapshot(spark, base).df.groupBy("g")
        .agg(F.sum("x").alias("sx")).collect()
    }
    assert got == want


def test_crash_between_state_commit_and_record_converges(spark, dirs):
    """Simulate the torn refresh: state committed, record never
    written (delete it). The provisional rows must be invisible to
    readers, and the NEXT refresh must converge over them."""
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]), base)
    create_append_view(spark, base, view, "g", AGGS)
    before = {tuple(r) for r in read_append_view(spark, view).df.collect()}

    append_snapshot(_mk(spark, [("a", 5, None), (None, 3, 3.0)]), base)
    refresh_append_view(spark, view)
    os.unlink(os.path.join(view, "_REFRESH.2"))  # ← the crash

    # reader still sees the last completed refresh, not the junk
    got = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    assert got == before

    # more base churn, then the retry: wider window, same pinned state
    delete_append_rows(spark, base, "g = 'b'")
    assert refresh_append_view(spark, view) == 3
    _assert_view_exact(spark, base, view)
    # exactly one copy per group in the live state (junk superseded)
    state = read_append_snapshot(spark, os.path.join(view, "state")).df
    dups = (state.groupBy("g").count().filter("count > 1").collect())
    assert dups == []


def test_crash_during_full_rebuild_converges(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]), base)
    create_append_view(spark, base, view, "g", AGGS)
    append_snapshot(_mk(spark, [("c", 3, 3.0)]), base)
    refresh_append_view(spark, view, full=True)
    os.unlink(os.path.join(view, "_REFRESH.2"))  # crash mid-rebuild
    append_snapshot(_mk(spark, [("a", 4, None)]), base)
    refresh_append_view(spark, view)
    _assert_view_exact(spark, base, view)


def test_upsert_window_takes_recompute_path(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]), base)
    create_append_view(spark, base, view, "g", AGGS)
    batch = Frame(
        spark.createDataFrame([("b", 2, 9.0), ("d", 8, 8.0)],
                              "g string, x int, y double"), ())
    # keyed MERGE marks DVs → delete_counts increase → recompute path
    upsert_append_rows(batch, base, key=["g", "x"])
    assert _walk_window(_TableFS(base, spark), base, 1, 2).has_deletes
    refresh_append_view(spark, view)
    _assert_view_exact(spark, base, view)


def test_spec_validation_and_immutability(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0)]), base)
    with pytest.raises(ValueError, match="not in the base"):
        create_append_view(spark, base, view, "g", {"s": ("sum", "zz")})
    with pytest.raises(ValueError, match="op 'median'"):
        create_append_view(spark, base, view, "g", {"s": ("median", "x")})
    with pytest.raises(ValueError, match="needs a column"):
        create_append_view(spark, base, view, "g", {"s": ("sum", None)})
    with pytest.raises(ValueError, match="at least one aggregate"):
        create_append_view(spark, base, view, "g", {})
    create_append_view(spark, base, view, "g", {"sx": ("sum", "x")})
    with pytest.raises(ConcurrentWriteError, match="immutable"):
        create_append_view(spark, base, view, "g", {"sx": ("max", "x")})
    # r13: decimal sums are supported (exact decimal(38,s) state);
    # non-numeric sums still refuse up front
    dec = Frame(
        spark.createDataFrame([("a",)], "g string").select(
            "g", F.lit("1.5").cast("decimal(10,2)").alias("d")), ())
    base2 = base + "_dec"
    append_snapshot(dec, base2)
    create_append_view(spark, base2, view + "_dec", "g",
                       {"s": ("sum", "d")})
    with pytest.raises(ValueError, match="sum over"):
        create_append_view(spark, base2, view + "_str", "g",
                           {"s": ("sum", "g")})


def test_status_reports_lag(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0)]), base)
    create_append_view(spark, base, view, "g", {"sx": ("sum", "x")})
    append_snapshot(_mk(spark, [("b", 2, 2.0)]), base)
    st = append_view_status(spark, view)
    assert st["base_version"] == 2 and st["refreshed_base_version"] == 1
    assert st["lag_versions"] == 1
    refresh_append_view(spark, view)
    assert append_view_status(spark, view)["lag_versions"] == 0
    assert [r["seq"] for r in append_view_status(spark, view)["refreshes"]] \
        == [1, 2]


def test_read_before_first_refresh_raises(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0)]), base)
    create_append_view(spark, base, view, "g", {"sx": ("sum", "x")},
                       refresh=False)
    with pytest.raises(FileNotFoundError, match="never been refreshed"):
        read_append_view(spark, view)
    with pytest.raises(FileNotFoundError, match="missing _VIEW"):
        read_append_view(spark, view + "_nope")


def test_composite_group_keys(spark, dirs):
    base, view = dirs
    rows = [("a", 1, 1.0), ("a", 1, 2.0), ("a", 2, None), (None, 1, 4.0),
            ("b", None, 5.0)]
    df = spark.createDataFrame(rows, "g string, k int, y double")
    append_snapshot(Frame(df, ()), base)
    create_append_view(spark, base, view, ["g", "k"],
                       {"sy": ("sum", "y"), "n": ("count", None)})
    append_snapshot(
        Frame(spark.createDataFrame(
            [("a", 1, 10.0), (None, 1, None), ("b", None, 1.0)],
            "g string, k int, y double"), ()), base)
    refresh_append_view(spark, view)
    delete_append_rows(spark, base, "y >= 4")
    refresh_append_view(spark, view)
    got = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    want = {
        tuple(r)
        for r in read_append_snapshot(spark, base).df.groupBy("g", "k")
        .agg(F.sum("y").alias("sy"),
             F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", [11, 23])
def test_view_model_fuzz(spark, dirs, seed):
    """Randomized lifecycle over base AND view maintenance (appends /
    deletes / updates / upserts / base compaction / refresh / state
    maintenance / CRASHED refreshes, arbitrarily interleaved) — after
    a final converging refresh the view must equal the direct
    aggregate, every time, and every intermediate read must reflect
    exactly the last completed refresh boundary."""
    from cuplyr_spark.sources.connectors import compact_append_snapshot
    from cuplyr_spark.sources.views import maintain_append_view

    base, view = dirs
    rng = random.Random(seed)

    def batch(n):
        return _mk(spark, [
            (rng.choice(["a", "b", "c", "d", None]),
             rng.randrange(100),
             rng.choice([None, float(rng.randrange(50))]))
            for _ in range(n)
        ])

    append_snapshot(batch(20), base)
    create_append_view(spark, base, view, "g", AGGS)
    for _ in range(10):
        op = rng.choice(
            ["append", "delete", "update", "upsert", "compact",
             "refresh", "crashed_refresh", "maintain"])
        if op == "append":
            append_snapshot(batch(rng.randrange(1, 10)), base)
        elif op == "delete":
            delete_append_rows(spark, base, f"x % 7 = {rng.randrange(7)}")
        elif op == "update":
            update_append_rows(
                spark, base, f"x % 5 = {rng.randrange(5)}",
                {"y": "coalesce(y, 0.0) + 1.0"})
        elif op == "upsert":
            b = batch(rng.randrange(1, 6)).df.filter("g IS NOT NULL")
            upsert_append_rows(Frame(b, ()), base, key=["g", "x"])
        elif op == "compact":
            compact_append_snapshot(
                spark, base, target_file_bytes=1 << 30,
                purge_deletes=rng.random() < 0.5)
        elif op == "refresh":
            refresh_append_view(spark, view)
        elif op == "crashed_refresh":
            from cuplyr_spark.sources.views import _latest_refresh
            pre = _latest_refresh(_TableFS(view, spark))
            if refresh_append_view(spark, view) is not None:
                post = _latest_refresh(_TableFS(view, spark))
                if pre is None or post["seq"] > pre["seq"]:
                    os.unlink(os.path.join(view, f"_REFRESH.{post['seq']}"))
        else:
            try:
                maintain_append_view(
                    spark, view, target_file_bytes=1 << 30,
                    keep_last=2, orphan_grace_hours=0)
            except ConcurrentWriteError:
                pass  # provisional junk from a crashed refresh: legal
        # a read at ANY point must be a consistent refresh boundary
        # (never partial state) — just proving it doesn't raise and
        # has the right shape; exactness is checked at quiesce
        cols = read_append_view(spark, view).df.columns
        assert cols[0] == "g" and "avy" in cols
    refresh_append_view(spark, view)
    _assert_view_exact(spark, base, view)


def test_maintain_compacts_and_vacuums_safely(spark, dirs):
    """After many refreshes the state accretes segments + DVs;
    maintain_append_view compacts, RE-PINS the record to the
    content-identical fold, vacuums keeping it, and prunes old
    records — reads identical before and after."""
    from cuplyr_spark.sources.views import maintain_append_view

    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]), base)
    create_append_view(spark, base, view, "g", AGGS)
    for i in range(4):
        append_snapshot(_mk(spark, [("a", 10 + i, float(i)),
                                    (chr(99 + i), i, None)]), base)
        refresh_append_view(spark, view)
    before = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    st = os.path.join(view, "state")
    segs_before = len(read_append_snapshot.__globals__["_read_log"](
        _TableFS(st, spark))["segments"])
    rep = maintain_append_view(spark, view, target_file_bytes=1 << 30,
                               keep_last=1, keep_records=2,
                               orphan_grace_hours=0)
    log = read_append_snapshot.__globals__["_read_log"](_TableFS(st, spark))
    assert len(log["segments"]) == 1 and not log.get("deletes")
    assert segs_before > 1
    assert rep["compacted_to"] == log["version"]
    assert rep["vacuumed_segments"]  # history reclaimed
    # reads identical through the re-pinned record
    after = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    assert after == before
    _assert_view_exact(spark, base, view)
    # refresh keeps working on the maintained state
    append_snapshot(_mk(spark, [("a", 100, 1.0)]), base)
    refresh_append_view(spark, view)
    _assert_view_exact(spark, base, view)
    # old records pruned to keep_records
    recs = [n for n in os.listdir(view) if n.startswith("_REFRESH.")]
    assert len(recs) <= 3


def test_maintain_refuses_provisional_state(spark, dirs):
    from cuplyr_spark.sources.views import maintain_append_view

    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0)]), base)
    create_append_view(spark, base, view, "g", AGGS)
    append_snapshot(_mk(spark, [("b", 2, 2.0)]), base)
    refresh_append_view(spark, view)
    os.unlink(os.path.join(view, "_REFRESH.2"))  # crash: junk beyond record
    with pytest.raises(ConcurrentWriteError, match="refresh_append_view"):
        maintain_append_view(spark, view)
    refresh_append_view(spark, view)  # converges
    assert maintain_append_view(spark, view)["pinned_state_version"] >= 1
    _assert_view_exact(spark, base, view)


def test_racing_refresher_detected(spark, dirs):
    """Two refreshers completing the same window: the second hits the
    record's exclusive create and raises instead of silently
    double-applying."""
    from cuplyr_spark.sources import views as V

    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0)]), base)
    create_append_view(spark, base, view, "g", AGGS)
    append_snapshot(_mk(spark, [("b", 2, 2.0)]), base)

    real = V._latest_refresh
    state = {"n": 0}

    def racy(fs):
        out = real(fs)
        if fs.dir == view and state["n"] == 0:
            state["n"] = 1
            refresh_append_view(spark, view)  # the "other" refresher wins
        return out

    V._latest_refresh = racy
    try:
        with pytest.raises(ConcurrentWriteError, match="another refresher"):
            refresh_append_view(spark, view)
    finally:
        V._latest_refresh = real
    # recovery path: the winner's record is consistent
    _assert_view_exact(spark, base, view)


def test_view_over_partitioned_base(spark, dirs):
    base, view = dirs
    rows = [("a", 1, 1.0), ("a", 2, None), ("b", 3, 3.0)]
    append_snapshot(_mk(spark, rows), base, partition_by="g")
    create_append_view(spark, base, view, "g",
                       {"sx": ("sum", "x"), "n": ("count", None)})
    append_snapshot(_mk(spark, [("a", 5, 5.0), ("c", 6, 6.0)]), base)
    refresh_append_view(spark, view)
    delete_append_rows(spark, base, partition_filter={"g": "b"})
    refresh_append_view(spark, view)
    got = {tuple(r) for r in read_append_view(spark, view).df.collect()}
    want = {
        tuple(r)
        for r in read_append_snapshot(spark, base).df.groupBy("g")
        .agg(F.sum("x").alias("sx"),
             F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and not any(r[0] == "b" for r in got)


def test_read_view_time_travel(spark, dirs):
    base, view = dirs
    append_snapshot(_mk(spark, [("a", 1, 1.0)]), base)
    create_append_view(spark, base, view, "g", {"sx": ("sum", "x")})
    append_snapshot(_mk(spark, [("a", 10, None)]), base)
    refresh_append_view(spark, view)
    at1 = {tuple(r) for r in
           read_append_view(spark, view, refresh_seq=1).df.collect()}
    at2 = {tuple(r) for r in
           read_append_view(spark, view, refresh_seq=2).df.collect()}
    assert at1 == {("a", 1)} and at2 == {("a", 11)}
    assert at2 == {tuple(r) for r in
                   read_append_view(spark, view).df.collect()}
    with pytest.raises(FileNotFoundError, match="refresh record 9"):
        read_append_view(spark, view, refresh_seq=9)


# -- n_distinct (sketch-backed) and n_distinct_exact -----------------------


def _nd_truth(spark, base_dir, col="u"):
    from pyspark.sql import functions as F

    from cuplyr_spark.sources.connectors import read_append_snapshot

    df = read_append_snapshot(spark, base_dir).df
    return {
        r["g"]: r["nd"]
        for r in df.groupBy("g")
        .agg(F.countDistinct(col).alias("nd"))
        .collect()
    }


def _mk_nd(spark, lo, hi, mod=37):
    from pyspark.sql import functions as F

    return Frame(
        spark.range(lo, hi).select(
            (F.col("id") % 5).alias("g"),
            (F.col("id") % mod).alias("u"),
            F.col("id").alias("x"),
        )
    )


def test_view_n_distinct_three_refreshes_match_scratch(spark, tmp_path):
    """Sketch union on the insert window, exact recompute on the
    delete window, and the exact-mode twin hash-exact throughout."""
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        delete_append_rows,
    )
    from cuplyr_spark.sources.views import (
        create_append_view,
        read_append_view,
        refresh_append_view,
    )

    base = str(tmp_path / "b")
    vh = str(tmp_path / "vh")
    ve = str(tmp_path / "ve")
    append_snapshot(_mk_nd(spark, 0, 200), base, batch_id=0)
    create_append_view(
        spark, base, vh, "g", {"nd": ("n_distinct", "u")}
    )
    create_append_view(
        spark, base, ve, "g", {"nd": ("n_distinct_exact", "u")}
    )
    for step in range(3):
        if step == 1:
            append_snapshot(_mk_nd(spark, 200, 450), base, batch_id=1)
        elif step == 2:
            delete_append_rows(spark, base, "x >= 300 and x < 400")
        refresh_append_view(spark, vh)
        refresh_append_view(spark, ve)
        truth = _nd_truth(spark, base)
        for vd in (vh, ve):
            got = {
                r["g"]: r["nd"]
                for r in read_append_view(spark, vd).df.collect()
            }
            assert got == truth, (vd, step)


def test_view_n_distinct_error_bound_at_high_cardinality(spark, tmp_path):
    """Past the sketch's exact coupon regime the estimate must stay
    within the lgk=12 error bound (~3 sigma ≈ 5%)."""
    from pyspark.sql import functions as F

    from cuplyr_spark.sources.connectors import append_snapshot
    from cuplyr_spark.sources.views import (
        create_append_view,
        read_append_view,
        refresh_append_view,
    )

    base = str(tmp_path / "bb")
    v = str(tmp_path / "vv")
    big = Frame(
        spark.range(100_000).select(
            F.lit(0).alias("g"), F.col("id").alias("u")
        )
    )
    append_snapshot(big, base, batch_id=0)
    create_append_view(spark, base, v, "g", {"nd": ("n_distinct", "u")})
    refresh_append_view(spark, v)
    est = read_append_view(spark, v).df.collect()[0]["nd"]
    assert abs(est - 100_000) / 100_000 < 0.05


def test_view_n_distinct_type_validation(spark, tmp_path):
    from pyspark.sql import functions as F

    from cuplyr_spark.sources.connectors import append_snapshot
    from cuplyr_spark.sources.views import create_append_view

    base = str(tmp_path / "bt")
    append_snapshot(
        Frame(
            spark.range(5).select(
                F.lit(0).alias("g"), (F.col("id") * 1.5).alias("u")
            )
        ),
        base, batch_id=0,
    )
    with pytest.raises(ValueError, match="n_distinct over"):
        create_append_view(
            spark, base, str(tmp_path / "vx"), "g",
            {"nd": ("n_distinct", "u")},  # double: not HLL-supported
        )
    # exact mode takes it
    create_append_view(
        spark, base, str(tmp_path / "vy"), "g",
        {"nd": ("n_distinct_exact", "u")},
    )


def test_view_decimal_sum_exact_across_merges(spark, tmp_path):
    """sum over decimal(p,s): the state widens to decimal(38,s) whose
    additions are exact — three refresh shapes all equal the
    from-scratch SUM bit-for-bit."""
    from pyspark.sql import functions as F

    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        delete_append_rows,
        read_append_snapshot,
    )
    from cuplyr_spark.sources.views import (
        create_append_view,
        read_append_view,
        refresh_append_view,
    )

    base = str(tmp_path / "b")
    vd = str(tmp_path / "v")

    def mk(lo, hi):
        return Frame(
            spark.range(lo, hi).select(
                (F.col("id") % 4).alias("g"),
                (F.col("id") / 100).cast("decimal(10,2)").alias("amt"),
            )
        )

    append_snapshot(mk(0, 100), base, batch_id=0)
    create_append_view(
        spark, base, vd, "g", {"total": ("sum", "amt")}
    )
    refresh_append_view(spark, vd)
    append_snapshot(mk(100, 250), base, batch_id=1)
    refresh_append_view(spark, vd)  # insert window: decimal addition
    delete_append_rows(spark, base, "amt >= 2.00")
    refresh_append_view(spark, vd)  # affected-group recompute
    truth = {
        r["g"]: r["t"]
        for r in read_append_snapshot(spark, base)
        .df.groupBy("g")
        .agg(F.sum("amt").alias("t"))
        .collect()
    }
    got = {
        r["g"]: r["total"]
        for r in read_append_view(spark, vd).df.collect()
    }
    assert got == truth
    assert dict(read_append_view(spark, vd).df.dtypes)["total"] == (
        "decimal(38,2)"
    )
