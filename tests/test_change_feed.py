"""The change feed as projections of one log-window walk
(`connectors._walk_window`): window parity between the typed feed, the
insert feed, the snapshots and the walk's has-deletes flag over one
mixed history (restores and replacing copy-on-write writes included);
`apply_deletes` across a compaction fold; argument validation; and the
Spark-job budget of building a feed frame."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    _TableFS,
    _walk_window,
    append_snapshot,
    compact_append_snapshot,
    delete_append_rows,
    merge_append_dvs,
    read_append_cdf,
    read_append_changes,
    read_append_snapshot,
    restore_append_snapshot,
    tail_append_changes,
    update_append_rows,
    upsert_append_rows,
    write_snapshot,
)


def _batch(spark, lo, hi, extra=False):
    df = spark.range(lo, hi, numPartitions=2).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("int").alias("x"), (F.col("id") * 0.5).alias("v"),
    )
    return Frame(df.withColumn("w", F.col("id") * 10) if extra else df, ())


def _mixed_history(spark, d, pby):
    """Every kind of commit the feed must see through; returns the end
    version."""
    append_snapshot(_batch(spark, 0, 30), d, batch_id=0, partition_by=pby)
    append_snapshot(_batch(spark, 30, 60), d, batch_id=1)
    append_snapshot(  # additive schema evolution
        _batch(spark, 60, 80, True), d, batch_id=2, schema_mode="merge"
    )
    delete_append_rows(spark, d, "id % 7 = 0")
    update_append_rows(spark, d, "id >= 20 and id <= 25", {"x": "x + 100"})
    append_snapshot(_batch(spark, 80, 84, True), d, batch_id=3)
    # keyed upsert covering that whole segment: a counts-only tombstone
    up = _batch(spark, 80, 85, True).df.withColumn("x", F.col("x") + 1000)
    upsert_append_rows(Frame(up, ()), d, key="id")
    assert merge_append_dvs(spark, d) is not None
    assert compact_append_snapshot(spark, d) is not None
    append_snapshot(_batch(spark, 90, 100, True), d, batch_id=4)
    delete_append_rows(spark, d, "id in (3, 50, 91)")  # lands on the fold
    assert compact_append_snapshot(spark, d, purge_deletes=True) is not None
    append_snapshot(_batch(spark, 100, 105, True), d, batch_id=5)
    # back to v11: re-adds the unpurged fold and a segment at their DVs,
    # drops the purge fold and the last append
    assert restore_append_snapshot(spark, d, 11) == 14
    # a copy-on-write version replaces every segment
    write_snapshot(_batch(spark, 200, 210, True), d)
    return append_snapshot(_batch(spark, 210, 215, True), d, batch_id=6)


def _bag(df, cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("pby", [None, "g"])
def test_window_parity_over_mixed_history(spark, tmp_path, pby):
    """For every window of the history: replaying the typed feed over
    the snapshot at ``since`` gives the snapshot at the end, the insert
    feed equals the typed feed's inserts, and the walk's has-deletes
    flag says whether the window carries a delete row."""
    d = str(tmp_path / "t")
    end = _mixed_history(spark, d, pby)
    cols = ["id", "g", "x", "v", "w"]

    def snap(v):
        if v == 0:
            return Counter()
        df = read_append_snapshot(spark, d, version=v).df
        for c in cols:
            if c not in df.columns:  # pre-evolution snapshot
                df = df.withColumn(c, F.lit(None))
        return _bag(df, cols)

    want = snap(end)
    fs = _TableFS(d, spark)
    for since in range(end):
        cdf = read_append_cdf(spark, d, since).df
        rows = [
            (r["_commit_version"], r["_change_type"], tuple(r[c] for c in cols))
            for r in cdf.collect()
        ]
        state = snap(since)
        for k in sorted({v for v, _, _ in rows}):
            for v, t, row in rows:
                if v == k and t == "delete":
                    assert state[row] > 0, (since, k, row)
                    state[row] -= 1
            state.update(row for v, t, row in rows if v == k and t == "insert")
        assert +state == want, since
        inserts = Counter(row for _, t, row in rows if t == "insert")
        assert _bag(read_append_changes(spark, d, since).df, cols) == inserts
        assert _walk_window(fs, d, since).has_deletes == any(
            t == "delete" for _, t, _ in rows
        ), since


def _ids(frame):
    return sorted(r["id"] for r in frame.df.select("id").collect())


def test_cdf_replays_a_restore_that_drops_a_fold(spark, tmp_path):
    """A restore deletes the rows of the segments it drops: replaying
    the window across it gives the restored snapshot."""
    d = str(tmp_path / "t")
    append_snapshot(_batch(spark, 0, 10), d, batch_id=0)
    append_snapshot(_batch(spark, 10, 20), d, batch_id=1)
    assert compact_append_snapshot(spark, d) == 3
    assert restore_append_snapshot(spark, d, 1) == 4
    state = Counter(_ids(read_append_snapshot(spark, d, version=2)))
    rows = read_append_cdf(spark, d, 2).df.collect()
    assert {r["_commit_version"] for r in rows} == {4}
    for kind, step in (("delete", -1), ("insert", 1)):
        for r in rows:
            if r["_change_type"] == kind:
                state[r["id"]] += step
                assert state[r["id"]] >= 0, r
    assert sorted(state.elements()) == list(range(10))
    assert _ids(read_append_snapshot(spark, d)) == list(range(10))


def test_apply_deletes_across_a_fold(spark, tmp_path):
    """A window segment's rows deleted before a fold stay deleted; a
    delete that lands on the fold afterwards cannot be mapped back to
    the window and raises — read directly and through the tail. A
    segment a restore dropped returns nothing."""
    # deleted before the fold
    d = str(tmp_path / "before")
    append_snapshot(_batch(spark, 0, 10), d, batch_id=0)
    append_snapshot(_batch(spark, 10, 20), d, batch_id=1)
    delete_append_rows(spark, d, "id = 3")
    assert compact_append_snapshot(spark, d) == 4
    live = [i for i in range(20) if i != 3]
    assert _ids(read_append_changes(spark, d, 0, apply_deletes=True)) == live
    assert len(_ids(read_append_changes(spark, d, 0))) == 20  # as appended

    # deleted after the fold
    d2 = str(tmp_path / "after")
    append_snapshot(_batch(spark, 0, 10), d2, batch_id=0)
    append_snapshot(_batch(spark, 10, 20), d2, batch_id=1)
    assert compact_append_snapshot(spark, d2) == 3
    delete_append_rows(spark, d2, "id = 12")
    with pytest.raises(ValueError, match="compaction at version 3"):
        read_append_changes(spark, d2, 0, apply_deletes=True)
    # windows that end before the delete, or start after the fold, read
    assert _ids(read_append_changes(
        spark, d2, 0, version=3, apply_deletes=True
    )) == list(range(20))
    assert _ids(read_append_changes(spark, d2, 3, apply_deletes=True)) == []

    # a window segment a restore dropped holds no live row
    d3 = str(tmp_path / "restored")
    append_snapshot(_batch(spark, 0, 10), d3, batch_id=0)
    append_snapshot(_batch(spark, 10, 20), d3, batch_id=1)
    restore_append_snapshot(spark, d3, 1)
    assert _ids(read_append_changes(spark, d3, 1, apply_deletes=True)) == []
    assert len(_ids(read_append_changes(spark, d3, 1))) == 10  # as appended

    # the tail walks the same window: cursor at v1, window (1, end]
    for tdir, expect in ((d, list(range(10, 20))), (d2, None)):
        cdir = tmp_path / f"cur-{uuid.uuid4().hex[:6]}"
        cdir.mkdir()
        (cdir / "_CURSOR.__default__").write_text("1")  # consumed v1
        got: list = []

        def tail():
            tail_append_changes(
                spark, tdir, str(cdir), lambda fr, v: got.extend(_ids(fr)),
                apply_deletes=True,
            )

        if expect is None:
            with pytest.raises(ValueError, match="compaction at version 3"):
                tail()
        else:
            tail()
            assert got == expect


@pytest.mark.parametrize("reader", [read_append_changes, read_append_cdf])
def test_negative_since_is_rejected(spark, tmp_path, reader):
    d = str(tmp_path / "t")
    append_snapshot(_batch(spark, 0, 5), d, batch_id=0)
    with pytest.raises(ValueError, match="negative"):
        reader(spark, d, -1)


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"feed-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "feed job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_building_a_feed_frame_launches_no_spark_job(spark, tmp_path):
    """The walk reads the log alone: a delete window's typed frame
    learns its DV owner segments from the log's deletes map, not from
    a collect over the DV files."""
    d = str(tmp_path / "t")
    append_snapshot(_batch(spark, 0, 20), d, batch_id=0)
    delete_append_rows(spark, d, "id < 4")
    assert _job_count(spark, lambda: read_append_cdf(spark, d, 1)) == 0
    assert _job_count(spark, lambda: read_append_changes(
        spark, d, 0, apply_deletes=True
    )) == 0  # the DV read has a fixed schema: no footer inference
    assert read_append_cdf(spark, d, 1).df.count() == 4


def test_cdf_delete_read_back_spans_a_rename_era(spark, tmp_path):
    """A delete landing on a segment written before a rename reads its
    rows back through that segment's era names, not as NULLs."""
    from cuplyr_spark.sources.connectors import rename_append_column

    d = str(tmp_path / "t")
    mk = lambda lo, name: Frame(  # noqa: E731
        spark.range(lo, lo + 3).select(
            F.col("id"), (F.col("id") * 10).alias(name)
        ),
        (),
    )
    append_snapshot(mk(0, "a"), d, batch_id=0)
    rename_append_column(d, "a", "b", spark)
    append_snapshot(mk(3, "b"), d, batch_id=1)
    delete_append_rows(spark, d, "id = 1")
    got = sorted(tuple(r) for r in read_append_cdf(spark, d, 2).df.collect())
    assert got == [
        (1, 10, "delete", 4), (3, 30, "insert", 3), (4, 40, "insert", 3),
        (5, 50, "insert", 3),
    ]
