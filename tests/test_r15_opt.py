"""Round-15 optimization-round internals (storage write paths).

Two write-path changes, both invisible to results but load-bearing at
scale:

- ``_skip_fully_deleted``: row-level WRITE probes (delete / update /
  upsert / unique-key probe) drop candidate segments whose exact
  ``delete_counts`` reached their recorded row count — a merge-heavy
  table (e.g. a materialized view's state) otherwise pays a probe scan
  + DV anti-join over every dead historical segment on every MERGE,
  cost growing with dead segments instead of staying ∝ live rows.
- ``_write_dv(cand_segs=...)``: per-segment DV counts ride the DV
  write itself as observed metrics instead of a second job re-reading
  the just-written DV parquet (guide §1.2: don't compute twice). The
  read-back remains as the fallback past ``_DV_OBSERVE_MAX_SEGS``.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

import cuplyr_spark.sources.connectors as C
from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    _read_log,
    _skip_fully_deleted,
    _TableFS,
    append_snapshot,
    delete_append_rows,
    read_append_snapshot,
    update_append_rows,
    upsert_append_rows,
)


def _mk(spark, tmp_path, name, **kw):
    d = str(tmp_path / name)
    shutil.rmtree(d, ignore_errors=True)
    df = spark.range(100).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    append_snapshot(Frame(df.filter("id < 50"), ()), d, batch_id=0, **kw)
    append_snapshot(Frame(df.filter("id >= 50"), ()), d, batch_id=1, **kw)
    return d


def test_skip_fully_deleted_unit():
    segs = ["seg=1-a", "seg=2-b", "seg=3-c", "seg=4-d"]
    log = {
        "stats": {
            "seg=1-a": {"rows": 10, "cols": {}},
            "seg=2-b": {"rows": 10, "cols": {}},
            "seg=3-c": {"rows": 10, "cols": {}},
            # seg=4-d has no stats entry (legacy segment)
        },
        "delete_counts": {
            "seg=1-a": 10,   # exhausted -> skipped
            "seg=2-b": 4,    # partial -> kept
            "seg=4-d": 10,   # no row count on record -> kept (unknown)
        },
    }
    assert _skip_fully_deleted(log, segs) == ["seg=2-b", "seg=3-c", "seg=4-d"]
    # no delete_counts at all -> identity
    assert _skip_fully_deleted({"stats": log["stats"]}, segs) == segs


def test_dv_counts_observed_exact(spark, tmp_path):
    d = _mk(spark, tmp_path, "dvobs")
    v, n = delete_append_rows(spark, d, {"id": [(">=", 40), ("<", 60)]})
    assert n == 20
    cmap = _read_log(_TableFS(d), v)["delete_counts"]
    assert sorted(cmap.values()) == [10, 10]  # 40-49 in seg 1, 50-59 in seg 2
    got = sorted(r["id"] for r in read_append_snapshot(spark, d).df.collect())
    assert got == [*range(40)] + [*range(60, 100)]


def test_dv_counts_fallback_readback_matches(spark, tmp_path, monkeypatch):
    d1 = _mk(spark, tmp_path, "dvobs_a")
    d2 = _mk(spark, tmp_path, "dvobs_b")
    delete_append_rows(spark, d1, {"id": [(">=", 45), ("<", 55)]})
    monkeypatch.setattr(C, "_DV_OBSERVE_MAX_SEGS", 0)  # force read-back
    delete_append_rows(spark, d2, {"id": [(">=", 45), ("<", 55)]})
    c1 = _read_log(_TableFS(d1))["delete_counts"]
    c2 = _read_log(_TableFS(d2))["delete_counts"]
    assert sorted(c1.values()) == sorted(c2.values()) == [5, 5]
    assert (
        read_append_snapshot(spark, d1).df.count()
        == read_append_snapshot(spark, d2).df.count()
        == 90
    )


def test_write_probes_skip_dead_segments(spark, tmp_path):
    d = _mk(spark, tmp_path, "deadseg")
    # kill segment 0 (id < 50) entirely via row-level delete
    v, n = delete_append_rows(spark, d, {"id": ("<", 50)})
    assert n == 50
    log = _read_log(_TableFS(d))
    live = _skip_fully_deleted(log, list(log["segments"]))
    assert len(live) == 1 and len(log["segments"]) == 2
    # MERGE over the half-dead table: keys spanning both old ranges.
    # Rows 0-49 are deleted, so upserting id in {45..54} must replace
    # only 50-54 and append 45-54 fresh — the dead segment contributes
    # nothing (and is never probed).
    batch = spark.range(45, 55).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).alias("g"),
        F.lit(-1).cast("long").alias("v"),
    )
    _, n_replaced, n_appended = upsert_append_rows(
        Frame(batch, ()), d, key=["id"]
    )
    assert (n_replaced, n_appended) == (5, 10)
    rows = {r["id"]: r["v"] for r in read_append_snapshot(spark, d).df.collect()}
    assert set(rows) == set(range(45, 100))
    assert all(rows[i] == -1 for i in range(45, 55))
    assert all(rows[i] == 2 * i for i in range(55, 100))
    # UPDATE addressing only the dead range: no match, no new version
    v_before = _read_log(_TableFS(d))["version"]
    _, n_upd = update_append_rows(
        spark, d, {"id": ("<", 40)}, {"v": "v + 1000"}
    )
    assert n_upd == 0
    assert _read_log(_TableFS(d))["version"] == v_before


def test_local_relation_matches_row_path(spark):
    # the Arrow-backed local relation must be value- and type-identical
    # to the pickled-row construction it replaces (upsert/unique-probe
    # key sets); exotic inputs fall back to the row path
    import datetime

    cases = [
        ({"k": [3, 1, 2]}, "`k` bigint"),
        ({"k": ["b", "a", ""]}, "`k` string"),
        ({"k": [1.5, -2.25]}, "`k` double"),
        (
            {"k": [datetime.date(2024, 1, 2), datetime.date(1999, 12, 31)]},
            "`k` date",
        ),
        ({"k": []}, "`k` int"),
    ]
    for vals, ddl in cases:
        fast = C._local_relation(spark, vals, ddl)
        slow = spark.createDataFrame(
            [(v,) for v in vals["k"]], schema=ddl
        )
        assert fast.schema == slow.schema, ddl
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        ), ddl


def test_refresh_writes_single_file_state_segments(spark, tmp_path):
    # steady-state view refresh: the merged batch is provably <= the
    # key-collect bound, so the state segment and its deletion vector
    # must land as ONE data file each — not one near-empty file per
    # AQE partition (the small-file tax every later refresh re-pays)
    import glob
    import os

    from cuplyr_spark.sources.views import (
        create_append_view,
        refresh_append_view,
    )

    base = str(tmp_path / "sf_base")
    view = str(tmp_path / "sf_view")
    # gapped keys (40 distinct, > the 32-value dictionary cap, range
    # not contiguous): full coverage is NOT provable from stats, so the
    # MERGE keeps its DV write — the path this test pins. The provable
    # shape (dense keys) is covered by the tombstone tests below.
    src = spark.range(2000).select(
        ((F.col("id") % 40) * 3).alias("g"), F.col("id").alias("v")
    )
    append_snapshot(Frame(src, ()), base, batch_id=0)
    create_append_view(
        spark, base, view, "g", {"s": ("sum", "v"), "n": ("count", None)}
    )
    refresh_append_view(spark, view)
    append_snapshot(Frame(src.filter("id < 500"), ()), base, batch_id=1)
    refresh_append_view(spark, view)
    state = os.path.join(view, "state")
    log = _read_log(_TableFS(state))
    latest_seg = sorted(
        log["segments"], key=lambda s: int(s.split("=")[1].split("-")[0])
    )[-1]
    seg_files = glob.glob(os.path.join(state, latest_seg, "*.parquet"))
    assert len(seg_files) == 1, seg_files
    dv_dirs = [r for rels in (log.get("deletes") or {}).values() for r in rels]
    assert dv_dirs
    dv_files = glob.glob(os.path.join(state, dv_dirs[-1], "*.parquet"))
    assert len(dv_files) == 1, dv_files
    # and the view still reads exactly the merged totals
    from cuplyr_spark.sources.views import read_append_view

    rows = {r["g"]: (r["s"], r["n"]) for r in read_append_view(spark, view).df.collect()}
    import collections

    exp = collections.defaultdict(lambda: [0, 0])
    for i in range(2000):
        exp[(i % 40) * 3][0] += i
        exp[(i % 40) * 3][1] += 1
    for i in range(500):
        exp[(i % 40) * 3][0] += i
        exp[(i % 40) * 3][1] += 1
    assert rows == {g: tuple(v) for g, v in exp.items()}


def test_zip_index_map_literal_no_broadcast_join():
    # bind_cols' row zip: per-partition offsets are a map literal, not
    # a broadcast-joined local relation — no join, no Python-worker
    # scan in the zip plan, same contiguous 0-based index
    from cuplyr_spark.frame import _zip_index
    from cuplyr_spark.session import get_session

    spark = get_session()
    df = spark.range(1000).select((F.col("id") * 3).alias("x")).repartition(7)
    z = _zip_index(df, "__i")
    idx = sorted(r["__i"] for r in z.collect())
    assert idx == list(range(1000))
    plan = z._sc._jvm.PythonSQLUtils.explainString(
        z._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan


def test_upsert_dv_thread_error_propagates(spark, tmp_path, monkeypatch):
    # the DV write runs on its own InheritableThread so it overlaps the
    # segment write (guide §2.6); a failure there must still surface to
    # the caller and leave the log unpublished (only unreferenced dirs
    # on disk, exactly like the old sequential order)
    d = _mk(spark, tmp_path, "dvthread_err")
    v_before = _read_log(_TableFS(d))["version"]

    def _boom(*a, **kw):
        raise RuntimeError("dv write failed (injected)")

    monkeypatch.setattr(C, "_write_dv", _boom)
    batch = spark.range(40, 60).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).alias("g"),
        F.lit(-1).cast("long").alias("v"),
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected"):
        upsert_append_rows(Frame(batch, ()), d, key=["id"])
    log = _read_log(_TableFS(d))
    assert log["version"] == v_before  # nothing committed
    assert not (log.get("deletes") or {})
    # table reads exactly the pre-upsert rows
    assert read_append_snapshot(spark, d).df.count() == 100


# -- full-coverage tombstones (MERGE skips the DV entirely) -----------------


def test_provably_covered_unit():
    from cuplyr_spark.sources.connectors import _provably_covered

    cur = {
        "stats": {
            "seg=1-a": {"rows": 10, "cols": {"k": [0, 9, 0]}},          # dense range
            "seg=2-b": {"rows": 5, "cols": {"k": [0, 9, 0, [0, 3, 9]]}},  # dictionary
            "seg=3-c": {"rows": 5, "cols": {"k": [0, 9, 1]}},           # NULL keys
            "seg=4-d": {"rows": 5, "cols": {"k": [0, 20, 0]}},          # range too wide
            "seg=5-e": {"rows": 5, "cols": {}},                          # no key stats
            "seg=6-f": {"rows": None, "cols": {"k": [0, 9, 0]}},        # no row count
            "seg=7-g": {"rows": 4, "cols": {"k": [0, 11, 0, [0, 3, 11]]}},  # dict outside
        }
    }
    segs = [f"seg={i}-{c}" for i, c in zip(range(1, 8), "abcdefg")]
    keys = list(range(10))
    covered, rest = _provably_covered(cur, segs, "k", "bigint", keys)
    assert covered == ["seg=1-a", "seg=2-b"]
    assert rest == ["seg=3-c", "seg=4-d", "seg=5-e", "seg=6-f", "seg=7-g"]
    # gapped key list: dense range proof must fail, dictionary still works
    covered, rest = _provably_covered(cur, segs, "k", "bigint", [0, 3, 9])
    assert covered == ["seg=2-b"]
    # string keys: dictionary proof only
    cur_s = {"stats": {"seg=1-a": {"rows": 3, "cols": {"k": ["a", "c", 0, ["a", "b", "c"]]}}}}
    covered, rest = _provably_covered(cur_s, ["seg=1-a"], "k", "string", ["a", "b", "c", "d"])
    assert covered == ["seg=1-a"]
    covered, rest = _provably_covered(cur_s, ["seg=1-a"], "k", "string", ["a", "b"])
    assert covered == []
    # unprovable key type: everything stays on the DV path
    covered, rest = _provably_covered(cur, segs, "k", "double", keys)
    assert covered == [] and rest == segs


def _glob_dvs(d):
    import glob
    import os

    return sorted(glob.glob(os.path.join(d, "_delete", "*")))


def test_full_coverage_merge_tombstones_without_dv(spark, tmp_path):
    d = str(tmp_path / "tomb")
    df = spark.range(100).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    append_snapshot(Frame(df, ()), d, batch_id=0)
    batch = df.select("id", "g", (F.col("v") + 1).alias("v"))
    v, n_rep, n_app = upsert_append_rows(Frame(batch, ()), d, key=["id"])
    assert (n_rep, n_app) == (100, 100)
    log = _read_log(_TableFS(d))
    old_seg = log["segments"][0]
    # tombstoned: counts advanced to rows, NO DV file anywhere
    assert log["delete_counts"] == {old_seg: 100}
    assert not log.get("deletes")
    assert _glob_dvs(d) == []
    got = sorted(
        (r["id"], r["v"]) for r in read_append_snapshot(spark, d).df.collect()
    )
    assert got == [(i, 2 * i + 1) for i in range(100)]
    # time travel to the pre-merge version still sees the old rows
    old = sorted(
        (r["id"], r["v"])
        for r in read_append_snapshot(spark, d, version=1).df.collect()
    )
    assert old == [(i, 2 * i) for i in range(100)]


def test_partial_coverage_merge_keeps_dv(spark, tmp_path):
    d = str(tmp_path / "tomb_partial")
    df = spark.range(100).select(
        F.col("id").cast("long"), (F.col("id") % 10).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    append_snapshot(Frame(df, ()), d, batch_id=0)
    batch = df.filter("id < 37").select("id", "g", (F.col("v") + 1).alias("v"))
    v, n_rep, n_app = upsert_append_rows(Frame(batch, ()), d, key=["id"])
    assert (n_rep, n_app) == (37, 37)
    log = _read_log(_TableFS(d))
    old_seg = log["segments"][0]
    assert log["delete_counts"] == {old_seg: 37}
    assert log["deletes"][old_seg]  # real DV recorded
    got = sorted(
        (r["id"], r["v"]) for r in read_append_snapshot(spark, d).df.collect()
    )
    assert got == [(i, 2 * i + 1 if i < 37 else 2 * i) for i in range(100)]


def test_tombstone_after_prior_partial_deletes(spark, tmp_path):
    # prior partial DV, then a full-coverage merge: tombstone adds only
    # the REMAINING live rows and the old DV file stays for time travel
    from cuplyr_spark.sources.connectors import delete_append_rows

    d = str(tmp_path / "tomb_prior")
    df = spark.range(100).select(
        F.col("id").cast("long"), (F.col("id") % 10).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    append_snapshot(Frame(df, ()), d, batch_id=0)
    delete_append_rows(spark, d, {"id": [("<", 30)]})
    batch = df.select("id", "g", (F.col("v") + 7).alias("v"))
    v, n_rep, n_app = upsert_append_rows(Frame(batch, ()), d, key=["id"])
    assert (n_rep, n_app) == (70, 100)  # only the live 70 replaced
    log = _read_log(_TableFS(d))
    old_seg = log["segments"][0]
    assert log["delete_counts"][old_seg] == 100
    assert len(log["deletes"][old_seg]) == 1  # only the partial delete's DV
    got = sorted(
        (r["id"], r["v"]) for r in read_append_snapshot(spark, d).df.collect()
    )
    assert got == [(i, 2 * i + 7) for i in range(100)]


def test_cdf_emits_tombstoned_rows_as_deletes(spark, tmp_path):
    from cuplyr_spark.sources.connectors import read_append_cdf

    d = str(tmp_path / "tomb_cdf")
    df = spark.range(20).select(
        F.col("id").cast("long"), (F.col("id") % 4).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    append_snapshot(Frame(df, ()), d, batch_id=0)
    batch = df.select("id", "g", (F.col("v") + 1).alias("v"))
    upsert_append_rows(Frame(batch, ()), d, key=["id"])
    log = _read_log(_TableFS(d))
    assert not log.get("deletes")  # tombstoned, no DV parquet
    cdf = read_append_cdf(spark, d, 1).df
    dels = sorted(
        (r["id"], r["v"])
        for r in cdf.filter("_change_type = 'delete'").collect()
    )
    ins = sorted(
        (r["id"], r["v"])
        for r in cdf.filter("_change_type = 'insert'").collect()
    )
    assert dels == [(i, 2 * i) for i in range(20)]      # the OLD copies
    assert ins == [(i, 2 * i + 1) for i in range(20)]   # the new segment
    vers = {r["_commit_version"] for r in cdf.select("_commit_version").collect()}
    assert vers == {2}
    # mirror replay: v1 state + v2 changes == v2 snapshot
    base = {(r["id"], r["v"]) for r in read_append_snapshot(spark, d, version=1).df.collect()}
    mirrored = (base - set(dels)) | set(ins)
    now = {(r["id"], r["v"]) for r in read_append_snapshot(spark, d).df.collect()}
    assert mirrored == now


def test_tombstone_conflict_detected_via_counts(spark, tmp_path):
    # _dv_conflict_check must see a concurrent tombstone (counts moved,
    # DV file lists identical)
    import pytest

    from cuplyr_spark.sources.connectors import (
        ConcurrentWriteError,
        _dv_conflict_check,
    )

    cur = {"segments": ["seg=1-a"], "deletes": {},
           "delete_counts": {}}
    new = {"segments": ["seg=1-a"], "deletes": {},
           "delete_counts": {"seg=1-a": 10}}
    with pytest.raises(ConcurrentWriteError):
        _dv_conflict_check(cur, new, ["seg=1-a"])
    # unchanged counts still pass
    _dv_conflict_check(cur, {"segments": ["seg=1-a"], "deletes": {},
                             "delete_counts": {}}, ["seg=1-a"])
