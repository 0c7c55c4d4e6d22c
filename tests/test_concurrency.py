"""Optimistic concurrency and crash safety for every table mutation.

The layer's multi-writer model (module docstring of
``sources/connectors.py``): one append log whose ``_LOG.<n>`` commit
records are created by atomic exclusive-create, one monotonic
``_LATEST_LOG`` pointer that readers probe forward from, and one
publish-and-rebase loop (``_commit``) through which append, row-level,
maintenance and copy-on-write mutations all publish. Races are
simulated deterministically — by pre-creating the exact file the
"other writer" would have created, or by letting a rival commit just
before the mutation's own ``_write_log`` — and crashes by raising at a
publish point; every interleaving tested here is one a real concurrent
writer or a killed one produces.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from cuplyr_spark import from_pandas
from cuplyr_spark.sources.connectors import (
    ConcurrentWriteError,
    _TableFS,
    append_snapshot,
    compact_snapshot,
    latest_snapshot_version,
    read_append_snapshot,
    read_snapshot,
    upsert_snapshot,
    vacuum_snapshots,
    write_snapshot,
)


def _df(spark, rows, cols=("k", "v")):
    return from_pandas(spark, pd.DataFrame(rows, columns=list(cols)))


# -- CAS primitive -------------------------------------------------------


def test_write_text_exclusive_single_winner(tmp_path):
    fs = _TableFS(str(tmp_path))
    fs.mkdirs()
    assert fs.write_text_exclusive("_LOG.1", "", ".a") is True
    assert fs.write_text_exclusive("_LOG.1", "", ".b") is False
    # the loser's tmp never lingers
    assert sorted(os.listdir(tmp_path)) == ["_LOG.1"]


# -- version allocation --------------------------------------------------


def test_claimed_version_never_reused(spark, tmp_path):
    """A version a racing (or crashed) writer committed is never
    reused: a blind copy-on-write publish rebases past it."""
    d = str(tmp_path / "t")
    write_snapshot(_df(spark, [(1, "a")]), d)
    _fake_competing_log(d, 2)  # rival commit, pointer never swapped
    v = write_snapshot(_df(spark, [(2, "b")]), d)
    assert v == 3
    assert latest_snapshot_version(d) == 3
    assert dict(read_snapshot(spark, d).df.collect()) == {2: "b"}


def test_pointer_never_regresses(spark, tmp_path):
    """A slow writer finishing an OLD version cannot move the pointer
    backwards past a newer publish (the monotonic swap)."""
    from cuplyr_spark.sources.connectors import _LOG_PTR, _advance_ptr

    d = str(tmp_path / "t")
    write_snapshot(_df(spark, [(1, "a")]), d)
    write_snapshot(_df(spark, [(2, "b")]), d)
    fs = _TableFS(d)
    _advance_ptr(fs, 1)  # the slow writer's late swap
    assert fs.read_text(_LOG_PTR).strip() == "2"
    assert latest_snapshot_version(d) == 2


# -- read-modify-write serialization ------------------------------------


def test_upsert_conflict_detected_not_lost(spark, tmp_path, monkeypatch):
    """Two writers both merge on top of v1; the slower one must get
    ConcurrentWriteError, not silently erase the winner's rows."""
    d = str(tmp_path / "t")
    write_snapshot(_df(spark, [(1, "a"), (2, "b")]), d)
    # writer A's merge commits v2 while writer B's merge of v1 commits
    _race_once(
        monkeypatch,
        lambda: upsert_snapshot(spark, _df(spark, [(2, "B")]), d, key="k"),
    )
    with pytest.raises(ConcurrentWriteError, match="moved from v1 to v2"):
        upsert_snapshot(spark, _df(spark, [(9, "z")]), d, key="k")
    monkeypatch.undo()
    # winner's merge intact, the loser published nothing
    assert latest_snapshot_version(d) == 2
    assert dict(read_snapshot(spark, d).df.collect()) == {1: "a", 2: "B"}


def test_compact_conflict_detected(spark, tmp_path, monkeypatch):
    """A merge landing while compaction rewrites must not be erased by
    the compaction's publish."""
    d = str(tmp_path / "t")
    write_snapshot(_df(spark, [(i, "x") for i in range(20)]).repartition(4), d)
    _race_once(
        monkeypatch,
        lambda: upsert_snapshot(spark, _df(spark, [(99, "m")]), d, key="k"),
    )
    with pytest.raises(ConcurrentWriteError, match="compaction"):
        compact_snapshot(spark, d, target_file_bytes=1 << 30, shuffle=False)
    monkeypatch.undo()
    assert read_snapshot(spark, d).df.count() == 21
    assert latest_snapshot_version(d) == 2


def test_vacuum_sweeps_claims_and_markers(spark, tmp_path):
    """Vacuum removes the commit records of the versions it drops and
    every segment only they referenced — each merge replaced the whole
    table, so exactly the two kept versions' segments remain."""
    from cuplyr_spark.sources.connectors import _read_log

    d = str(tmp_path / "t")
    write_snapshot(_df(spark, [(0, "x")]), d)
    for i in range(3):
        upsert_snapshot(spark, _df(spark, [(i, "y")]), d, key="k")
    fs = _TableFS(d)
    kept = {s for v in (3, 4) for s in _read_log(fs, v)["segments"]}
    assert vacuum_snapshots(d, keep_last=2) == [1, 2]
    names = set(os.listdir(d))
    assert "_LOG.1" not in names and "_LOG.2" not in names
    assert "_LOG.3" in names and "_LOG.4" in names
    assert {n for n in names if n.startswith("seg=")} == kept
    assert read_snapshot(spark, d).df.count() == 3


# -- append-table log commit races ---------------------------------------


def _fake_competing_log(d, version, extra=None, watermarks=None):
    """A competing appender's winning commit: the atomic _LOG.<version>
    file, deliberately WITHOUT its pointer swap — the hardest
    interleaving (winner died mid-publish); the loser must both heal
    the pointer and rebase."""
    fs = _TableFS(d)
    # materialize the predecessor (may be a delta record); the forged
    # competitor commits FULL-form — a legal record at any version
    from cuplyr_spark.sources.connectors import _read_log

    cur = _read_log(fs, version - 1)
    log = dict(cur)
    log["version"] = version
    log["segments"] = list(cur["segments"]) + (extra or [])
    if watermarks is not None:
        log["watermarks"] = watermarks
    assert fs.write_text_exclusive(f"_LOG.{version}", json.dumps(log), ".t")


def test_append_retries_past_competing_commit(spark, tmp_path):
    """Loser of the log-commit race rebases on the winner's log and
    republishes — both appends' rows survive."""
    d = str(tmp_path / "t")
    append_snapshot(_df(spark, [(1, "a")]), d)
    # the competitor wins version 2 (re-registering v1's segment list)
    _fake_competing_log(d, 2)
    v = append_snapshot(_df(spark, [(2, "b")]), d)
    assert v == 3  # rebased past the competitor
    rows = dict(read_append_snapshot(spark, d).df.collect())
    assert rows == {1: "a", 2: "b"}


def test_append_replay_race_is_noop(spark, tmp_path):
    """Two sinks replaying the SAME (app_id, batch_id) race: the loser
    must detect the winner's watermark on rebase and no-op, not
    double-append."""
    d = str(tmp_path / "t")
    append_snapshot(_df(spark, [(1, "a")]), d, batch_id=0, app_id="q")
    # competitor lands batch 1 first
    _fake_competing_log(d, 2, watermarks={"q": 1})
    v = append_snapshot(_df(spark, [(2, "b")]), d, batch_id=1, app_id="q")
    assert v == 2  # the winner's version — our segment became an orphan
    rows = dict(read_append_snapshot(spark, d).df.collect())
    assert rows == {1: "a"}  # competitor's fake log added no real rows


def test_write_text_exclusive_hadoop_route(spark, tmp_path):
    """The Hadoop FileContext branch (rename WITHOUT overwrite) has the
    same single-winner semantics as the os.link branch — exercised via
    file://, the one Hadoop scheme the container can host. Atomic on
    HDFS too; S3A is documented as needing external coordination."""
    d = str(tmp_path / "x")
    os.makedirs(d)
    fs = _TableFS("file://" + d, spark)
    assert fs.remote
    assert fs.write_text_exclusive("_LOG.7", "winner", ".t1") is True
    assert fs.write_text_exclusive("_LOG.7", "loser", ".t2") is False
    assert fs.read_text("_LOG.7") == "winner"
    # the loser's tmp file is cleaned up
    assert not os.path.exists(os.path.join(d, "_LOG.7.t2"))


# -- commit records vs the pointer ---------------------------------------


def test_stale_writer_pointer_regression_healed(spark, tmp_path):
    """The pointer-only TOCTOU race: a stale writer of v1 re-renames
    the pointer back to 1 AFTER v2 published. Readers must still see
    v2 (its immutable _LOG.2 record is independent evidence), and the
    next publish heals the pointer file itself."""
    d = str(tmp_path / "t")
    write_snapshot(_df(spark, [(1, "a")]), d)
    write_snapshot(_df(spark, [(2, "b")]), d)
    assert latest_snapshot_version(d) == 2
    # the stale writer's late rename lands
    with open(os.path.join(d, "_LATEST_LOG"), "w") as f:
        f.write("1")
    assert latest_snapshot_version(d) == 2  # the record is probed
    assert dict(read_snapshot(spark, d).df.collect()) == {2: "b"}
    v = write_snapshot(_df(spark, [(3, "c")]), d)
    assert v == 3
    with open(os.path.join(d, "_LATEST_LOG")) as f:
        assert int(f.read().strip()) == 3  # pointer file healed too


class _CorruptPtrFS(_TableFS):
    def read_text(self, name):
        if name == "_LATEST_LOG":
            return "garbage"  # every read is torn
        return super().read_text(name)


def test_advance_ptr_returns_once_commit_record_durable(tmp_path):
    """Once the commit record (_LOG.n) is durable, a pointer that can
    never be advanced (persistently corrupt reads) must NOT raise —
    readers already find the version by probing the records, and
    raising would make the rebase loop double-append."""
    from cuplyr_spark.sources.connectors import _advance_ptr

    fs = _TableFS(str(tmp_path))
    fs.mkdirs()
    fs.write_text_exclusive("_LOG.5", "{}", ".p")
    _advance_ptr(_CorruptPtrFS(str(tmp_path)), 5)  # durable: no raise


def test_advance_ptr_raises_without_commit_evidence(tmp_path):
    """Same persistently-corrupt pointer, but NO commit record: the
    publish must not report success."""
    from cuplyr_spark.sources.connectors import _advance_ptr

    fs = _CorruptPtrFS(str(tmp_path))
    fs.mkdirs()
    with pytest.raises(ConcurrentWriteError, match="could not be advanced"):
        _advance_ptr(fs, 5)


def test_log_pointer_torn_read_heals(spark, tmp_path):
    """A torn/corrupt _LATEST_LOG pointer must not crash readers: the
    newest immutable _LOG.<k> manifest is the real commit record and
    the read falls back to it (mirrors latest_snapshot_version)."""
    d = str(tmp_path / "t")
    append_snapshot(_df(spark, [(1, "a")]), d, batch_id=0)
    append_snapshot(_df(spark, [(2, "b")]), d, batch_id=1)
    with open(os.path.join(d, "_LATEST_LOG"), "w") as f:
        f.write("not-a-number")
    rows = dict(read_append_snapshot(spark, d).df.collect())
    assert rows == {1: "a", 2: "b"}
    # and a regressed (stale-writer) log pointer is healed by the floor
    with open(os.path.join(d, "_LATEST_LOG"), "w") as f:
        f.write("1")
    rows = dict(read_append_snapshot(spark, d).df.collect())
    assert rows == {1: "a", 2: "b"}


def test_vacuum_sweeps_pub_records(spark, tmp_path):
    """_LOG.<n> records for vacuumed versions are swept with them, so
    the directory listing every vacuum pays stays bounded by
    retention."""
    d = str(tmp_path / "t")
    for i in range(4):
        write_snapshot(_df(spark, [(i, "x")]), d)
    assert vacuum_snapshots(d, keep_last=2) == [1, 2]
    names = set(os.listdir(d))
    assert "_LOG.3" in names and "_LOG.4" in names
    assert "_LOG.1" not in names and "_LOG.2" not in names
    assert latest_snapshot_version(d) == 4


def test_rebase_carries_zone_maps_and_orphan_sidecar_swept(spark, tmp_path):
    """The loser of a log-commit race rebases WITHOUT losing metadata:
    its own segment's zone maps land in the rebased log alongside the
    winner's. And a replay-race orphan's sketch sidecar is swept with
    the orphan segment by vacuum."""
    import shutil

    from cuplyr_spark.sources.connectors import (
        _read_log,
        vacuum_append_snapshot,
    )

    d = str(tmp_path / "t")
    append_snapshot(_df(spark, [(1, "a")]), d, batch_id=0, app_id="q")
    _fake_competing_log(d, 2)  # winner (re-registers v1's segments)
    v = append_snapshot(_df(spark, [(2, "b")]), d, batch_id=1, app_id="q")
    assert v == 3
    log = _read_log(_TableFS(d))
    assert len(log["segments"]) == 2
    # both segments carry zone maps in the rebased log
    for s in log["segments"]:
        assert log["stats"][s]["cols"]["k"][2] == 0  # nulls recorded
    assert log["stats"][log["segments"][1]]["cols"]["k"][:2] == [2, 2]

    # a crashed writer's orphan (segment written + sidecar written, log
    # commit never happened — the exact on-disk state a kill between
    # _write_segment_sketch and _write_log leaves): vacuum must sweep
    # the sidecar together with the orphan segment
    d2 = str(tmp_path / "t2")
    spec = {"distinct": ["k"]}
    append_snapshot(
        _df(spark, [(1, "a")]), d2, batch_id=0, app_id="q",
        sketch_spec=spec,
    )
    live = set(_read_log(_TableFS(d2))["segments"])
    (seg1,) = live
    orphan = "seg=2-deadbeef"
    shutil.copytree(os.path.join(d2, seg1), os.path.join(d2, orphan))
    shutil.copytree(
        os.path.join(d2, "_sketch", seg1),
        os.path.join(d2, "_sketch", orphan),
    )
    removed = vacuum_append_snapshot(d2, keep_last=2, orphan_grace_hours=0)
    assert removed == [orphan]
    assert not os.path.exists(os.path.join(d2, "_sketch", orphan))
    assert os.path.isdir(os.path.join(d2, "_sketch", seg1))  # live kept


# -- race matrix: every mutation through the one commit loop -------------
#
# Races are injected through the module's ``_write_log``: the hook lets
# a rival writer commit first, so the mutation's own exclusive-create
# of ``_LOG.<n>`` loses and it must rebase (or refuse) exactly as a
# real concurrent loser does.

from pyspark.sql import functions as F  # noqa: E402

import cuplyr_spark.sources.connectors as C  # noqa: E402
from cuplyr_spark.frame import Frame  # noqa: E402
from cuplyr_spark.sources.connectors import (  # noqa: E402
    compact_append_snapshot,
    delete_append_rows,
    merge_append_dvs,
    restore_append_snapshot,
    update_append_rows,
    upsert_append_rows,
)


def _rows(spark, lo, hi, extra=None):
    df = spark.range(lo, hi).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    if extra is not None:
        df = df.withColumn(*extra)
    return Frame(df, ())


def _mk_log_table(spark, tmp_path, name="t"):
    """Two segments (ids 0-49, 50-99) at versions 1 and 2."""
    d = str(tmp_path / name)
    append_snapshot(_rows(spark, 0, 50), d, batch_id=0)
    append_snapshot(_rows(spark, 50, 100), d, batch_id=1)
    return d


def _race_once(monkeypatch, rival):
    """Run ``rival()`` just before the first log commit of the call
    under test; the rival's own commits pass straight through."""
    real = C._write_log
    fired = {}

    def racing(fs, log, prev=None):
        if not fired:
            fired["x"] = True
            rival()
        return real(fs, log, prev=prev)

    monkeypatch.setattr(C, "_write_log", racing)
    return fired


def _count(spark, d):
    return read_append_snapshot(spark, d).df.count()


def test_update_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    d = _mk_log_table(spark, tmp_path)
    _race_once(
        monkeypatch, lambda: append_snapshot(_rows(spark, 100, 105), d)
    )
    v, n = update_append_rows(spark, d, {"id": ("<", 10)}, {"v": "v + 1"})
    assert (v, n) == (4, 10)  # the append took v3
    df = read_append_snapshot(spark, d).df
    assert df.count() == 105
    assert df.filter("id < 10 and v = id * 2 + 1").count() == 10


def test_upsert_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    d = _mk_log_table(spark, tmp_path)
    _race_once(
        monkeypatch, lambda: append_snapshot(_rows(spark, 100, 105), d)
    )
    v, replaced, appended = upsert_append_rows(
        _rows(spark, 95, 98, ("v", F.lit(-1).cast("long"))), d, "id"
    )
    assert (v, replaced, appended) == (4, 3, 3)
    df = read_append_snapshot(spark, d).df
    assert df.count() == 105
    assert sorted(r.id for r in df.filter("v = -1").collect()) == [95, 96, 97]


def test_merge_dvs_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    d = _mk_log_table(spark, tmp_path)
    delete_append_rows(spark, d, {"id": ("<", 3)})
    delete_append_rows(spark, d, {"id": ("<", 6)})  # v4: two DV dirs
    _race_once(
        monkeypatch, lambda: append_snapshot(_rows(spark, 100, 105), d)
    )
    assert merge_append_dvs(spark, d) == 6  # the append took v5
    assert _count(spark, d) == 99
    dirs = C._read_log(_TableFS(d))["deletes"]
    assert [len(v) for v in dirs.values()] == [1]


def test_upsert_raises_on_concurrent_delete(spark, tmp_path, monkeypatch):
    d = _mk_log_table(spark, tmp_path)
    _race_once(
        monkeypatch, lambda: delete_append_rows(spark, d, {"id": 90})
    )
    with pytest.raises(ConcurrentWriteError, match="got concurrent deletes"):
        upsert_append_rows(
            _rows(spark, 95, 98, ("v", F.lit(-1).cast("long"))), d, "id"
        )
    df = read_append_snapshot(spark, d).df
    assert df.count() == 99 and df.filter("v = -1").count() == 0


def test_merge_dvs_raises_on_concurrent_delete(spark, tmp_path, monkeypatch):
    d = _mk_log_table(spark, tmp_path)
    delete_append_rows(spark, d, {"id": ("<", 3)})
    delete_append_rows(spark, d, {"id": ("<", 6)})
    _race_once(
        monkeypatch, lambda: delete_append_rows(spark, d, {"id": 7})
    )
    with pytest.raises(ConcurrentWriteError, match="got concurrent deletes"):
        merge_append_dvs(spark, d)
    assert _count(spark, d) == 93


def test_update_raises_on_concurrent_fold(spark, tmp_path, monkeypatch):
    d = _mk_log_table(spark, tmp_path)
    _race_once(
        monkeypatch,
        lambda: compact_append_snapshot(spark, d, target_file_bytes=1 << 30),
    )
    with pytest.raises(ConcurrentWriteError, match="compacted away"):
        update_append_rows(spark, d, {"id": ("<", 10)}, {"v": "v + 1"})
    df = read_append_snapshot(spark, d).df
    assert df.count() == 100 and df.filter("v <> id * 2").count() == 0


def _rival_adds_z_as_string(spark, d):
    return lambda: append_snapshot(
        _rows(spark, 100, 101, ("z", F.lit("s"))), d, schema_mode="merge"
    )


def test_update_merge_schema_raises_on_concurrent_type_clash(
    spark, tmp_path, monkeypatch
):
    d = _mk_log_table(spark, tmp_path)
    _race_once(monkeypatch, _rival_adds_z_as_string(spark, d))
    with pytest.raises(ConcurrentWriteError, match="different types"):
        update_append_rows(
            spark, d, {"id": ("<", 10)}, {"z": "v * 2"}, schema_mode="merge"
        )
    schema = dict(map(tuple, C._read_log(_TableFS(d))["schema"]))
    assert schema["z"] == "string" and _count(spark, d) == 101


def test_upsert_merge_schema_raises_on_concurrent_type_clash(
    spark, tmp_path, monkeypatch
):
    d = _mk_log_table(spark, tmp_path)
    _race_once(monkeypatch, _rival_adds_z_as_string(spark, d))
    with pytest.raises(ConcurrentWriteError, match="different types"):
        upsert_append_rows(
            _rows(spark, 95, 98, ("z", F.col("v") * 2)), d, "id",
            schema_mode="merge",
        )
    schema = dict(map(tuple, C._read_log(_TableFS(d))["schema"]))
    assert schema["z"] == "string" and _count(spark, d) == 101


def _lose_every_race(monkeypatch, d):
    """Before each of the mutation's commits a rival publishes a real
    (metadata-only) version at the same number, so every attempt
    loses. Returns the list of attempted versions."""
    real = C._write_log
    tries: list = []

    def losing(fs, log, prev=None):
        if fs.dir.rstrip("/").endswith(os.path.basename(d)):
            head = C._read_log(fs)
            rival = C._log_with_extras(
                head, head["version"] + 1, list(head["segments"])
            )
            real(fs, rival, prev=head)
            tries.append(log["version"])
        return real(fs, log, prev=prev)

    monkeypatch.setattr(C, "_write_log", losing)
    return tries


@pytest.mark.parametrize(
    "op", ["append", "delete", "update", "upsert", "merge_dvs"]
)
def test_mutation_gives_up_after_six_lost_races(
    spark, tmp_path, monkeypatch, op
):
    d = _mk_log_table(spark, tmp_path)
    if op == "merge_dvs":
        delete_append_rows(spark, d, {"id": ("<", 3)})
        delete_append_rows(spark, d, {"id": ("<", 6)})
    before = sorted(map(tuple, read_append_snapshot(spark, d).df.collect()))
    head = C._read_log(_TableFS(d))["version"]
    calls = {
        "append": lambda: append_snapshot(_rows(spark, 100, 105), d),
        "delete": lambda: delete_append_rows(spark, d, {"id": ("<", 10)}),
        "update": lambda: update_append_rows(
            spark, d, {"id": ("<", 10)}, {"v": "v + 1"}
        ),
        "upsert": lambda: upsert_append_rows(
            _rows(spark, 95, 98, ("v", F.lit(-1).cast("long"))), d, "id"
        ),
        "merge_dvs": lambda: merge_append_dvs(spark, d),
    }
    tries = _lose_every_race(monkeypatch, d)
    with pytest.raises(ConcurrentWriteError, match="lost 6 straight"):
        calls[op]()
    assert tries == [head + 1 + i for i in range(6)]
    monkeypatch.undo()
    log = C._read_log(_TableFS(d))
    assert log["version"] == head + 6  # six rival commits, none of ours
    after = sorted(map(tuple, read_append_snapshot(spark, d).df.collect()))
    assert after == before


def test_delete_rebase_heals_pointer_of_dead_winner(
    spark, tmp_path, monkeypatch
):
    """The winner of the delete's race wrote ``_LOG.3`` and died before
    its pointer swap: the delete rebases to v4 and the pointer lands on
    v4, not on the dead winner's v3."""
    d = _mk_log_table(spark, tmp_path)
    _race_once(monkeypatch, lambda: _fake_competing_log(d, 3))
    v, n = delete_append_rows(spark, d, {"id": ("<", 10)})
    assert (v, n) == (4, 10)
    assert _TableFS(d).read_text(C._LOG_PTR).strip() == "4"
    assert _count(spark, d) == 90


@pytest.mark.parametrize("op", ["compact", "restore"])
def test_refusing_mutation_raises_on_concurrent_append(
    spark, tmp_path, monkeypatch, op
):
    """Compaction and restore were computed from the head they read:
    a concurrent append makes them raise, the winner's rows survive,
    and the loser heals the pointer."""
    d = _mk_log_table(spark, tmp_path)
    _race_once(
        monkeypatch, lambda: append_snapshot(_rows(spark, 100, 105), d)
    )
    with pytest.raises(ConcurrentWriteError, match="lost the log-commit"):
        if op == "compact":
            compact_append_snapshot(spark, d, target_file_bytes=1 << 30)
        else:
            restore_append_snapshot(spark, d, 1)
    monkeypatch.undo()
    assert _count(spark, d) == 105
    assert C._read_log(_TableFS(d))["version"] == 3
    assert _TableFS(d).read_text(C._LOG_PTR).strip() == "3"


# -- crash matrix: every mutation through the one commit loop ------------
#
# A writer killed after its data write (before ``_LOG.<n>``) leaves the
# table at its pre-state; one killed after ``_LOG.<n>`` but before the
# pointer swap has committed (readers probe forward to the record).
# Either way the next writer succeeds and heals the pointer.


class _Crash(BaseException):
    """A kill at a publish point: nothing in the library catches it."""


def _crash_op(spark, d, op):
    if op == "merge_dvs":
        delete_append_rows(spark, d, {"id": ("<", 3)})
        delete_append_rows(spark, d, {"id": ("<", 6)})
    return {
        "append": lambda: append_snapshot(_rows(spark, 100, 105), d),
        "delete": lambda: delete_append_rows(spark, d, {"id": ("<", 10)}),
        "update": lambda: update_append_rows(
            spark, d, {"id": ("<", 10)}, {"v": "v + 1"}
        ),
        "upsert": lambda: upsert_append_rows(
            _rows(spark, 95, 98, ("v", F.lit(-1).cast("long"))), d, "id"
        ),
        "merge_dvs": lambda: merge_append_dvs(spark, d),
        "compact": lambda: compact_append_snapshot(
            spark, d, target_file_bytes=1 << 30
        ),
        "restore": lambda: restore_append_snapshot(spark, d, 1),
        "write_snapshot": lambda: write_snapshot(_rows(spark, 300, 310), d),
        "upsert_snapshot": lambda: upsert_snapshot(
            spark, _rows(spark, 95, 98, ("v", F.lit(-1).cast("long"))), d,
            key="id",
        ),
    }[op]


def _bag(spark, d):
    return sorted(map(tuple, read_append_snapshot(spark, d).df.collect()))


@pytest.mark.parametrize("op", [
    "append", "delete", "update", "upsert", "merge_dvs", "compact",
    "restore", "write_snapshot", "upsert_snapshot",
])
def test_crash_matrix(spark, tmp_path, monkeypatch, op):
    twin = _mk_log_table(spark, tmp_path, "twin")
    _crash_op(spark, twin, op)()
    post = _bag(spark, twin)
    for point in ("_write_log", "_advance_ptr"):
        d = _mk_log_table(spark, tmp_path, point)
        call = _crash_op(spark, d, op)
        pre, head = _bag(spark, d), C._read_log(_TableFS(d))["version"]

        def crash(*a, **kw):
            raise _Crash(point)

        monkeypatch.setattr(C, point, crash)
        with pytest.raises(_Crash):
            call()
        monkeypatch.undo()
        committed = point == "_advance_ptr"  # _LOG.<n> already written
        assert _bag(spark, d) == (post if committed else pre), point
        assert C._read_log(_TableFS(d))["version"] == head + committed
        v = append_snapshot(_rows(spark, 500, 501), d)
        assert v == head + committed + 1
        assert _TableFS(d).read_text(C._LOG_PTR).strip() == str(v)
        assert len(_bag(spark, d)) == len(post if committed else pre) + 1
