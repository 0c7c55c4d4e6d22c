"""Connector tests: the jar-gated lakehouse readers fail fast with the
exact conf hint, and the jar-free tables — copy-on-write snapshot
tables and append tables, one append log under both — provide atomic
publish + time travel over plain parquet."""

import os

import pandas as pd
import pytest

from cuplyr_spark import from_pandas
from cuplyr_spark.sources.connectors import (
    read_lakehouse,
    read_snapshot,
    snapshot_versions,
    write_snapshot,
)


def _seg_files(d, version=None):
    """Data-file sizes of the one segment a copy-on-write version
    holds."""
    from cuplyr_spark.sources.connectors import _TableFS, _read_log

    fs = _TableFS(d)
    (seg,) = _read_log(fs, version)["segments"]
    return fs.file_sizes(seg)


def _orphan_segment(d, name):
    """A crashed writer's segment: data written, never logged."""
    os.makedirs(os.path.join(d, name))
    with open(os.path.join(d, name, "part-00000.parquet"), "wb") as f:
        f.write(b"partial")


def test_lakehouse_gate_message(spark):
    with pytest.raises(ModuleNotFoundError) as ei:
        read_lakehouse(spark, "delta", "/tmp/nope")
    assert "delta-spark" in str(ei.value)
    with pytest.raises(ValueError):
        read_lakehouse(spark, "parquetish", "/tmp/nope")


def test_snapshot_publish_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "tbl")
    v1 = from_pandas(spark, pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    ver1 = write_snapshot(v1, table)
    assert ver1 == 1
    got1 = read_snapshot(spark, table).collect().sort_values("k")
    assert got1["v"].tolist() == ["a", "b"]

    v2 = from_pandas(spark, pd.DataFrame({"k": [1, 2, 3], "v": ["a", "B", "c"]}))
    ver2 = write_snapshot(v2, table)
    assert ver2 == 2
    # latest sees v2, pinned read sees v1 (time travel)
    assert len(read_snapshot(spark, table).collect()) == 3
    assert len(read_snapshot(spark, table, version=1).collect()) == 2
    assert snapshot_versions(table) == [1, 2]


def test_snapshot_unpublished_version_invisible(spark, tmp_path):
    """A crashed write (segment present, never logged) must be
    invisible to readers."""
    table = str(tmp_path / "tbl")
    df = from_pandas(spark, pd.DataFrame({"k": [1]}))
    write_snapshot(df, table)
    # simulate a half-finished writer: segment exists, no log commit
    _orphan_segment(table, "seg=2-crashed")
    assert snapshot_versions(table) == [1]
    got = read_snapshot(spark, table)  # the log still ends at 1
    assert len(got.collect()) == 1
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "missing"))


def test_snapshot_uri_scheme_routes_through_hadoop_fs(spark, tmp_path):
    """Since r6 the manifest IO goes through the SAME Hadoop
    ``FileSystem`` as the parquet write (r5 refused URI schemes because
    the pointer was driver-local os.*). Exercised here via ``file://``
    — the one Hadoop scheme the container can host — end to end:
    publish, pointer read, versioned read, upsert, all under the
    scheme, with data+pointer landing in ONE directory (verified by a
    bare-path read of the same location)."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        _TableFS,
        latest_snapshot_version,
        read_snapshot,
        snapshot_versions,
        upsert_snapshot,
        write_snapshot,
    )

    f = from_pandas(spark, pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    d = str(tmp_path / "snap_file_scheme")
    uri = "file://" + d

    assert _TableFS(uri, spark).remote  # Hadoop path, not the os.* one
    v = write_snapshot(f, uri)
    assert v == 1
    # pointer and data landed on the same filesystem location: the
    # bare local path sees the published manifest AND the version dir
    assert latest_snapshot_version(d) == 1
    assert snapshot_versions(d) == [1]
    assert os.path.isfile(os.path.join(d, "_LATEST_LOG"))
    assert len(read_snapshot(spark, uri).collect()) == 2

    # keyed MERGE under the scheme: update k=2, insert k=3
    delta = from_pandas(spark, pd.DataFrame({"k": [2, 3], "v": ["B", "c"]}))
    assert upsert_snapshot(spark, delta, uri, key="k") == 2
    got = read_snapshot(spark, uri).collect().sort_values("k")
    assert got["v"].tolist() == ["a", "B", "c"]
    # time travel across the scheme boundary
    assert len(read_snapshot(spark, d, version=1).collect()) == 2

    # pointer swap is rename-over: re-publish overwrites the manifest
    write_snapshot(f, uri)
    assert latest_snapshot_version(uri) == 3


def test_snapshot_upsert_merge(spark, tmp_path):
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        read_snapshot,
        upsert_snapshot,
    )

    d = str(tmp_path / "tbl")
    base = from_pandas(
        spark,
        pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"], "dead": [False, False, True]}),
    )
    assert upsert_snapshot(spark, base, d, key="k") == 1

    # update k=2, insert k=4, and delete rows matching the filter
    delta = from_pandas(
        spark,
        pd.DataFrame({"k": [2, 4], "v": ["B", "d"], "dead": [False, False]}),
    )
    v = upsert_snapshot(spark, delta, d, key="k", delete_filter="dead = true")
    assert v == 2
    got = (
        read_snapshot(spark, d)
        .collect()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert got["k"].tolist() == [1, 2, 4]  # 3 deleted, 2 updated, 4 inserted
    assert got["v"].tolist() == ["a", "B", "d"]
    # time travel to pre-merge still works
    old = read_snapshot(spark, d, version=1).collect()
    assert sorted(old["k"].tolist()) == [1, 2, 3]


def test_snapshot_upsert_schema_guard(spark, tmp_path):
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import upsert_snapshot

    d = str(tmp_path / "tbl2")
    base = from_pandas(spark, pd.DataFrame({"k": [1], "v": ["a"]}))
    upsert_snapshot(spark, base, d, key="k")
    bad = from_pandas(spark, pd.DataFrame({"k": [2], "other": ["x"]}))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema mismatch"):
        upsert_snapshot(spark, bad, d, key="k")


def test_vacuum_snapshots(spark, tmp_path):
    """vacuum keeps the newest keep_last versions plus (always) the
    published one; time travel to vacuumed versions dies, the rest
    live on. Exercised on both the local and the Hadoop (file://)
    path."""
    import pandas as pd
    import pytest

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    d = str(tmp_path / "vac")
    for i in range(4):
        write_snapshot(
            from_pandas(spark, pd.DataFrame({"k": list(range(i + 1))})), d
        )
    assert snapshot_versions(d) == [1, 2, 3, 4]

    removed = vacuum_snapshots(d, keep_last=2)
    assert removed == [1, 2]
    assert snapshot_versions(d) == [3, 4]
    assert len(read_snapshot(spark, d).collect()) == 4  # published intact
    assert len(read_snapshot(spark, d, version=3).collect()) == 3
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, d, version=1)

    # a stale pointer cannot make vacuum drop the published version:
    # regress the pointer to v3, then vacuum keep_last=1
    import os

    with open(os.path.join(d, "_LATEST_LOG"), "w") as f:
        f.write("3")
    assert vacuum_snapshots(d, keep_last=1) == [3]  # 4 is the newest record
    assert snapshot_versions(d) == [4]
    assert len(read_snapshot(spark, d).collect()) == 4

    with pytest.raises(ValueError):
        vacuum_snapshots(d, keep_last=0)

    # Hadoop route: same semantics under file://
    d2 = str(tmp_path / "vac2")
    for i in range(3):
        write_snapshot(
            from_pandas(spark, pd.DataFrame({"k": [i]})), "file://" + d2
        )
    assert vacuum_snapshots("file://" + d2, keep_last=1, spark=spark) == [1, 2]
    assert snapshot_versions(d2) == [3]
    assert len(read_snapshot(spark, "file://" + d2).collect()) == 1


def test_vacuum_excludes_uncommitted_orphans_from_retention(spark, tmp_path):
    """A crash-orphan segment (written, never logged) must not occupy
    a keep_last slot — the real historical versions fill the retention
    window, and the orphan is reaped once out of its grace window."""
    import os

    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    d = str(tmp_path / "vac_orphan")
    for i in range(3):
        write_snapshot(
            from_pandas(spark, pd.DataFrame({"k": list(range(i + 1))})), d
        )
    # simulate a writer that crashed mid-parquet-write: data files but
    # no log commit, named ABOVE the published version
    orphan = os.path.join(d, "seg=9-crashed")
    _orphan_segment(d, "seg=9-crashed")
    assert snapshot_versions(d) == [1, 2, 3]

    # keep_last=2 must keep the two newest versions (2, 3) — the
    # orphan never displaces v2. Inside the grace window the fresh
    # orphan is spared (it could be a concurrent writer's in-progress
    # segment); with the grace waived it is reaped.
    assert vacuum_snapshots(d, keep_last=2) == [1]
    assert snapshot_versions(d) == [2, 3] and os.path.isdir(orphan)
    assert vacuum_snapshots(d, keep_last=2, orphan_grace_hours=0) == []
    assert snapshot_versions(d) == [2, 3] and not os.path.exists(orphan)
    assert len(read_snapshot(spark, d, version=2).collect()) == 2
    assert len(read_snapshot(spark, d).collect()) == 3


def test_compact_snapshot(spark, tmp_path):
    """compact_snapshot rewrites the published version with fewer
    files as a NEW version: rows/schema identical, manifest bumped,
    pre-compaction version still time-travelable, and the no-op path
    returns None without version churn."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        compact_snapshot,
        latest_snapshot_version,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    d = str(tmp_path / "cmp")
    frame = from_pandas(
        spark, pd.DataFrame({"k": list(range(100)), "v": [i * 2 for i in range(100)]})
    )
    write_snapshot(frame.repartition(16), d)
    files_before = len(_seg_files(d, 1))
    assert files_before == 16

    new_v = compact_snapshot(spark, d)  # 100 tiny rows -> 1 file
    assert new_v == 2
    assert latest_snapshot_version(d) == 2
    assert len(_seg_files(d, 2)) == 1

    got = read_snapshot(spark, d).collect().sort_values("k").reset_index(drop=True)
    assert list(got["k"]) == list(range(100))
    assert list(got["v"]) == [i * 2 for i in range(100)]
    # time travel to the pre-compaction layout still works
    assert len(read_snapshot(spark, d, version=1).collect()) == 100

    # already compact -> no-op, no new version
    assert compact_snapshot(spark, d) is None
    assert snapshot_versions(d) == [1, 2]

    # shuffle=True (repartition for size-balanced output): 16 files
    # down to ~4 — rows preserved, file count at the target
    d2 = str(tmp_path / "cmp_shuffled")
    write_snapshot(frame.repartition(16), d2)
    total = sum(_seg_files(d2, 1))
    v2 = compact_snapshot(
        spark, d2, target_file_bytes=-(-total // 4), shuffle=True
    )
    assert v2 == 2
    n_files = len(_seg_files(d2, 2))
    assert 1 <= n_files <= 4
    got2 = read_snapshot(spark, d2).collect()
    assert sorted(got2["k"]) == list(range(100))


def test_compact_snapshot_requires_published(spark, tmp_path):
    import pytest

    from cuplyr_spark.sources.connectors import compact_snapshot

    with pytest.raises(FileNotFoundError):
        compact_snapshot(spark, str(tmp_path / "nope"))


def test_upsert_schema_evolution(spark, tmp_path):
    """schema_evolution=True (Delta mergeSchema analog): new upsert
    columns append NULL-backfilled, columns absent from the upsert
    NULL-fill on its rows, shared columns widen through the bind_rows
    lattice, and time travel returns the OLD schema."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        read_snapshot,
        upsert_snapshot,
        write_snapshot,
    )

    d = str(tmp_path / "evo")
    x = from_pandas(
        spark,
        pd.DataFrame(
            {"k": [1, 2, 3], "v": pd.array([10, 20, 30], dtype="int32"),
             "note": ["a", "b", "c"]}
        ),
    )
    write_snapshot(x, d)

    # y: shared v is WIDER (int64), new column extra, no note column
    y = from_pandas(
        spark,
        pd.DataFrame(
            {"k": [2, 4], "v": pd.array([200, 400], dtype="int64"),
             "extra": [2.5, 4.5]}
        ),
    )
    v2 = upsert_snapshot(spark, y, d, key="k", schema_evolution=True)
    assert v2 == 2
    got = read_snapshot(spark, d)
    # table order first, new columns appended
    assert got.df.columns == ["k", "v", "note", "extra"]
    assert dict(got.df.dtypes)["v"] == "bigint"  # int32 + int64 -> long
    rows = got.collect().sort_values("k").reset_index(drop=True)
    assert list(rows["k"]) == [1, 2, 3, 4]
    assert list(rows["v"]) == [10, 200, 30, 400]
    # carried-over rows NULL-fill the new column; upserted rows
    # NULL-fill the column they lack
    assert pd.isna(rows["extra"][0]) and rows["extra"][1] == 2.5
    assert rows["note"][0] == "a" and pd.isna(rows["note"][1])
    # pre-evolution version keeps the old schema
    assert read_snapshot(spark, d, version=1).df.columns == ["k", "v", "note"]

    # without the flag the mismatch still refuses, with the hint
    import pytest

    with pytest.raises(ValueError, match="schema_evolution=True"):
        upsert_snapshot(spark, y, d, key="k")

    # incompatible promotion (numeric vs timestamp) raises even with
    # evolution on
    z = from_pandas(
        spark,
        pd.DataFrame({"k": [5], "v": pd.to_datetime(["2026-01-01"])}),
    )
    with pytest.raises(TypeError):
        upsert_snapshot(spark, z, d, key="k", schema_evolution=True)


def test_compact_snapshot_zorder(spark, tmp_path):
    """compact_snapshot(zorder_by=...) — the OPTIMIZE ZORDER BY analog:
    the compacted version's files keep tight min/max ranges on BOTH
    clustered columns (a point predicate overlaps a minority of
    files), rows are preserved, and it always publishes (layout change
    is the point, so no no-op shortcut)."""
    import glob as _glob

    import pyarrow.parquet as pq

    from cuplyr_spark import read_parquet
    from cuplyr_spark.sources.connectors import (
        _TableFS,
        _read_log,
        compact_snapshot,
        read_snapshot,
        write_snapshot,
    )

    li = read_parquet(spark, "/root/testdata/sf0.01/lineitem.parquet")
    n_rows = li.df.count()
    d = str(tmp_path / "zc")
    write_snapshot(li.repartition(48), d)  # scattered small files

    total = sum(_seg_files(d, 1))
    v = compact_snapshot(
        spark, d, target_file_bytes=-(-total // 16),
        zorder_by=["l_orderkey", "l_partkey"],
    )
    assert v == 2
    (seg,) = _read_log(_TableFS(d), 2)["segments"]
    files = _glob.glob(os.path.join(d, seg, "*.parquet"))
    assert 2 <= len(files) <= 16
    assert read_snapshot(spark, d).df.count() == n_rows

    def file_ranges(col):
        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            stats = [md.row_group(rg).column(idx).statistics
                     for rg in range(md.num_row_groups)]
            out.append((min(s.min for s in stats), max(s.max for s in stats)))
        return out

    for col, point in (("l_orderkey", 7500), ("l_partkey", 1000)):
        ranges = file_ranges(col)
        hit = sum(1 for lo, hi in ranges if lo <= point <= hi)
        assert hit <= -(-len(ranges) // 2), (
            f"{col}: point {point} overlaps {hit}/{len(ranges)} files"
        )

    # z-ordered compaction republishes even when already compact
    v3 = compact_snapshot(
        spark, d, zorder_by=["l_orderkey", "l_partkey"]
    )
    assert v3 == 3


def test_snapshot_history(spark, tmp_path):
    """snapshot_history (DESCRIBE HISTORY analog): one metadata row per
    version with file counts/bytes, crash orphans never listed, the
    published version flagged — without reading any data."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        snapshot_history,
        write_snapshot,
    )

    d = str(tmp_path / "hist")
    write_snapshot(from_pandas(spark, pd.DataFrame({"k": [1, 2]})), d)
    write_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [1, 2, 3]})).repartition(3), d
    )
    _orphan_segment(d, "seg=7-crashed")

    h = snapshot_history(d)
    assert [r["version"] for r in h] == [1, 2]
    assert h[0]["complete"] and not h[0]["published"]
    assert h[1]["complete"] and h[1]["published"] and h[1]["n_files"] == 3
    assert all(r["bytes"] > 0 for r in h)


def test_append_snapshot_lifecycle(spark, tmp_path):
    """Append/log tables: each append publishes a new log listing the
    accumulated segments; reads union them in one scan; time travel
    pins an earlier log; compaction folds to one segment preserving
    the batch-id watermark; vacuum prunes old logs + unreferenced and
    orphan segments."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        _TableFS,
        _read_log,
        append_snapshot,
        compact_append_snapshot,
        read_append_snapshot,
        vacuum_append_snapshot,
    )

    d = str(tmp_path / "log_tbl")
    assert append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})), d
    ) == 1
    assert append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [3], "v": ["c"]})), d
    ) == 2
    got = read_append_snapshot(spark, d).collect().sort_values("k")
    assert got["v"].tolist() == ["a", "b", "c"]
    # time travel: log v1 has only the first batch
    assert len(read_append_snapshot(spark, d, version=1).collect()) == 2

    # fixed schema: mismatched columns refuse
    import pytest

    with pytest.raises(ValueError, match="fixed-schema"):
        append_snapshot(
            from_pandas(spark, pd.DataFrame({"k": [4], "other": [1]})), d
        )

    # batch-id watermark: replay of batch 5 after batch 6 is a no-op
    assert append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [4], "v": ["d"]})), d,
        batch_id=5,
    ) == 3
    assert append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [4], "v": ["DUP"]})), d,
        batch_id=5,
    ) == 3  # same version returned, nothing appended
    assert len(read_append_snapshot(spark, d).collect()) == 4

    # compaction: one segment, rows identical, watermark carried
    v = compact_append_snapshot(spark, d)
    assert v == 4
    fs = _TableFS(d)
    log = _read_log(fs)
    assert len(log["segments"]) == 1 and log["max_batch_id"] == 5
    assert len(read_append_snapshot(spark, d).collect()) == 4
    # replay of batch 5 stays a no-op AFTER compaction
    assert append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [9], "v": ["DUP"]})), d,
        batch_id=5,
    ) == 4
    # compacting the already-compact table is a no-op
    assert compact_append_snapshot(spark, d) is None

    # pre-compaction logs still read until vacuumed
    assert len(read_append_snapshot(spark, d, version=3).collect()) == 4

    # vacuum: unreferenced HISTORY segments die immediately; a
    # never-logged orphan is spared inside the grace window (it is
    # indistinguishable from a concurrent appender's in-flight
    # segment) and reaped once the grace is waived
    os.makedirs(os.path.join(d, "seg=99-orphan"))
    removed = vacuum_append_snapshot(d, keep_last=1)
    assert any(s.startswith("seg=1-") for s in removed)
    assert "seg=99-orphan" not in removed
    removed = vacuum_append_snapshot(d, keep_last=1, orphan_grace_hours=0)
    assert "seg=99-orphan" in removed
    assert len(read_append_snapshot(spark, d).collect()) == 4
    with pytest.raises(FileNotFoundError):
        read_append_snapshot(spark, d, version=1)


def test_append_tiered_compaction_leaves_right_sized_segments(spark, tmp_path):
    """Tiered compaction is bin-packing, not a full-table rewrite: a
    right-sized segment's files must be BYTE-IDENTICAL (same paths,
    sizes, mtimes — never read or rewritten) across a compaction that
    folds only the small segments into one ``fold=`` segment."""
    import glob as _glob

    from cuplyr_spark.sources.connectors import (
        _TableFS,
        _read_log,
        append_snapshot,
        compact_append_snapshot,
        read_append_snapshot,
    )

    d = str(tmp_path / "tiered")
    # big right-sized segment (one file, > target), then small ones
    big = from_pandas(
        spark,
        pd.DataFrame({"k": range(5000), "v": ["x" * 50] * 5000}),
    ).repartition(1)
    append_snapshot(big, d, batch_id=0)
    for i in range(1, 4):
        append_snapshot(
            from_pandas(spark, pd.DataFrame({"k": [100000 + i], "v": ["s"]})),
            d,
            batch_id=i,
        )
    fs = _TableFS(d)
    big_seg = _read_log(fs)["segments"][0]
    target = sum(fs.file_sizes(big_seg)) // 2  # big is over-target
    before = {
        f: (os.path.getsize(f), os.path.getmtime(f))
        for f in _glob.glob(os.path.join(d, big_seg, "*"))
    }

    v = compact_append_snapshot(spark, d, target_file_bytes=target)
    assert v == 5
    log = _read_log(fs)
    # big segment untouched and still listed; smalls folded into fold=
    assert log["segments"][0] == big_seg
    assert len(log["segments"]) == 2 and log["segments"][1].startswith("fold=")
    after = {
        f: (os.path.getsize(f), os.path.getmtime(f))
        for f in _glob.glob(os.path.join(d, big_seg, "*"))
    }
    assert before == after, "right-sized segment files were rewritten"
    assert log["max_batch_id"] == 3  # watermark carried
    got = read_append_snapshot(spark, d).collect()
    assert len(got) == 5003

    # second pass: one big + one compact fold -> nothing to do
    assert compact_append_snapshot(spark, d, target_file_bytes=target) is None


def test_append_compaction_max_live_segments(spark, tmp_path):
    """max_live_segments pulls the smallest right-sized segments into
    the fold until the live count fits."""
    from cuplyr_spark.sources.connectors import (
        _TableFS,
        _read_log,
        append_snapshot,
        compact_append_snapshot,
        read_append_snapshot,
    )

    d = str(tmp_path / "maxlive")
    for i in range(4):
        append_snapshot(
            from_pandas(
                spark, pd.DataFrame({"k": [i] * (10 * (i + 1)), "v": ["z"] * (10 * (i + 1))})
            ),
            d,
        )
    # tiny target: every segment is "right-sized" (>= target)
    v = compact_append_snapshot(spark, d, target_file_bytes=1, max_live_segments=2)
    assert v == 5
    log = _read_log(_TableFS(d))
    assert len(log["segments"]) == 2
    assert log["segments"][-1].startswith("fold=")
    assert len(read_append_snapshot(spark, d).collect()) == 10 + 20 + 30 + 40


def test_append_compaction_zorder_fold(spark, tmp_path):
    """zorder_by= routes the folded segment through the Morton-curve
    writer: rows unchanged, fold= segment present."""
    from cuplyr_spark.sources.connectors import (
        _TableFS,
        _read_log,
        append_snapshot,
        compact_append_snapshot,
        read_append_snapshot,
    )

    d = str(tmp_path / "zfold")
    for i in range(3):
        append_snapshot(
            from_pandas(
                spark,
                pd.DataFrame(
                    {"a": range(i * 100, (i + 1) * 100), "b": range(100)}
                ),
            ),
            d,
        )
    v = compact_append_snapshot(spark, d, zorder_by=["a", "b"])
    assert v == 4
    log = _read_log(_TableFS(d))
    assert len(log["segments"]) == 1 and log["segments"][0].startswith("fold=")
    got = read_append_snapshot(spark, d).collect()
    assert len(got) == 300 and sorted(got["a"]) == list(range(300))


def test_append_schema_recorded_and_type_checked(spark, tmp_path):
    """The log manifest records the (name, type) schema: appends are
    validated against it WITHOUT a filesystem round-trip (works with
    spark=None-style metadata access), and a type-drifted batch is
    rejected at append time, not discovered at read time."""
    import json

    from cuplyr_spark.sources.connectors import (
        _TableFS,
        _read_log,
        append_snapshot,
    )

    d = str(tmp_path / "schema_tbl")
    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [1], "v": ["a"]})), d
    )
    fs = _TableFS(d)
    log = _read_log(fs)
    assert dict(map(tuple, log["schema"])) == {"k": "bigint", "v": "string"}

    # same names, drifted type -> rejected at append time
    with pytest.raises(ValueError, match="type mismatch"):
        append_snapshot(
            from_pandas(spark, pd.DataFrame({"k": ["not-a-long"], "v": ["b"]})), d
        )

    # VERDICT r7 #3: with the schema in the manifest, an append makes
    # NO read-side filesystem round-trip for VALIDATION — poison
    # spark.read to prove the old per-append footer read is gone.
    # (collect_stats=False: the zone-map aggregate is a deliberate,
    # separately-tested read of the batch, not a validation read.)
    batch = from_pandas(spark, pd.DataFrame({"k": [7], "v": ["g"]}))
    cls = type(spark)
    real_read = cls.read

    def _poisoned(self):
        raise AssertionError(
            "append_snapshot read parquet footers despite a "
            "schema-bearing manifest"
        )

    try:
        cls.read = property(_poisoned)
        append_snapshot(batch, d, collect_stats=False)
    finally:
        cls.read = real_read

    # legacy manifest without schema: footer fallback, then re-stamped
    cur = _read_log(fs)
    legacy = {k: v for k, v in cur.items() if k != "schema"}
    fs.write_text_atomic(
        f"_LOG.{cur['version']}", json.dumps(legacy), ".tmp.legacy"
    )
    assert "schema" not in _read_log(fs)
    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [2], "v": ["b"]})), d
    )
    assert dict(map(tuple, _read_log(fs)["schema"])) == {
        "k": "bigint",
        "v": "string",
    }


def test_append_watermarks_app_keyed(spark, tmp_path):
    """Exactly-once watermarks are per writer (Delta's txnAppId
    analog): two apps appending to one table track independent
    high-water marks, and reset_append_watermark clears one slot for
    the checkpoint-reset recovery path."""
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        read_append_snapshot,
        reset_append_watermark,
    )

    d = str(tmp_path / "apps")
    one = lambda i: from_pandas(spark, pd.DataFrame({"k": [i]}))  # noqa: E731
    append_snapshot(one(1), d, batch_id=5, app_id="ingest-a")
    # app B starts at batch 0: NOT swallowed by A's watermark
    v = append_snapshot(one(2), d, batch_id=0, app_id="ingest-b")
    assert v == 2
    # replay within each app is still a no-op
    assert append_snapshot(one(99), d, batch_id=5, app_id="ingest-a") == 2
    assert append_snapshot(one(99), d, batch_id=0, app_id="ingest-b") == 2
    assert sorted(read_append_snapshot(spark, d).collect()["k"]) == [1, 2]

    # checkpoint reset: clear app A's slot, batch ids restart at 0
    reset_append_watermark(d, app_id="ingest-a")
    assert append_snapshot(one(3), d, batch_id=0, app_id="ingest-a") == 4
    # app B's watermark survived the reset
    assert append_snapshot(one(99), d, batch_id=0, app_id="ingest-b") == 4
    assert sorted(read_append_snapshot(spark, d).collect()["k"]) == [1, 2, 3]


def test_read_append_changes_incremental(spark, tmp_path):
    """The change-data-feed read: rows appended after since_version
    only — exact ACROSS a compaction (fold= segments are
    dataChange=false and skipped; the log walk replays raw appends),
    empty-window reads return an empty frame at the table schema, and
    a vacuumed window fails loudly."""
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        compact_append_snapshot,
        read_append_changes,
        vacuum_append_snapshot,
    )

    d = str(tmp_path / "cdf")
    mk = lambda ks: from_pandas(  # noqa: E731
        spark, pd.DataFrame({"k": ks, "v": [f"v{k}" for k in ks]})
    )
    append_snapshot(mk([1, 2]), d)          # v1
    append_snapshot(mk([3]), d)             # v2
    delta = read_append_changes(spark, d, since_version=1).collect()
    assert sorted(delta["k"]) == [3]

    # full feed from the beginning
    assert sorted(
        read_append_changes(spark, d, since_version=0).collect()["k"]
    ) == [1, 2, 3]

    # compaction between reads: v3 folds everything; a post-since
    # append v4 must still come through exactly once
    assert compact_append_snapshot(spark, d, target_file_bytes=1 << 30) == 3
    append_snapshot(mk([4]), d)             # v4
    delta = read_append_changes(spark, d, since_version=2).collect()
    assert sorted(delta["k"]) == [4], "fold must not re-deliver old rows"

    # empty window -> empty frame, correct schema
    empty = read_append_changes(spark, d, since_version=4)
    assert empty.df.columns == ["k", "v"]
    assert len(empty.collect()) == 0

    with pytest.raises(ValueError, match="past log version"):
        read_append_changes(spark, d, since_version=99)

    # vacuum past the window: lagging reader fails loudly
    append_snapshot(mk([5]), d)             # v5
    vacuum_append_snapshot(d, keep_last=1)
    with pytest.raises(FileNotFoundError):
        read_append_changes(spark, d, since_version=1)


def test_vacuum_success_marker_fallback(spark, tmp_path):
    """When NO segment has _SUCCESS (cluster with success markers
    disabled), vacuum must still honor keep_last instead of deleting
    all history: the _LOG.<n> commit records, not the markers, are the
    completeness evidence."""
    from cuplyr_spark.sources.connectors import (
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    d = str(tmp_path / "nomarkers")
    for i in range(4):
        write_snapshot(
            from_pandas(spark, pd.DataFrame({"k": [i]})), d
        )
    for name in os.listdir(d):
        if name.startswith("seg="):
            os.remove(os.path.join(d, name, "_SUCCESS"))
    removed = vacuum_snapshots(d, keep_last=2)
    assert removed == [1, 2]
    assert snapshot_versions(d) == [3, 4]


def test_vacuum_no_evidence_at_all(spark, tmp_path):
    """Markers disabled AND a fresh never-logged segment (a live
    concurrent writer mid-publish, indistinguishable from crash
    debris): aged history is reclaimed immediately, the unlogged
    segment waits out the orphan grace window."""
    from cuplyr_spark.sources.connectors import (
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    d = str(tmp_path / "noevidence")
    for i in range(4):
        write_snapshot(from_pandas(spark, pd.DataFrame({"k": [i]})), d)
    for name in os.listdir(d):
        if name.startswith("seg="):
            os.remove(os.path.join(d, name, "_SUCCESS"))
    _orphan_segment(d, "seg=5-inflight")
    removed = vacuum_snapshots(d, keep_last=2)
    assert removed == [1, 2]  # aged history goes despite no markers
    assert snapshot_versions(d) == [3, 4]
    assert os.path.isdir(os.path.join(d, "seg=5-inflight"))  # in grace
    assert vacuum_snapshots(d, keep_last=2, orphan_grace_hours=0) == []
    assert not os.path.exists(os.path.join(d, "seg=5-inflight"))


def test_rollback_snapshot(spark, tmp_path):
    """Deliberate rollback is a restore: it publishes a NEW version
    with the earlier version's content, while a pointer-only
    regression is healed as a stale-writer race, never honored."""
    import pytest

    from cuplyr_spark.sources.connectors import (
        latest_snapshot_version,
        read_snapshot,
        rollback_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    d = str(tmp_path / "rb")
    for i in range(3):
        write_snapshot(
            from_pandas(spark, pd.DataFrame({"k": list(range(i + 1))})), d
        )
    assert latest_snapshot_version(d) == 3
    # pointer-only regression is healed, NOT honored (stale-writer race)
    with open(os.path.join(d, "_LATEST_LOG"), "w") as f:
        f.write("2")
    assert latest_snapshot_version(d) == 3
    # the real rollback API is honored: v4 holds v2's rows
    assert rollback_snapshot(d, 2) == 4
    assert latest_snapshot_version(d) == 4
    assert len(read_snapshot(spark, d).collect()) == 2
    with pytest.raises(ValueError, match="ahead of the published"):
        rollback_snapshot(d, 99)
    # vacuum keeps the rollback's version (and v2's segment it reuses)
    assert vacuum_snapshots(d, keep_last=1) == [1, 2, 3]
    assert snapshot_versions(d) == [4]
    assert len(read_snapshot(spark, d).collect()) == 2
    # next publish supersedes the rollback normally
    write_snapshot(from_pandas(spark, pd.DataFrame({"k": [9]})), d)
    assert latest_snapshot_version(d) == 5
    assert len(read_snapshot(spark, d).collect()) == 1


def test_tail_append_changes_exactly_once(spark, tmp_path):
    """The checkpointed batch-incremental consumer: cursor advances
    per call, each call sees only the delta, an idle call is a no-op,
    a replayed call (cursor rolled back, simulating a crash before the
    cursor write) composes with the sink table's batch-id watermark
    into end-to-end exactly-once — and compaction between calls
    delivers nothing."""
    from cuplyr_spark.frame import Frame
    from cuplyr_spark.sources.connectors import (
        _TableFS,
        append_snapshot,
        compact_append_snapshot,
        read_append_snapshot,
        tail_append_changes,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cur = str(tmp_path / "cursors")
    seen: list[tuple[int, int]] = []

    def process(changes: Frame, up_to: int) -> None:
        seen.append((changes.df.count(), up_to))
        out = Frame(
            changes.df.groupBy("k").count().withColumnRenamed("count", "n"),
            (),
        )
        append_snapshot(out, sink, batch_id=up_to, app_id="curate")

    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [1, 1, 2]})), src, batch_id=0
    )
    assert tail_append_changes(spark, src, cur, process) == (0, 1)
    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [2, 3]})), src, batch_id=1
    )
    assert tail_append_changes(spark, src, cur, process) == (1, 2)
    # idle: nothing new, process not called
    assert tail_append_changes(spark, src, cur, process) == (2, 2)
    assert seen == [(3, 1), (2, 2)]

    # crash replay: roll the cursor back; the rerun re-processes the
    # window but the sink watermark (batch_id=up_to) swallows it
    fs = _TableFS(cur, spark)
    fs.write_text_atomic("_CURSOR.__default__", "1", ".t")
    assert tail_append_changes(spark, src, cur, process) == (1, 2)
    got = (
        read_append_snapshot(spark, sink)
        .collect()
        .groupby("k")["n"]
        .sum()
        .to_dict()
    )
    assert got == {1: 2, 2: 2, 3: 1}  # no double-counted batch

    # compaction is dataChange=false for the tail too
    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [9]})), src, batch_id=2
    )
    assert compact_append_snapshot(spark, src, target_file_bytes=1 << 30)
    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [10]})), src, batch_id=3
    )
    before = len(seen)
    frm, to = tail_append_changes(spark, src, cur, process)
    assert frm < to and seen[before][0] == 2  # k=9 and k=10, nothing folded

    # independent consumer has its own cursor starting at 0
    n_all = []
    tail_append_changes(
        spark, src, cur,
        lambda ch, v: n_all.append(ch.df.count()),
        consumer_id="audit",
    )
    assert n_all == [read_append_snapshot(spark, src).df.count()]


def test_tail_append_changes_bootstrap_after_vacuum(spark, tmp_path):
    """A consumer with no cursor attaches to a table whose early
    history (logs + folded-away segments) was vacuumed: bootstrap
    reads the published SNAPSHOT (exact — nothing processed yet) and
    sets the cursor, after which tailing is delta-only. Walking the
    log from version 0 would instead die on the vacuumed manifests."""
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        compact_append_snapshot,
        tail_append_changes,
        vacuum_append_snapshot,
    )

    src = str(tmp_path / "src")
    cur = str(tmp_path / "cursors")
    for i in range(3):
        append_snapshot(
            from_pandas(spark, pd.DataFrame({"k": [i]})), src, batch_id=i
        )
    assert compact_append_snapshot(spark, src, target_file_bytes=1 << 30)
    vacuum_append_snapshot(src, keep_last=1, spark=spark)

    got: list[int] = []
    frm, to = tail_append_changes(
        spark, src, cur, lambda ch, v: got.append(ch.df.count())
    )
    assert frm == 0 and to == 4 and got == [3]  # full snapshot, once
    # now delta-only
    append_snapshot(
        from_pandas(spark, pd.DataFrame({"k": [99]})), src, batch_id=3
    )
    frm, to = tail_append_changes(
        spark, src, cur, lambda ch, v: got.append(ch.df.count())
    )
    assert (frm, to) == (4, 5) and got == [3, 1]

    with pytest.raises(ValueError, match="consumer_id"):
        tail_append_changes(spark, src, cur, lambda ch, v: None, consumer_id="a/b")


# -- hive-partitioned append tables ---------------------------------------


def _events_pdf():
    import pandas as pd

    return pd.DataFrame(
        {
            "event_id": range(8),
            "user_id": [1, 2, 3, 4, 5, 6, 7, 8],
            "event_type": ["click", "view", "click", "purchase",
                           "view", "click", "purchase", "view"],
            "value": [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0],
        }
    )


def test_append_partitioned_roundtrip(spark, tmp_path):
    """Partitioned append: hive layout on disk, exact rows and schema
    (order AND types) back on read, no leaked `seg` discovery column."""
    import os

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        read_append_snapshot,
    )

    pdf = _events_pdf()
    d = str(tmp_path / "t")
    append_snapshot(
        from_pandas(spark, pdf.iloc[:4]), d, partition_by="event_type"
    )
    append_snapshot(from_pandas(spark, pdf.iloc[4:]), d)  # inherits
    out = read_append_snapshot(spark, d)
    assert out.df.columns == ["event_id", "user_id", "event_type", "value"]
    got = {r["event_id"]: (r["event_type"], r["value"])
           for r in out.df.collect()}
    assert got == {i: (pdf.event_type[i], pdf.value[i]) for i in range(8)}
    assert dict(out.df.dtypes)["event_id"] == "bigint"  # not a string
    seg = next(n for n in os.listdir(d) if n.startswith("seg="))
    assert sorted(os.listdir(os.path.join(d, seg)))[-1].startswith(
        "event_type="
    )


def test_append_partitioned_filter_prunes(spark, tmp_path):
    """partition_filter: manifest-level segment pruning (a segment with
    no matching partition contributes NO input files) + Catalyst
    PartitionFilters inside matching segments."""
    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        read_append_snapshot,
    )

    pdf = _events_pdf()
    d = str(tmp_path / "t")
    append_snapshot(
        from_pandas(spark, pdf[pdf.event_type != "purchase"]),
        d,
        partition_by=["event_type"],
    )
    append_snapshot(from_pandas(spark, pdf[pdf.event_type == "purchase"]), d)
    out = read_append_snapshot(
        spark, d, partition_filter={"event_type": "purchase"}
    )
    assert sorted(r["event_id"] for r in out.df.collect()) == [3, 6]
    # manifest pruning: only the purchase-only segment's files are read
    files = out.df.inputFiles()
    assert files and all("event_type=purchase" in f for f in files)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_append_partitioned_values_roundtrip_exactly(spark, tmp_path):
    """Inference is disabled on read: a string partition value like
    '01' must NOT collapse through an inferred int; NULL partition
    values round-trip; an int partition column keeps its type."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        read_append_snapshot,
    )

    pdf = pd.DataFrame(
        {"k": ["01", "2", None], "shard": [3, 14, 3], "v": [1.0, 2.0, 3.0]}
    )
    d = str(tmp_path / "t")
    append_snapshot(
        from_pandas(spark, pdf), d, partition_by=["k", "shard"]
    )
    out = read_append_snapshot(spark, d)
    assert dict(out.df.dtypes) == {"k": "string", "shard": "bigint",
                                   "v": "double"}
    got = sorted(out.df.collect(), key=lambda r: r["v"])
    assert [r["k"] for r in got] == ["01", "2", None]
    assert [r["shard"] for r in got] == [3, 14, 3]
    only3 = read_append_snapshot(spark, d, partition_filter={"shard": 3})
    assert sorted(r["v"] for r in only3.df.collect()) == [1.0, 3.0]


def test_append_partitioned_compaction_preserves_layout(spark, tmp_path):
    """Tiered compaction on a partitioned table: fold keeps the hive
    layout, rows unchanged, change feed still skips the fold, and the
    manifest's partition map tracks the fold."""
    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        _read_log,
        _TableFS,
        append_snapshot,
        compact_append_snapshot,
        read_append_changes,
        read_append_snapshot,
    )

    pdf = _events_pdf()
    d = str(tmp_path / "t")
    append_snapshot(
        from_pandas(spark, pdf.iloc[:4]), d, partition_by="event_type"
    )
    append_snapshot(from_pandas(spark, pdf.iloc[4:]), d)
    v = compact_append_snapshot(spark, d, target_file_bytes=1 << 30)
    assert v == 3
    log = _read_log(_TableFS(d))
    assert len(log["segments"]) == 1
    fold = log["segments"][0]
    assert fold.startswith("fold=")
    assert set(log["partitions"]) == {fold}
    assert log["partitions"][fold] == [
        "event_type=click", "event_type=purchase", "event_type=view"
    ]
    assert read_append_snapshot(spark, d).df.count() == 8
    assert read_append_snapshot(
        spark, d, partition_filter={"event_type": ["click"]}
    ).df.count() == 3
    # the fold added no data: the change feed past v2 is empty
    assert read_append_changes(spark, d, since_version=2).df.count() == 0


def test_append_partitioned_guards(spark, tmp_path):
    """partition_by mismatch, unknown filter column, filter on an
    unpartitioned table, zorder on partitioned fold, and the streaming
    tail all fail loudly."""
    import pytest as _pytest

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        compact_append_snapshot,
        read_append_snapshot,
    )
    from cuplyr_spark.streaming.stream import stream_append_log

    pdf = _events_pdf()
    d = str(tmp_path / "t")
    append_snapshot(from_pandas(spark, pdf), d, partition_by="event_type")
    with _pytest.raises(ValueError, match="does not match the table's"):
        append_snapshot(from_pandas(spark, pdf), d, partition_by="user_id")
    with _pytest.raises(ValueError, match="not partition columns"):
        read_append_snapshot(spark, d, partition_filter={"user_id": 1})
    # z-order WITHIN partitions is supported (test_zone_maps), but
    # z-ordering a partition column itself is a refused no-op
    with _pytest.raises(ValueError, match="are partition columns"):
        compact_append_snapshot(spark, d, zorder_by=["event_type"])
    # r12: partitioned tables CAN be tailed, but the schema must
    # declare the partition columns (the source parses them from the
    # directory names into typed columns)
    with _pytest.raises(ValueError, match="missing the partition"):
        stream_append_log(spark, d, "event_id long")
    d2 = str(tmp_path / "flat")
    append_snapshot(from_pandas(spark, pdf), d2)
    with _pytest.raises(ValueError, match="unpartitioned"):
        read_append_snapshot(
            spark, d2, partition_filter={"event_type": "click"}
        )
    with _pytest.raises(ValueError, match="not in the frame"):
        append_snapshot(
            from_pandas(spark, pdf), str(tmp_path / "t3"),
            partition_by="nope",
        )


def test_append_history_metadata(spark, tmp_path):
    """append_history: pure-manifest lineage — appends, a replay
    no-op, a compaction fold, and per-app watermarks all legible
    without touching a data file."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_history,
        append_snapshot,
        compact_append_snapshot,
    )

    d = str(tmp_path / "t")
    for b in range(2):
        append_snapshot(
            from_pandas(spark, pd.DataFrame({"k": [b]})), d,
            batch_id=b, app_id="ing",
        )
    compact_append_snapshot(spark, d, target_file_bytes=1 << 30)
    h = append_history(d)
    assert [e["version"] for e in h] == [1, 2, 3]
    assert [e["n_new_segments"] for e in h] == [1, 1, 1]
    assert [e["compacted"] for e in h] == [False, False, True]
    assert h[-1]["n_segments"] == 1 and h[-1]["published"]
    assert h[-1]["watermarks"] == {"ing": 1}
    assert h[-1]["partition_by"] == []


def test_tail_append_changes_partition_scoped(spark, tmp_path):
    """A partition-scoped consumer: bootstrap and delta reads both see
    only their slice; the cursor still tracks the full log."""
    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        tail_append_changes,
    )

    pdf = _events_pdf()
    d = str(tmp_path / "t")
    cur = str(tmp_path / "cur")
    append_snapshot(
        from_pandas(spark, pdf.iloc[:4]), d, partition_by="event_type"
    )
    seen: list[list[int]] = []

    def probe(fr, up_to):
        seen.append(sorted(r["event_id"] for r in fr.df.collect()))

    pf = {"event_type": "click"}
    frm, to = tail_append_changes(
        spark, d, cur, probe, consumer_id="c", partition_filter=pf
    )
    assert (frm, to) == (0, 1) and seen[-1] == [0, 2]  # bootstrap slice
    append_snapshot(from_pandas(spark, pdf.iloc[4:]), d)
    frm, to = tail_append_changes(
        spark, d, cur, probe, consumer_id="c", partition_filter=pf
    )
    assert (frm, to) == (1, 2) and seen[-1] == [5]     # delta slice only


def test_append_partitioned_value_fuzz(spark, tmp_path):
    """Property: ANY partition value (spaces, hive-reserved chars that
    get %-escaped in dir names, unicode, leading zeros, empty string,
    NULL) must round-trip exactly through the directory encoding, and
    a partition_filter on the value must select exactly the rows a
    plain .filter() would."""
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        read_append_snapshot,
    )

    values = [
        "plain", "01", "with space", "a/b", "a=b", "a:b", "%41",
        "naïve-héllo", "trailing.", "__HIVE_DEFAULT_PARTITION__x",
        None,
    ]
    pdf = pd.DataFrame(
        {"k": values, "i": range(len(values)), "v": [1.5] * len(values)}
    )
    d = str(tmp_path / "t")
    append_snapshot(from_pandas(spark, pdf.iloc[:6]), d, partition_by="k")
    append_snapshot(from_pandas(spark, pdf.iloc[6:]), d)
    out = read_append_snapshot(spark, d).df
    got = {r["i"]: r["k"] for r in out.collect()}
    assert got == {i: values[i] for i in range(len(values))}
    for val in values:
        sel = read_append_snapshot(
            spark, d, partition_filter={"k": [val]}
        ).df
        want = {i for i, x in enumerate(values) if x == val}
        assert {r["i"] for r in sel.collect()} == want, f"value {val!r}"
