"""Manifest zone maps against a plain-Python reference.

Every expected entry here is computed from the rows Spark returns
(``collect()`` of the batch, or of the written files for per-file
entries) by the rules the manifest promises — Spark's total order for
floats (NaN greatest), null counts, the exact value set of columns
with at most 32 distinct values, no set for NaN-bearing floats, none
holding a string longer than 64 characters, and truncated string
bounds. Only the value encoding (``_stat_json``, ``_stat_trunc_*``)
is shared with the library. The cases taking ``tdir`` run on a bare
local path and on the same directory as a ``file://`` URI, which covers
both ways the library feeds its stats kernel (driver-side reads for
local tables, a Spark job for URI-scheme tables).

The file also pins two properties of the stats path itself: stats add
no Spark jobs to a local table's writes, and the log-state cache stays
consistent under driver threads.
"""

from __future__ import annotations

import datetime
import math
import re
import sys
import threading
import uuid
from decimal import Decimal
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

import cuplyr_spark.sources.connectors as C
from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    _read_log,
    _stat_json,
    _stat_trunc_max,
    _stat_trunc_min,
    _TableFS,
    append_snapshot,
    compact_append_snapshot,
    delete_append_rows,
    update_append_rows,
    upsert_append_rows,
)

_ELIGIBLE = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "boolean", "string", "date", "timestamp", "timestamp_ntz",
}
_SET_CAP = 32
_STR_CAP = 64


# -- the reference -----------------------------------------------------------


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _ref_col(values, typ: str, sets: bool = True) -> list:
    """Expected ``[min, max, nulls(, values)]`` for one column."""
    nn = [v for v in values if v is not None]
    nulls = len(values) - len(nn)
    if not nn:
        return [None, None, nulls]
    if typ in ("float", "double"):
        real = [v for v in nn if not _is_nan(v)]
        mn = min(real) if real else float("nan")
        mx = float("nan") if len(real) < len(nn) else max(real)
    else:
        mn, mx = min(nn), max(nn)
    mn, mx = _stat_json(mn, typ), _stat_json(mx, typ)
    if typ == "string":
        mn, mx = _stat_trunc_min(mn), _stat_trunc_max(mx)
    entry = [mn, mx, nulls]
    distinct = set(nn)
    if (
        sets
        and len(distinct) <= _SET_CAP
        and not any(_is_nan(v) for v in nn)
        and not (typ == "string" and any(len(v) > _STR_CAP for v in nn))
    ):
        entry.append(sorted(_stat_json(v, typ) for v in distinct))
    return entry


def _eligible(schema, pby=()):
    return [
        (n, t) for n, t in schema
        if (t in _ELIGIBLE or t.startswith("decimal(")) and n not in pby
    ]


def _ref_segment(rows, schema, pby=()) -> dict:
    """Expected segment entry for ``rows`` (collected Rows) under the
    table ``schema``; a column a row lacks counts as NULL."""
    cols = {
        n: _ref_col([r.asDict().get(n) for r in rows], t)
        for n, t in _eligible(schema, pby)
    }
    return {"rows": len(rows), "cols": cols}


def _ref_files(spark, table_dir, seg, cols, types) -> dict:
    """Expected per-file entries: the written files' rows grouped by
    the file they live in, keyed by the path relative to the segment."""
    path = table_dir.rstrip("/") + "/" + seg
    got = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("__f"), *cols
    ).collect()
    rel = re.compile(r".*/" + re.escape(seg) + r"/(.*)$")
    by_file: dict = {}
    for r in got:
        by_file.setdefault(unquote(rel.match(r["__f"]).group(1)), []).append(r)
    return {
        f: {
            "rows": len(rs),
            "cols": {c: _ref_col([r[c] for r in rs], types[c], sets=False)
                     for c in cols},
        }
        for f, rs in by_file.items()
    }


def _canon(x):
    """NaN-aware comparable form (NaN != NaN in Python)."""
    if _is_nan(x):
        return "NaN"
    if isinstance(x, dict):
        return {k: _canon(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_canon(v) for v in x]
    return x


def _assert_same(got, want):
    assert _canon(got) == _canon(want)


# -- fixtures and frames -----------------------------------------------------


@pytest.fixture(params=["bare", "file"])
def tdir(request, tmp_path):
    """A fresh table location: a bare local path, or the same kind of
    directory as a ``file://`` URI."""
    def make(name):
        d = str(tmp_path / name)
        return d if request.param == "bare" else "file://" + d
    return make


def _log(spark, d):
    return _read_log(_TableFS(d, spark))


def _only_seg_stats(spark, d):
    log = _log(spark, d)
    return log["stats"][log["segments"][-1]]


def _adversarial_df(spark):
    """Every stat-eligible type with its edge cases: unicode/empty/long
    strings, +-inf and signed-zero doubles, all-NULL columns,
    dictionary candidates (5, 4, 2 and 10 distinct) beside a
    40-distinct column that must NOT get a dictionary."""
    rows = []
    for i in range(200):
        rows.append((
            i,                                        # l bigint
            i % 5,                                    # dict_i int
            float(i) * 1.5 - 10,                      # d double
            f"v{i:03d}" + ("x" * 100 if i % 7 == 0 else ""),  # s (some > cap)
            ["alpha", "beta", "éé", ""][i % 4],       # dict_s string
            None,                                     # all_null string
            datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
            datetime.datetime(2021, 3, 1, 6, 30) + datetime.timedelta(minutes=i),
            Decimal(i).scaleb(-2) + Decimal("1.00"),  # dec decimal(10,2)
            bool(i % 2),                              # b boolean
            float("inf") if i == 3 else (float("-inf") if i == 4 else i / 3.0),
            None if i % 3 == 0 else i * 7,            # nully bigint
            float(i) * 0.25 - 3,                      # f float (32-bit)
            datetime.datetime(2019, 7, 4, 23, 59, 59)
            + datetime.timedelta(seconds=i),          # tsn timestamp_ntz
            i % 128,                                  # ti tinyint
            i % 1000,                                 # si smallint
            [0.0, -0.0, 1.25][i % 3],                 # z double, +-0.0
            i % 40,                                   # k40 int
            i % 10,                                   # k10 int
            ["p", "q", None][i % 3],                  # ds_null string
            Decimal("1.50") if i % 2 else Decimal("-7.25"),  # dec_d
            datetime.datetime(2022, 5, 1, i % 4, 0),  # ts_d timestamp
        ))
    ddl = (
        "l bigint, dict_i int, d double, s string, dict_s string, "
        "all_null string, dt date, ts timestamp, dec decimal(10,2), "
        "b boolean, inf_d double, nully bigint, f float, "
        "tsn timestamp_ntz, ti tinyint, si smallint, z double, k40 int, "
        "k10 int, ds_null string, dec_d decimal(6,2), ts_d timestamp"
    )
    return spark.createDataFrame(rows, schema=ddl)


def _wide_df(spark, n_cols=70, nan=False):
    """More than 64 stat columns; ``nan`` adds NaN-bearing and signed
    zero float columns."""
    cols = [F.col("id").cast("long").alias("id")]
    for i in range(n_cols):
        if i % 3 == 0:
            cols.append((F.col("id") * 1.5 + i).alias(f"d{i}"))
        elif i % 3 == 1:
            cols.append((F.col("id") % (i + 2)).cast("int").alias(f"k{i}"))
        else:
            cols.append(
                F.concat(F.lit(f"s{i}_"), (F.col("id") % 7).cast("string"))
                .alias(f"s{i}")
            )
    if nan:
        cols += [
            F.when(F.col("id") % 5 == 0, F.lit(float("nan")))
            .otherwise(F.col("id") - 20.0).alias("nan_d"),
            F.when(F.col("id") % 2 == 0, F.lit(-0.0))
            .otherwise(F.lit(0.0)).alias("pm0"),
            F.when(F.col("id") == 7, F.lit(float("nan")))
            .otherwise(F.lit(1.0)).cast("float").alias("nan_f"),
        ]
    return spark.range(60).select(*cols)


def _append_and_check(spark, d, df, **kw):
    append_snapshot(Frame(df, ()), d, batch_id=0, **kw)
    st = _only_seg_stats(spark, d)
    _assert_same(st, _ref_segment(df.collect(), df.dtypes,
                                  kw.get("partition_by") or ()))
    return st


# -- segment entries ---------------------------------------------------------


def test_reference_adversarial(spark, tdir):
    st = _append_and_check(spark, tdir("adv"), _adversarial_df(spark))
    # the shape we think we're testing
    assert st["cols"]["dict_i"][3] == [0, 1, 2, 3, 4]
    assert st["cols"]["all_null"] == [None, None, 200]
    assert len(st["cols"]["k40"]) == 3  # 40 distinct: no dictionary
    assert st["cols"]["k10"][3] == list(range(10))
    assert len(st["cols"]["s"]) == 3  # long strings: no dictionary
    assert st["cols"]["z"][3] == [0.0, 1.25]  # -0.0 and 0.0 are one


def test_reference_nonutc_session_tz(spark, tdir):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        _append_and_check(spark, tdir("tz"), _adversarial_df(spark))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_reference_wide_table(spark, tdir):
    st = _append_and_check(spark, tdir("wide"), _wide_df(spark))
    assert len(st["cols"]) == 71


def test_reference_nan_and_signed_zero(spark, tmp_path):
    st = _append_and_check(
        spark, str(tmp_path / "nan"), _wide_df(spark, nan=True)
    )
    mn, mx, nulls = st["cols"]["nan_d"]  # NaN-bearing: no dictionary
    assert mn == -19.0 and math.isnan(mx) and nulls == 0
    assert len(st["cols"]["nan_f"]) == 3
    assert st["cols"]["pm0"][3] == [0.0]


def test_reference_partitioned(spark, tdir):
    df = spark.range(100).select(
        F.col("id").cast("long"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") % 6).cast("int").alias("dict_i"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    st = _append_and_check(spark, tdir("part"), df, partition_by=["p"])
    assert "p" not in st["cols"]


def test_reference_merge_batch_omitting_columns(spark, tdir):
    d = tdir("merge")
    base = spark.range(10).select(
        F.col("id").cast("long"), (F.col("id") * 2).alias("v"),
        F.lit("t").alias("tag"),
    )
    append_snapshot(Frame(base, ()), d, batch_id=0)
    batch = spark.range(5).select(
        (F.col("id") + 100).cast("long").alias("id")
    )
    append_snapshot(Frame(batch, ()), d, batch_id=1, schema_mode="merge")
    st = _only_seg_stats(spark, d)
    _assert_same(st, _ref_segment(batch.collect(), base.dtypes))
    assert st["cols"]["v"] == [None, None, 5]


def test_reference_update_and_upsert_segments(spark, tdir):
    d = tdir("rowlevel")
    df = _adversarial_df(spark)
    append_snapshot(Frame(df, ()), d, batch_id=0)
    update_append_rows(spark, d, "l < 20", {"dict_i": "dict_i + 100"})
    want = df.filter("l < 20").withColumn(
        "dict_i", F.col("dict_i") + 100
    )
    _assert_same(_only_seg_stats(spark, d),
                 _ref_segment(want.collect(), df.dtypes))
    batch = df.filter("l >= 150").withColumn("k10", F.lit(3))
    upsert_append_rows(Frame(batch, ()), d, key=["l"])
    _assert_same(_only_seg_stats(spark, d),
                 _ref_segment(batch.collect(), df.dtypes))


# -- per-file entries --------------------------------------------------------


def _clustered_df(spark, n=3000, start=0):
    return spark.range(start, start + n).select(
        F.col("id").cast("long").alias("k"),
        F.concat(F.lit("n"), F.lpad((F.col("id") % 997).cast("string"), 4, "0"))
        .alias("name"),
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .otherwise(F.col("id") * 0.5).alias("v"),
    )


def _assert_file_stats(spark, d, seg, cols):
    log = _log(spark, d)
    types = dict(map(tuple, log["schema"]))
    got = log["file_stats"][seg]
    _assert_same(got, _ref_files(spark, d, seg, cols, types))
    return got


def test_reference_file_stats_clustered(spark, tdir):
    d = tdir("clustered")
    df = _clustered_df(spark)
    append_snapshot(Frame(df, ()), d, batch_id=0, cluster_by=["k"],
                    cluster_files=3)
    seg = _log(spark, d)["segments"][-1]
    got = _assert_file_stats(spark, d, seg, ["k"])
    assert len(got) == 3
    _assert_same(_only_seg_stats(spark, d),
                 _ref_segment(df.collect(), df.dtypes))
    # a MERGE batch keeps the cluster layout and its file entries
    batch = _clustered_df(spark, n=500, start=2800)
    upsert_append_rows(Frame(batch, ()), d, key=["k"])
    _assert_file_stats(spark, d, _log(spark, d)["segments"][-1], ["k"])


def test_reference_file_stats_zorder_fold(spark, tdir):
    d = tdir("zfold")
    for i in range(3):
        append_snapshot(
            Frame(_clustered_df(spark, n=1000, start=i * 1000), ()), d,
            batch_id=i,
        )
    # a DV-carrying fold recomputes its segment entry from live rows
    delete_append_rows(spark, d, "k % 7 = 0")
    compact_append_snapshot(spark, d, zorder_by=["k", "v"])
    log = _log(spark, d)
    (seg,) = log["segments"]
    _assert_file_stats(spark, d, seg, ["k", "v"])
    live = _clustered_df(spark, n=3000).filter("k % 7 != 0")
    _assert_same(log["stats"][seg], _ref_segment(live.collect(), live.dtypes))


# -- the stats path launches no Spark job on local tables ---------------------


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"stats-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "stats job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _ops(spark, root, collect_stats):
    """The same ops on stats-on or stats-off tables (plain, wide and
    clustered); returns the Spark jobs each launched."""
    d, dc = str(root / "plain"), str(root / "clustered")
    base = spark.range(400).select(
        F.col("id").cast("long"), (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("s"),
    )
    dict_batch = spark.range(400, 800).select(
        F.col("id").cast("long"), (F.col("id") % 4 * 1.5).alias("v"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("s"),
    )
    counts = {}
    counts["append"] = _job_count(spark, lambda: append_snapshot(
        Frame(base, ()), d, batch_id=0, collect_stats=collect_stats))
    counts["dict_append"] = _job_count(spark, lambda: append_snapshot(
        Frame(dict_batch, ()), d, batch_id=1, collect_stats=collect_stats))
    counts["wide_append"] = _job_count(spark, lambda: append_snapshot(
        Frame(_wide_df(spark), ()), str(root / "wide"), batch_id=0,
        collect_stats=collect_stats))
    counts["clustered_append"] = _job_count(spark, lambda: append_snapshot(
        Frame(base, ()), dc, batch_id=0, collect_stats=collect_stats,
        cluster_by=["id"], cluster_files=2))
    counts["update"] = _job_count(spark, lambda: update_append_rows(
        spark, d, "id < 500", {"v": "v + 1"}))
    # keys inside every segment's range: zone maps prune nothing, so
    # both tables run the same probe
    counts["upsert"] = _job_count(spark, lambda: upsert_append_rows(
        Frame(base.filter("id % 50 = 0").union(
            dict_batch.filter("id % 50 = 0")), ()), d, key=["id"]))
    counts["dv_fold"] = _job_count(spark, lambda: compact_append_snapshot(
        spark, d))
    return counts


def test_stats_add_no_spark_jobs(spark, tmp_path):
    on = _ops(spark, tmp_path / "on", True)
    off = _ops(spark, tmp_path / "off", False)
    assert on == off
    assert _log(spark, str(tmp_path / "on" / "plain")).get("stats")
    assert not _log(spark, str(tmp_path / "off" / "plain")).get("stats")


# -- the log-state cache under driver threads ---------------------------------


class _FakeFS:
    dir = "/cache-race"

    def stat_sig(self, name):
        return (1, 1)


def test_log_state_cache_thread_safe(monkeypatch):
    monkeypatch.setattr(C, "_LOG_STATE_CACHE", {})
    errors: list = []
    fs = _FakeFS()

    def hammer(t):
        try:
            for i in range(20_000):
                k = t * 1_000_000 + i
                C._cache_log_state((fs.dir, k), (1, 1), {"v": k})
                C._cached_log_state(fs, k - 3)
        except Exception as e:  # the race surfaces as dict errors
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert len(C._LOG_STATE_CACHE) <= C._LOG_STATE_CACHE_MAX
