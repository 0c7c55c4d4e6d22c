"""Round-16 optimization-round internals.

Compaction × counts-only tombstones (the r15 ADVICE findings): a
full-coverage MERGE tombstones a segment arithmetically
(``delete_counts`` == recorded rows, NO deletion-vector file), and
``compact_append_snapshot`` previously keyed both its fold-stats merge
and its fold eligibility off the ``deletes`` map alone — so a
tombstoned segment's dead rows were summed into the fold's recorded
stats/sketches (breaking the additive-exact live-count invariant) and
a right-sized tombstoned segment was never reclaimable. Compaction now
drops fully-dead segments from the new log outright and treats
count-carrying fold members as delete-carrying (stats/sketch
recomputed from the written fold).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    _read_log,
    _TableFS,
    append_snapshot,
    compact_append_snapshot,
    read_append_snapshot,
    upsert_append_rows,
)


def _base_df(spark, n=100):
    return spark.range(n).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).alias("g"),
        (F.col("id") * 2).alias("v"),
    )


def _tombstone_first_segment(spark, d):
    """Full-coverage MERGE: dense int keys -> counts-only tombstone."""
    df = _base_df(spark)
    batch = df.select("id", "g", (F.col("v") + 1).alias("v"))
    upsert_append_rows(Frame(batch, ()), d, key=["id"])
    log = _read_log(_TableFS(d))
    dead = log["segments"][0]
    assert log["delete_counts"] == {dead: 100}
    assert not log.get("deletes")  # tombstone, no DV parquet
    return dead


def test_compaction_fold_stats_exact_with_tombstoned_segment(spark, tmp_path):
    # the ADVICE-high scenario: a fold whose members include a cleanly
    # tombstoned segment must record the fold's ACTUAL rows, not the
    # arithmetic sum that counts the tombstoned segment's dead rows
    d = str(tmp_path / "cmp_tomb")
    append_snapshot(Frame(_base_df(spark), ()), d, batch_id=0)
    dead = _tombstone_first_segment(spark, d)
    # default target_file_bytes: every tiny segment is "fragmented",
    # so everything live folds together
    v = compact_append_snapshot(spark, d)
    assert v is not None
    log = _read_log(_TableFS(d))
    assert dead not in log["segments"]  # dead segment dropped outright
    fold_seg = [s for s in log["segments"] if s.startswith("fold=")]
    assert len(fold_seg) == 1
    got = read_append_snapshot(spark, d).df
    n_actual = got.count()
    assert n_actual == 100
    # the additive-exact invariant: recorded rows == actual rows
    assert log["stats"][fold_seg[0]]["rows"] == n_actual
    assert not log.get("delete_counts")
    assert not log.get("deletes")
    rows = sorted((r["id"], r["v"]) for r in got.collect())
    assert rows == [(i, 2 * i + 1) for i in range(100)]


def test_compaction_drops_dead_segment_metadata_only(spark, tmp_path):
    # nothing fragmented, nothing to purge: a right-sized tombstoned
    # segment still gets dropped, via a metadata-only log version
    d = str(tmp_path / "cmp_dead_only")
    append_snapshot(Frame(_base_df(spark), ()), d, batch_id=0)
    dead = _tombstone_first_segment(spark, d)
    pre = _read_log(_TableFS(d))
    live = [s for s in pre["segments"] if s != dead]
    # target 1 byte: no segment is fragmented -> no fold, only the drop
    v = compact_append_snapshot(spark, d, target_file_bytes=1)
    assert v == pre["version"] + 1
    log = _read_log(_TableFS(d))
    assert log["segments"] == live  # dead dropped, survivor untouched
    assert not any(s.startswith("fold=") for s in log["segments"])
    assert not log.get("delete_counts")
    rows = sorted((r["id"], r["v"]) for r in read_append_snapshot(spark, d).df.collect())
    assert rows == [(i, 2 * i + 1) for i in range(100)]
    # and with nothing dead nor fragmented, compaction is a no-op again
    assert compact_append_snapshot(spark, d, target_file_bytes=1) is None


def test_compaction_dead_drop_preserves_time_travel(spark, tmp_path):
    d = str(tmp_path / "cmp_tt")
    append_snapshot(Frame(_base_df(spark), ()), d, batch_id=0)
    _tombstone_first_segment(spark, d)
    compact_append_snapshot(spark, d, target_file_bytes=1)
    # pre-merge version still reads the original rows (files intact
    # until vacuum)
    old = sorted(
        (r["id"], r["v"])
        for r in read_append_snapshot(spark, d, version=1).df.collect()
    )
    assert old == [(i, 2 * i) for i in range(100)]


def test_compaction_dead_drop_with_sketch_spec(spark, tmp_path):
    # sketch sidecars: a fold containing a count-carrying segment must
    # re-sketch from the written fold, not arithmetically sum the dead
    # segment's sidecar rows
    from cuplyr_spark.sources.connectors import table_stats

    d = str(tmp_path / "cmp_sketch")
    append_snapshot(
        Frame(_base_df(spark), ()), d, batch_id=0,
        sketch_spec={"distinct": ["g"], "histogram": {}, "bloom": {}},
    )
    _tombstone_first_segment(spark, d)
    compact_append_snapshot(spark, d)
    log = _read_log(_TableFS(d))
    assert not log.get("delete_counts")
    row = table_stats(spark, d).df.first().asDict()
    # rows are EXACT from the sidecar: the dead segment's 100 rows
    # must not be double counted into the fold's sketch
    assert row["rows"] == 100


# -- IVF: library-owned index layout + staged-path query source -------------


def test_ivf_index_write_file_count(spark, tmp_path):
    # the layout rule lives in the library now: a T-task build must
    # land ~n_cells data files, not T x n_cells (505 measured at sf0.1
    # before the rule)
    import glob
    import os

    from cuplyr_spark.pipeline.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_index_write,
    )
    from cuplyr_spark.sources.readers import read_parquet

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    emb = Frame(emb.df.repartition(16), ())  # force a many-task build
    cents = ivf_centroids(emb, n_cells=8, refine_iters=0)
    d = str(tmp_path / "ivf_idx")
    ivf_index_write(ivf_index(emb, centroids=cents), d)
    files = glob.glob(os.path.join(d, "cell=*", "*.parquet"))
    cells = glob.glob(os.path.join(d, "cell=*"))
    assert len(files) <= len(cells) + 2  # ~one file per cell
    # and a naive unclustered write of the same index explodes
    naive = str(tmp_path / "ivf_naive")
    ivf_index(emb, centroids=cents).df.write.partitionBy("cell").parquet(naive)
    naive_files = glob.glob(os.path.join(naive, "cell=*", "*.parquet"))
    assert len(naive_files) > 2 * len(files)


def test_ivf_staged_query_source_contract(spark, tmp_path):
    # staged search takes QUERY vectors from corpus= (same-corpus
    # precondition); passing the index read-back as corpus= recovers
    # the as-indexed vectors when probing a stale index
    from cuplyr_spark.pipeline.similarity import (
        ivf_centroids,
        ivf_cosine_topk,
        ivf_index,
        ivf_index_write,
    )
    from cuplyr_spark.sources.readers import read_parquet

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=8, refine_iters=0)
    d = str(tmp_path / "stale_idx")
    ivf_index_write(ivf_index(emb, centroids=cents), d)
    idx = Frame(spark.read.parquet(d), ())

    # the corpus moves on: every vector doubled (same direction, so
    # cosine scores vs unit-normalized neighbors are unchanged ONLY if
    # cosine normalizes; perturb one query vector's direction instead)
    moved = Frame(
        emb.df.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == 0,
                F.reverse(F.col("embedding")),
            ).otherwise(F.col("embedding")),
        ),
        (),
    )
    fresh = ivf_cosine_topk(
        emb, k=3, n_probe=3, query_filter="vec_id < 3",
        centroids=cents, index=idx,
    ).collect()
    stale_new_q = ivf_cosine_topk(
        moved, k=3, n_probe=3, query_filter="vec_id < 3",
        centroids=cents, index=idx,
    ).collect()
    as_indexed = ivf_cosine_topk(
        idx, k=3, n_probe=3, query_filter="vec_id < 3",
        centroids=cents, index=idx,
    ).collect()

    def key(pdf):
        return sorted(map(tuple, pdf[["query_id", "neighbor_id", "score"]].values))

    # corpus=index recovers the as-indexed query vectors exactly
    assert key(as_indexed) == key(fresh)
    # a moved corpus queries with the NEW vectors (documented contract)
    assert key(stale_new_q) != key(fresh)


# -- decontamination: stage-once eval grams ---------------------------------


def test_flag_contaminated_hashed_staged_grams_identical(spark, tmp_path):
    from cuplyr_spark.pipeline.dedup import (
        benchmark_grams,
        flag_contaminated_hashed,
    )
    from cuplyr_spark.sources.readers import read_parquet

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 11 == 0")
    inline = flag_contaminated_hashed(docs, bench, ngram=4)
    gdir = str(tmp_path / "grams")
    benchmark_grams(bench, ngram=4).df.write.parquet(gdir)
    staged_frame = Frame(spark.read.parquet(gdir), ())
    staged = flag_contaminated_hashed(docs, ngram=4, grams=staged_frame)
    a = sorted(
        (r["doc_id"], r["contaminated"])
        for r in inline.df.select("doc_id", "contaminated").collect()
    )
    b = sorted(
        (r["doc_id"], r["contaminated"])
        for r in staged.df.select("doc_id", "contaminated").collect()
    )
    assert a == b and any(c for _, c in a)
    # plan shape: the staged sweep contains NO eval-side explode — the
    # only Generate left is the corpus shingle explode
    plan = staged.df._sc._jvm.PythonSQLUtils.explainString(
        staged.df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Generate") <= 2  # one corpus explode (+ reuse listing)
    with pytest.raises(ValueError):
        flag_contaminated_hashed(docs, bench, ngram=4, grams=staged_frame)
    with pytest.raises(ValueError):
        flag_contaminated_hashed(docs, ngram=4)


# -- overlapped append+refresh ----------------------------------------------


def _mk_view(spark, tmp_path, name):
    from cuplyr_spark.sources.views import (
        create_append_view,
        refresh_append_view,
    )

    base = str(tmp_path / f"{name}_base")
    view = str(tmp_path / f"{name}_view")
    df = _base_df(spark)
    append_snapshot(Frame(df, ()), base, batch_id=0)
    create_append_view(
        spark, base, view, "g",
        {"sum_v": ("sum", "v"), "n": ("count", None)},
    )
    refresh_append_view(spark, view)
    return base, view


def _view_rows(spark, view):
    from cuplyr_spark.sources.views import read_append_view

    return sorted(
        map(tuple, read_append_view(spark, view).df.collect())
    )


def test_append_refresh_matches_sequential(spark, tmp_path):
    from cuplyr_spark.sources.views import (
        append_refresh,
        append_view_status,
        refresh_append_view,
    )

    base_a, view_a = _mk_view(spark, tmp_path, "ar_seq")
    base_b, view_b = _mk_view(spark, tmp_path, "ar_ovl")
    for i in range(1, 4):
        batch = _base_df(spark).filter(f"id % 7 == {i}")
        append_snapshot(Frame(batch, ()), base_a, batch_id=i)
        refresh_append_view(spark, view_a)
        v = append_refresh(spark, view_b, Frame(batch, ()), batch_id=i)
        assert v == i + 1
    assert _view_rows(spark, view_a) == _view_rows(spark, view_b)
    st = append_view_status(spark, view_b)
    assert st["base_version"] == st["refreshed_base_version"] == 4
    assert st["lag_versions"] == 0


def test_append_refresh_first_refresh_falls_back(spark, tmp_path):
    from cuplyr_spark.sources.views import append_refresh, create_append_view

    base = str(tmp_path / "ar_first_base")
    view = str(tmp_path / "ar_first_view")
    df = _base_df(spark)
    append_snapshot(Frame(df, ()), base, batch_id=0)
    create_append_view(
        spark, base, view, "g", {"sum_v": ("sum", "v")}
    )
    # never refreshed: must take the sequential path and still land
    v = append_refresh(spark, view, Frame(df.filter("id < 10"), ()), batch_id=1)
    assert v == 2
    rows = dict(_view_rows(spark, view))
    assert rows[0] == 2 * (0 + 10 + 20 + 30 + 40 + 50 + 60 + 70 + 80 + 90) + 0  # g=0: base + batch id=0


def test_append_refresh_batch_replay_is_noop(spark, tmp_path):
    from cuplyr_spark.sources.views import append_refresh

    base, view = _mk_view(spark, tmp_path, "ar_replay")
    batch = Frame(_base_df(spark).filter("id % 9 == 1"), ())
    append_refresh(spark, view, batch, batch_id=1)
    before = _view_rows(spark, view)
    # exactly-once: replaying the same batch_id appends nothing and
    # the view stays put
    append_refresh(spark, view, batch, batch_id=1)
    assert _view_rows(spark, view) == before


def test_append_refresh_append_error_leaves_view_intact(
    spark, tmp_path, monkeypatch
):
    import cuplyr_spark.sources.views as V
    from cuplyr_spark.sources.views import append_refresh

    base, view = _mk_view(spark, tmp_path, "ar_err")
    before = _view_rows(spark, view)

    def boom(*a, **k):
        raise RuntimeError("append failed")

    monkeypatch.setattr(V, "append_snapshot", boom)
    with pytest.raises(RuntimeError, match="append failed"):
        append_refresh(
            spark, view, Frame(_base_df(spark).limit(5), ()), batch_id=9
        )
    assert _view_rows(spark, view) == before  # state untouched
