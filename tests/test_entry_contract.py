"""Driver-contract shape guard: every oracle has a query, every query
runs end-to-end at sf0.001, entry() produces rows with a stable
schema. (The value-level gate is scripts/check_contract.py at
sf0.01; this keeps the contract importable and runnable from pytest.)
"""

import sys
import threading
import time

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qs, oracles = em.queries(), em.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"
    # rows-only checks are allowed but should stay rare
    no_oracle = set(qs) - set(oracles)
    assert len(no_oracle) <= 2, f"too many rows-only queries: {no_oracle}"


def test_entry_runs(spark):
    rows = em.entry(spark).collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus", "n", "avg_qty", "total_revenue"} == set(
        em.entry(spark).columns
    )


@pytest.mark.parametrize("name", sorted(em.queries()))
def test_query_runs_at_sf0001(spark, name):
    df = em.queries()[name](spark, SF)
    assert df.columns, f"{name}: empty schema"
    df.limit(5).collect()  # end-to-end execution, bounded output


def test_bench_cache_hit_skips_the_read(spark, monkeypatch):
    """Cached bench mode (CUPLYR_BENCH_CACHED) reads a table's parquet
    on a cache miss only: a hit returns the cached frame without
    listing or opening the file, and still pins the session's
    arithmetic and time zone settings."""
    monkeypatch.setenv("CUPLYR_BENCH_CACHED", "1")
    monkeypatch.setattr(em, "_TABLE_CACHE", {})
    first = em._t(spark, SF, "nation")
    try:

        def no_read(*args, **kwargs):
            raise AssertionError("read_parquet called on a cache hit")

        monkeypatch.setattr(em, "read_parquet", no_read)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        assert em._t(spark, SF, "nation") is first
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        first.df.unpersist()


def test_bench_cache_racing_loads_share_one_frame(spark, monkeypatch):
    """Threads racing ``_t`` on one uncached key read the parquet once
    and all get the same cached Frame (the check-then-insert is held
    under the cache lock, not repeated per thread)."""
    monkeypatch.setenv("CUPLYR_BENCH_CACHED", "1")
    monkeypatch.setattr(em, "_TABLE_CACHE", {})
    real_read, reads = em.read_parquet, []

    def slow_read(*args, **kwargs):
        reads.append(1)
        time.sleep(0.2)  # widen the window between miss and insert
        return real_read(*args, **kwargs)

    monkeypatch.setattr(em, "read_parquet", slow_read)
    n = 6
    start, got = threading.Barrier(n), [None] * n

    def worker(i):
        start.wait()
        got[i] = em._t(spark, SF, "region")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert len(reads) == 1
        assert len(em._TABLE_CACHE) == 1
        cached = em._TABLE_CACHE[(SF, "region")]
        assert all(f is cached for f in got)
    finally:
        for f in {id(f): f for f in got if f is not None}.values():
            f.df.unpersist()
