"""Crash/race stress for the delta-form log's checkpoint machinery
(round 14 — the r13 rewrite's missing real-process evidence).

Three phases, each with REAL processes (own Python + JVM) and real
SIGKILL-equivalent deaths (``os._exit`` inside the write path — the
file state left behind is exactly what a kill -9 leaves):

1. **kill mid-checkpoint**: a writer dies INSIDE the cadence
   ``_write_checkpoint`` call — half the checkpoint bytes are in the
   tmp file, the final name never links. PASS = the cadence COMMIT is
   visible (the checkpoint is derived data written after the record),
   reads stay exact across the hole, and the next cadence heals it.
2. **kill mid-pointer**: a writer dies after exclusive-creating
   ``_LOG.<n>`` but before the pointer swap. PASS = readers see
   version n anyway (pointer-first + forward probing), and the next
   writer's publish heals the pointer file itself.
3. **racing maintainers**: TWO vacuum loops race each other (and a
   live appender) — retention-fold checkpoint writes arbitrate via
   exclusive-create, sweeps race reads. PASS = every appended row
   present exactly once at the end, every retained log version still
   reconstructs.

Usage: python scripts/stress_checkpoint_crash.py [phase1|phase2|phase3|all]

Results recorded in BENCH_REFERENCE.md ("Checkpoint crash/race
stress").
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:  # spawn'd workers re-import this module bare
    sys.path.insert(0, REPO)

ROWS = 20


def _session(tag):
    from cuplyr_spark.session import get_session

    return get_session(app_name=f"ckstress_{tag}", cpus=2,
                       shuffle_partitions=2)


def _append(spark, table, b, app="w0"):
    import pandas as pd

    from cuplyr_spark import from_pandas
    from cuplyr_spark.sources.connectors import append_snapshot

    pdf = pd.DataFrame({"b": [b] * ROWS, "i": range(ROWS)})
    append_snapshot(from_pandas(spark, pdf), table, batch_id=b, app_id=app)


def crash_checkpoint_worker(table):
    """Dies inside the v10 cadence checkpoint write, tmp half-written."""
    import cuplyr_spark.sources.connectors as C

    spark = _session("ck")
    orig = C._TableFS.write_text_exclusive

    def killer(self, name, text, tmp_suffix):
        if name.startswith("_CHECKPOINT."):
            with open(self.join(name) + tmp_suffix, "w") as f:
                f.write(text[: len(text) // 2])  # torn tmp, no link
            os._exit(9)
        return orig(self, name, text, tmp_suffix)

    C._TableFS.write_text_exclusive = killer
    for b in range(50):
        _append(spark, table, b)
    os._exit(7)  # never reached: cadence v10 kills first


def crash_pointer_worker(table):
    """Dies after the _LOG.6 commit record, before the pointer swap."""
    import cuplyr_spark.sources.connectors as C

    orig = C._advance_ptr

    def killer(fs, n):
        if n >= 6:
            os._exit(9)
        return orig(fs, n)

    C._advance_ptr = killer
    spark = _session("ptr")
    for b in range(50):
        _append(spark, table, b)
    os._exit(7)


def appender_worker(table, k, out):
    spark = _session("app")
    t0 = time.time()
    for b in range(k):
        _append(spark, table, b, app="w0")
    out.put(("ok", "appender", time.time() - t0))


def maintainer_worker(table, wid, k, out):
    from cuplyr_spark import ConcurrentWriteError
    from cuplyr_spark.sources.connectors import (
        _log_watermarks,
        _read_log,
        _TableFS,
        vacuum_append_snapshot,
    )

    spark = _session(f"m{wid}")
    t0 = time.time()
    swept = skipped = 0
    while time.time() - t0 < 240:
        try:
            vacuum_append_snapshot(table, keep_last=4, spark=spark)
            swept += 1
            wms = _log_watermarks(_read_log(_TableFS(table, spark)))
            if wms.get("w0") == k - 1:
                break
        except (ConcurrentWriteError, FileNotFoundError):
            skipped += 1  # rival maintainer swept under us: next round
        time.sleep(0.1)
    out.put(("ok", f"maint{wid}", time.time() - t0, swept, skipped))


def _spawn(target, args):
    ctx = mp.get_context("spawn")
    p = ctx.Process(target=target, args=args)
    p.start()
    return p


def phase1():
    table = tempfile.mkdtemp(prefix="ckcrash1_") + "/t"
    p = _spawn(crash_checkpoint_worker, (table,))
    p.join(600)
    assert p.exitcode == 9, p.exitcode
    import cuplyr_spark.sources.connectors as C
    from cuplyr_spark.sources.connectors import read_append_snapshot

    spark = _session("check1")
    fs = C._TableFS(table)
    # the cadence commit is durable; the checkpoint is not — and that
    # must cost nothing but a slightly longer walk
    assert fs.read_text("_CHECKPOINT.10") is None
    assert fs.read_text("_LOG.10") is not None
    log = C._read_log(fs)
    assert log["version"] == 10, log["version"]
    n = read_append_snapshot(spark, table).df.count()
    assert n == 10 * ROWS, n
    # a healthy writer heals at the next cadence
    for b in range(10, 20):
        _append(spark, table, b)
    assert fs.read_text("_CHECKPOINT.20") is not None
    C._LOG_STATE_CACHE.clear()  # cold reconstruction across the hole
    log = C._read_log(fs)
    assert log["version"] == 20
    n = read_append_snapshot(spark, table).df.count()
    assert n == 20 * ROWS, n
    shutil.rmtree(os.path.dirname(table), ignore_errors=True)
    return {"phase": "kill_mid_checkpoint", "committed_version": 10,
            "rows_after_crash": 10 * ROWS, "healed_version": 20,
            "rows_after_heal": 20 * ROWS, "pass": True}


def phase2():
    table = tempfile.mkdtemp(prefix="ckcrash2_") + "/t"
    p = _spawn(crash_pointer_worker, (table,))
    p.join(600)
    assert p.exitcode == 9, p.exitcode
    import cuplyr_spark.sources.connectors as C
    from cuplyr_spark.sources.connectors import read_append_snapshot

    spark = _session("check2")
    fs = C._TableFS(table)
    assert fs.read_text("_LOG.6") is not None
    ptr_before = int(fs.read_text(C._LOG_PTR).strip())
    assert ptr_before == 5, ptr_before  # stale: the crash point
    # readers see v6 regardless (forward probe from the pointer)
    log = C._read_log(fs)
    assert log["version"] == 6, log["version"]
    n = read_append_snapshot(spark, table).df.count()
    assert n == 6 * ROWS, n
    # the next publish heals the pointer file itself
    _append(spark, table, 6)
    ptr_after = int(fs.read_text(C._LOG_PTR).strip())
    assert ptr_after == 7, ptr_after
    n = read_append_snapshot(spark, table).df.count()
    assert n == 7 * ROWS, n
    shutil.rmtree(os.path.dirname(table), ignore_errors=True)
    return {"phase": "kill_mid_pointer", "stale_ptr": ptr_before,
            "visible_version": 6, "healed_ptr": ptr_after, "pass": True}


def phase3():
    k = 24
    table = tempfile.mkdtemp(prefix="ckcrash3_") + "/t"
    ctx = mp.get_context("spawn")
    out = ctx.Queue()
    procs = [
        ctx.Process(target=appender_worker, args=(table, k, out)),
        ctx.Process(target=maintainer_worker, args=(table, 1, k, out)),
        ctx.Process(target=maintainer_worker, args=(table, 2, k, out)),
    ]
    t0 = time.time()
    for p in procs:
        p.start()
    for p in procs:
        p.join(600)
    results = [out.get(timeout=60) for _ in procs]
    wall = time.time() - t0
    assert all(r[0] == "ok" for r in results), results

    import cuplyr_spark.sources.connectors as C
    from cuplyr_spark.sources.connectors import read_append_snapshot

    spark = _session("check3")
    fs = C._TableFS(table)
    df = read_append_snapshot(spark, table).df
    per = {
        r["b"]: r["n"]
        for r in df.groupBy("b").count().withColumnRenamed("count", "n")
        .collect()
    }
    bad = {b: c for b, c in per.items() if c != ROWS}
    total = df.count()
    # every retained version still reconstructs (no sweep broke a chain)
    versions = sorted(
        int(name[5:]) for name in fs.listdir()
        if name.startswith("_LOG.") and name[5:].isdigit()
    )
    C._LOG_STATE_CACHE.clear()
    for v in versions:
        st = C._reconstruct_log(fs, v)
        assert st["version"] == v
    maints = [r for r in results if str(r[1]).startswith("maint")]
    ok = total == k * ROWS and not bad and len(versions) >= 1
    shutil.rmtree(os.path.dirname(table), ignore_errors=True)
    return {"phase": "racing_maintainers", "rows": total,
            "expected": k * ROWS, "bad_batches": len(bad),
            "retained_versions": len(versions),
            "vacuums": sum(r[3] for r in maints),
            "vacuum_skips": sum(r[4] for r in maints),
            "wall_s": round(wall, 1), "pass": ok}


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    phases = {"phase1": phase1, "phase2": phase2, "phase3": phase3}
    todo = list(phases.values()) if which == "all" else [phases[which]]
    ok = True
    for fn in todo:
        res = fn()
        ok = ok and res["pass"]
        print(json.dumps(res), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
