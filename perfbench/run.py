"""Repo benchmark: one seeded, closed-loop, single-client workload per
run, end-to-end metrics by default and per-layer metrics with
``--trace 1``.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Every table, log and scratch file
lives under ``.perfbench_scratch/`` in the checkout and is deleted when
the run ends. Human-readable lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. See ``perfbench/README.md`` for the
metrics and the layer each one belongs to.
"""

from __future__ import annotations

import argparse
import os
import platform
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _host() -> dict:
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": os.cpu_count() or 1, "mem_mb": mem_kb // 1024}


def _configure_env(scratch: str, host: dict) -> None:
    """Everything the program writes stays under ``scratch``; Python
    workers can import the package; Spark uses every core and a heap
    sized to the host rather than the session's 32g default."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap_mb = max(1024, min(8192, host["mem_mb"] // 4))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "CUPLYR_SPARK_DRIVER_MEM": f"{heap_mb}m",
        "CUPLYR_SPARK_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp  # in case the default was read before TMPDIR was set


def _session(scratch: str, trace: bool):
    from cuplyr_spark.session import get_session

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if trace:
        logdir = os.path.join(scratch, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session(app_name="cuplyr_perfbench", extra_conf=conf)


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every live
    descendant (the JVM and its Python workers), including children
    they have already reaped, less the JVM's JIT compiler threads:
    compilation is warm-up work whose amount swings between identical
    runs (a third of a pass's CPU time right after warm-up)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo, tree = 0, [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            tree.append(pid)
        todo.extend(kids.get(pid, ()))
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm", encoding="utf-8") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks -= int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop Spark, then the JVM itself, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _rss_mb(jvm_pid: int) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def n_passes(workload, seconds: int) -> int:
    """Runs are work-bound so every commit does the same work: the pass
    count is fixed by --seconds and the workload's nominal pass time on
    a 4-core host."""
    return max(1, round(seconds / workload.nominal_pass_s))


def measure(args, scratch: str) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import spans as tr
    from workloads import WORKLOADS

    host = _host()
    counter = tr.Py4jCounter() if args.trace else None
    tracer = tr.Tracer(counter)
    data_dir = os.path.join(scratch, "data")
    wl = WORKLOADS[args.workload](args.seed, data_dir, scratch, tracer)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    wl.prepare()
    phase("prepare")

    # set-up, several times; the median is reported
    import __spark_entry__ as entry

    setups, starts, loads, spark = [], [], [], None
    for rep in range(SETUP_REPS):
        if spark is not None:
            wl.teardown_setup(spark)
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(scratch, args.trace)
        t1 = time.perf_counter()
        wl.setup(spark, entry)
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        starts.append(t1 - t0)
        loads.append(t2 - t1)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    if counter:
        counter.install(spark)
    phase("setup")

    wl.warm_and_check(spark)
    phase("check")
    wl.begin_measure()

    passes = n_passes(wl, args.seconds)
    tracer.cpu_probe = lambda: tree_cpu_s(os.getpid())
    for p in range(passes):
        tracer.pass_no = p
        for op in wl.pass_ops(p):
            try:
                wl.run_op(spark, op)
            except Exception as e:  # counted as a failure; the run goes on
                wl.fail(op, f"{type(e).__name__}: {str(e)[:200]}")
            wl.attempted += 1
    phase("loop")
    try:
        wl.finish(spark)
    except Exception as e:  # counted as a failure, like an op's
        wl.fail("finish", f"{type(e).__name__}: {str(e)[:200]}")

    peak_rss = _rss_mb(jvm_pid)
    storage = wl.storage_counters()
    app_id = spark.sparkContext.applicationId
    if counter:
        counter.uninstall()
    _stop(spark)
    phase("finish")

    ops = [sp for sp in tracer.spans if sp.kind == "op" and sp.parent is None
           and sp.pass_no >= 0 and sp.t1 > 0]
    pass_s = [sum(sp.s for sp in ops if sp.pass_no == p) for p in range(passes)]
    pass_cpu = [sum(sp.work_cpu for sp in ops if sp.pass_no == p) for p in range(passes)]
    op_s = [sp.s for sp in ops]
    out = {
        "host": {**host, "pyspark": _pyspark_version(), "python": platform.python_version()},
        "workload": wl.name, "seed": args.seed, "passes": passes,
        "phases_s": phases,
        "setup_s": statistics.median(setups),
        "setup_runs_s": setups,
        "pass_s": pass_s,
        "pass_cpu_s": pass_cpu,
        "op_s": op_s,
        "peak_rss_mb": peak_rss,
        "session_start_s": statistics.median(starts),
        "session_load_s": statistics.median(loads),
        "failures": wl.failures,
        "attempted": wl.attempted,
        "storage": storage,
        "by_op": _by_op(ops),
    }
    if args.trace:
        log = os.path.join(scratch, "eventlog", app_id)
        out["layers"] = _layers(tr, tracer, log, passes, out)
    return out


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


def _by_op(ops) -> dict:
    names = sorted({sp.name for sp in ops})
    return {
        n: {
            "n": len([sp for sp in ops if sp.name == n]),
            "p50_s": statistics.median(sp.s for sp in ops if sp.name == n),
            "samples_s": [sp.s for sp in ops if sp.name == n],
        }
        for n in names
    }


def _layers(tr, tracer, log: str, passes: int, out: dict) -> dict:
    """Per-layer metrics of the measured passes, per pass."""
    jobs, stages = tr.read_event_log(log)
    spans = tracer.spans
    idx = {i for i, sp in enumerate(spans) if sp.pass_no >= 0}
    ops = [i for i in idx if spans[i].kind == "op" and spans[i].parent is None]
    builds = [i for i in idx if spans[i].kind == "build"]
    execs = [i for i in idx if spans[i].kind == "exec"]
    allj = tr.fold(jobs, stages, spans, ops)
    exj = tr.fold(jobs, stages, spans, execs)
    exec_s = sum(spans[i].s for i in execs)
    per = 1.0 / passes
    m = {
        "session.start_s": out["session_start_s"],
        "session.cache_s": out["session_load_s"],
        "frame.build_s": sum(spans[i].s for i in builds) * per,
        "frame.build_py_cpu_s": sum(spans[i].cpu1 - spans[i].cpu0 for i in builds) * per,
        "frame.py4j_calls": sum(spans[i].calls1 - spans[i].calls0 for i in builds) * per,
        "spark.jobs": allj["jobs"] * per,
        "spark.jobs_cancelled": allj["jobs_cancelled"] * per,
        "spark.stages": allj["stages"] * per,
        "spark.tasks": allj["tasks"] * per,
        "spark.exec_s": exec_s * per,
        "spark.job_s": exj["job_s"] * per,
        "spark.driver_gap_s": (exec_s - exj["job_s"]) * per,
        "spark.executor_run_s": allj["executor_run_s"] * per,
        "spark.executor_cpu_s": allj["executor_cpu_s"] * per,
        "spark.cpu_frac": allj["executor_cpu_s"] / max(allj["executor_run_s"], 1e-9),
        "spark.gc_s": allj["gc_s"] * per,
        "spark.shuffle_write_bytes": allj["shuffle_write_bytes"] * per,
        "spark.shuffle_read_bytes": allj["shuffle_read_bytes"] * per,
        "spark.fetch_wait_s": allj["fetch_wait_s"] * per,
        "spark.input_bytes": allj["input_bytes"] * per,
        "spark.output_bytes": allj["output_bytes"] * per,
        "spark.spill_bytes": allj["spill_bytes"] * per,
        "spark.task_skew": allj["task_skew"],
        "spark.py4j_calls_exec": sum(spans[i].calls1 - spans[i].calls0 for i in execs) * per,
        "trace.pass_s.p50": statistics.median(out["pass_s"]),
    }
    st = out["storage"]
    for key in ("files_written", "bytes_written", "log_bytes", "dv_bytes", "checkpoints"):
        m[f"storage.{key}"] = st.get(key, 0) * per
    for key in ("live_files", "read_files_opened", "read_prune_frac", "write_amp", "space_amp"):
        m[f"storage.{key}"] = st.get(key, 0)
    per_op = {}
    for name in sorted({spans[i].name for i in ops}):
        mine = [i for i in ops if spans[i].name == name]
        f = tr.fold(jobs, stages, spans, mine)
        n = len(mine)
        per_op[name] = {
            "s": statistics.median(spans[i].s for i in mine),
            "self_s": statistics.median(tr.self_s(spans, i) for i in mine),
            "py_cpu_s": sum(spans[i].cpu1 - spans[i].cpu0 for i in mine) / n,
            "jobs": f["jobs"] / n,
            "executor_cpu_s": f["executor_cpu_s"] / n,
            "shuffle_bytes": f["shuffle_write_bytes"] / n,
        }
    return {"metrics": m, "per_op": per_op}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytic", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("cuplyr_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    # turn a termination request into SystemExit, so the scratch dir is
    # still removed and the JVM sees its parent go
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench_scratch", str(os.getpid()))
    os.makedirs(scratch)
    _configure_env(scratch, _host())
    try:
        res = measure(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    import report

    report.emit(res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
