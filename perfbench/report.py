"""Metric names, units and the printed report.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares; every workload reports every name (a per-op or storage
counter reads 0 on a workload that never runs that op). Lines before
the last one are for people: they add the figures that only some
workloads have (per-op latencies, tails, write and space
amplification) and the host.
"""

from __future__ import annotations

import json
import statistics

from workloads import Analytic, Ingest

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s.p50": ("s", "lower"),
    "pass_cpu_s.p50": ("s", "lower"),
}

PER_LAYER = {
    "session.peak_rss_mb": ("MB", "lower"),
    "session.start_s": ("s", "lower"),
    "session.cache_s": ("s", "lower"),
    "frame.build_s": ("s", "lower"),
    "frame.build_py_cpu_s": ("s", "lower"),
    "frame.py4j_calls": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.jobs_cancelled": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.exec_s": ("s", "lower"),
    "spark.job_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.cpu_frac": ("frac", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.output_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_skew": ("x", "lower"),
    "spark.py4j_calls_exec": ("count", "lower"),
    "trace.pass_s.p50": ("s", "lower"),
    "storage.files_written": ("count", "lower"),
    "storage.bytes_written": ("bytes", "lower"),
    "storage.log_bytes": ("bytes", "lower"),
    "storage.dv_bytes": ("bytes", "lower"),
    "storage.checkpoints": ("count", "lower"),
    "storage.live_files": ("count", "lower"),
    "storage.read_files_opened": ("count", "lower"),
    "storage.read_prune_frac": ("frac", "higher"),
    "storage.write_amp": ("x", "lower"),
    "storage.space_amp": ("x", "lower"),
}
for _layer, _ops in (("pipeline", Analytic.pipeline), ("storage", Ingest.ops)):
    for _op in _ops:
        PER_LAYER[f"{_layer}.{_op}.jobs"] = ("count", "lower")
        PER_LAYER[f"{_layer}.{_op}.shuffle_bytes"] = ("bytes", "lower")


def tail(values: list[float]) -> tuple[float, int] | None:
    """The highest whole percentile with at least ten samples above it,
    as (value, percentile); None with fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return None
    pct = int(100 * (n - 10) / n)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": res["setup_s"],
        "pass_s.p50": statistics.median(res["pass_s"]),
        "pass_cpu_s.p50": statistics.median(res["pass_cpu_s"]),
    }


def per_layer(res: dict) -> dict:
    m = dict(res["layers"]["metrics"], **{"session.peak_rss_mb": res["peak_rss_mb"]})
    per_op = res["layers"]["per_op"]
    for name in PER_LAYER:
        if name.endswith((".jobs", ".shuffle_bytes")) and name.count(".") == 2:
            op, key = name.rsplit(".", 1)
            m[name] = per_op.get(op, {}).get(key, 0)
    return {k: m[k] for k in PER_LAYER}


def _fmt(x) -> str:
    return f"{x:.4f}" if isinstance(x, float) else str(x)


def emit(res: dict, traced: bool) -> None:
    wl = res["workload"]
    h = res["host"]
    print(f"# perfbench {wl} seed={res['seed']} passes={res['passes']} "
          f"nproc={h['nproc']} mem_mb={h['mem_mb']} pyspark={h['pyspark']} "
          f"python={h['python']}")
    print("phases " + ", ".join(f"{k} {v:.1f} s" for k, v in res["phases_s"].items()))
    print(f"setup_s {res['setup_s']:.4f} s (runs: "
          + ", ".join(f"{x:.3f}" for x in res["setup_runs_s"]) + ")")
    for name, vals in (("pass_s", res["pass_s"]), ("op_s", res["op_s"])):
        t = tail(vals)
        tail_txt = (f"{name}.tail {t[0]:.4f} s (p{t[1]}, n={len(vals)})" if t
                    else f"{name}.tail n/a (n={len(vals)} < 20)")
        print(f"{name}.p50 {statistics.median(vals):.4f} s (n={len(vals)}); {tail_txt}")
    print("pass_s " + ", ".join(f"{x:.3f}" for x in res["pass_s"])
          + " s; pass_cpu_s " + ", ".join(f"{x:.2f}" for x in res["pass_cpu_s"]) + " s")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    failed = len(res["failures"])
    print(f"fail_frac {failed / max(res['attempted'], 1):.4f} "
          f"({failed} of {res['attempted']} ops)")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    for op, d in res["by_op"].items():
        t = tail(d["samples_s"])
        extra = f", tail {t[0]:.4f} s (p{t[1]})" if t else ""
        print(f"  {op}_s.p50 {d['p50_s']:.4f} s (n={d['n']}{extra})")
    for k in ("write_amp", "space_amp"):
        if k in res["storage"]:
            print(f"{k} {res['storage'][k]:.4f} x")
    if traced:
        metrics = per_layer(res)
        units = PER_LAYER
        for k, v in res["layers"]["metrics"].items():
            if k not in PER_LAYER:
                print(f"{k} {_fmt(v)}")
        for op, d in res["layers"]["per_op"].items():
            print(f"  span {op}: " + ", ".join(f"{k}={_fmt(v)}" for k, v in d.items()))
    else:
        metrics = end_to_end(res)
        units = END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }))
