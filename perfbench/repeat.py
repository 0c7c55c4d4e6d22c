"""Run the benchmark once per seed and summarise each end-to-end metric
as median, quartiles and spread (inter-quartile distance over the
median), the figures a change is judged by.

    python3 perfbench/repeat.py --workload analytic --seeds 1-10 --out runs.jsonl [--trace 1]

Runs are sequential; each appends one JSON line (seed, wall time, the
result line and the report lines) to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        with open(args.out, "a", encoding="utf-8") as f:
            f.write(json.dumps({
                "workload": args.workload, "seed": seed, "wall_s": time.time() - t0,
                "rc": proc.returncode, "result": result, "report": lines[:-1],
            }) + "\n")
        if result is None:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {time.time() - t0:.0f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vals in values.items():
        s = summarise(vals)
        bound = f" bound {bounds[name]}" if name in bounds else ""
        print(f"{name}: median {s['median']:.4f} q1 {s['q1']:.4f} q3 {s['q3']:.4f} "
              f"spread {s['spread']:.4f}{bound}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
