"""End-to-end wide-write rehearsal: append_snapshot at N_ROWS x
N_COLS, stats on vs off — the criterion is stats-on <= ~2x bare.

Usage: python scripts/exp_wide_write.py [N_ROWS] [N_COLS] [REPS]
(cores: $SPARK_GRAFT_CPUS, default every core of the host)."""
import os, shutil, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from cuplyr_spark.session import get_session

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_COLS = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
spark = get_session(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())))
from pyspark.sql import functions as F
from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import append_snapshot

SRC = f"/tmp/exp_wide_stats_src_{N_ROWS}_{N_COLS}"
if not os.path.exists(SRC):
    df = spark.range(N_ROWS)
    cols = [F.col("id")]
    for i in range(N_COLS):
        if i % 10 < 4: cols.append((F.col("id") * 1.7 + i).alias(f"d{i}"))
        elif i % 10 < 7: cols.append((F.col("id") * 3 + i).alias(f"l{i}"))
        elif i % 50 == 7: cols.append(F.concat(F.lit("cat"), (F.col("id") % 7).cast("string")).alias(f"s{i}"))
        else: cols.append(F.concat(F.lit("val"), (F.col("id") * 13 + i).cast("string")).alias(f"s{i}"))
    df.select(cols).write.mode("overwrite").parquet(SRC)

def run(tag, collect_stats):
    ts = []
    for _ in range(REPS):
        d = "/tmp/exp_wide_write_t"
        shutil.rmtree(d, ignore_errors=True)
        src = spark.read.parquet(SRC)
        t0 = time.time()
        append_snapshot(Frame(src, ()), d, batch_id=0, collect_stats=collect_stats)
        ts.append(time.time() - t0)
    ts.sort()
    print(f"{tag}: median {ts[len(ts)//2]:.2f}s all={[f'{t:.2f}' for t in ts]}", flush=True)

run("bare (collect_stats=False)", False)
run("stats on", True)
