"""The closed-loop, single-client workloads.

Each workload owns its inputs (made from the seed by ``prepare``), a
timed set-up step, a warm-up pass that also checks every op's output,
the seeded op sequence of each measured pass and the ops themselves.
Calls into the program go through its public entry points only:
``__spark_entry__.queries()`` builders, ``Frame`` verbs and the
``sources.connectors`` / ``sources.views`` functions.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen


class Workload:
    name = ""
    ops: list[str] = []
    nominal_pass_s = 10.0  # one pass on a 4-core host; sizes --seconds

    def __init__(self, seed: int, data_dir: str, scratch: str, tracer) -> None:
        self.seed, self.data_dir, self.scratch = seed, data_dir, scratch
        self.tracer = tracer
        self.failures: list[str] = []
        self.attempted = 0

    def pass_ops(self, pass_no: int) -> list[str]:
        ops = list(self.ops)
        random.Random(f"{self.seed}:{pass_no}").shuffle(ops)
        return ops

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")

    def begin_measure(self) -> None:
        """Called between the warm-up and the measured passes."""

    def finish(self, spark) -> None:
        """End-of-run checks."""

    def storage_counters(self) -> dict:
        return {}


class Analytic(Workload):
    """dplyr-style calls over TPC-H-ish tables held in the Spark
    columnar cache, plus a leg of LLM data-prep pipeline stages over a
    document corpus read from parquet on every call (corpora never fit
    the cache). One op = build the plan through the verb layer, then
    execute it to the noop sink: what a user pays per call."""

    name = "analytic"
    relational = [
        "group_summarise", "filter_select", "workflow_complete",
        "join_agg_pipeline", "arrange_topk", "window_topn_per_group",
        "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q18",
    ]
    # one stage from each pipeline module: text, dedup, similarity and
    # packing (the Arrow applyInPandas Python-worker boundary)
    pipeline = [
        "text_quality", "paragraph_dedup", "embedding_cosine_topk",
        "sequence_pack_greedy",
    ]
    ops = relational + pipeline
    cached_tables = ["lineitem", "orders", "customer", "supplier", "part", "nation", "region"]
    parquet_tables = ["documents", "embeddings"]
    tpch_sf = 0.02
    corpus_sf = 0.03

    def prepare(self) -> None:
        tables = datagen.tpch_tables(self.seed, self.tpch_sf)
        tables.update(datagen.corpus_tables(self.seed, self.corpus_sf))
        datagen.write_tables(tables, self.data_dir, 8)

    def _mode(self, op: str) -> str:
        """Span prefix; also switches the entry module's table cache,
        which it reads per call, on for relational ops only."""
        if op in self.pipeline:
            os.environ.pop("CUPLYR_BENCH_CACHED", None)
            return "pipeline"
        os.environ["CUPLYR_BENCH_CACHED"] = "1"
        return "analytic"

    def setup(self, spark, entry) -> None:
        self.entry = entry
        self.queries = entry.queries()
        os.environ["CUPLYR_BENCH_CACHED"] = "1"
        entry._TABLE_CACHE.clear()
        for table in self.cached_tables:
            entry._t(spark, self.data_dir, table)
        os.environ.pop("CUPLYR_BENCH_CACHED", None)
        for table in self.parquet_tables:
            entry._t(spark, self.data_dir, table).df.count()

    def teardown_setup(self, spark) -> None:
        for frame in self.entry._TABLE_CACHE.values():
            frame.df.unpersist()
        self.entry._TABLE_CACHE.clear()

    def warm_and_check(self, spark) -> None:
        """Two warm-up passes. The first builds each op's plan, collects
        its result and checks it against the DuckDB twin, which a helper
        thread computes meanwhile. The second runs the ops as measured:
        right after one pass, plan building and execution still take a
        tenth more wall time and a quarter more CPU time than after two,
        and vary with it (the JVM is still compiling what they call)."""
        from concurrent.futures import ThreadPoolExecutor

        ops = self.pass_ops(-1)
        oracles = self.entry.oracle_sql()
        con = checks.duck_for(self.data_dir)
        try:
            with ThreadPoolExecutor(max_workers=1) as pool:
                wants = [pool.submit(lambda q: con.execute(q).fetchdf(), oracles[op])
                         for op in ops]
                for op, want in zip(ops, wants):
                    self.attempted += 1
                    try:
                        self._mode(op)
                        got = self.queries[op](spark, self.data_dir).toPandas()
                        diff = checks.compare(got, want.result())
                    except Exception as e:  # counted, reported, run continues
                        diff = f"{type(e).__name__}: {str(e)[:200]}"
                    if diff:
                        self.fail(op, diff)
        finally:
            con.close()
        for op in self.pass_ops(-2):
            self.run_op(spark, op)

    def run_op(self, spark, op: str) -> None:
        tr = self.tracer
        name = f"{self._mode(op)}.{op}"
        with tr.span(name, "op"):
            with tr.span(f"{name}.build", "build"):
                df = self.queries[op](spark, self.data_dir)
            with tr.span(f"{name}.exec", "exec"):
                df.write.format("noop").mode("overwrite").save()


class Ingest(Workload):
    """Writes beside reads on one append table plus its aggregate view.

    The benchmark replays every seeded op on a numpy model of the table
    (key -> cents) and checks each read, the view and the final table
    against it."""

    name = "ingest"
    ops = ["append_refresh", "upsert", "delete", "refresh", "read_probe",
           "read_view", "compact", "vacuum"]
    base_rows = 150_000
    batch_rows = 20_000
    upsert_rows = 2_000
    delete_width = 1_500
    probe_width = 5_000
    appends_per_cycle = 4
    buckets = 64
    nominal_pass_s = 7.0

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.rng = np.random.default_rng([self.seed, 3])
        self.alive = np.zeros(0, bool)
        self.cents = np.zeros(0, np.int64)
        self.batch_no = 0
        self.seen: set[tuple[str, int]] = set()
        self.created_bytes = 0
        self.user_tables: list[pa.Table] = []
        self.probe_files: list[tuple[int, int]] = []
        self.cycle_files = {"files": 0, "bytes": 0, "log": 0, "dv": 0, "ckpt": 0}

    # -- inputs ------------------------------------------------------------
    def _rows(self, keys: np.ndarray, cents: np.ndarray) -> pa.Table:
        return pa.table({
            "k": keys.astype(np.int64),
            "bucket": (keys % self.buckets).astype(np.int64),
            "cents": cents.astype(np.int64),
        })

    def _land(self, table: pa.Table, name: str) -> str:
        path = os.path.join(self.scratch, "landing", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        return path

    def prepare(self) -> None:
        keys = np.arange(self.base_rows)
        cents = self.rng.integers(100_000, 50_000_001, self.base_rows)
        os.makedirs(self.data_dir, exist_ok=True)
        pq.write_table(self._rows(keys, cents), os.path.join(self.data_dir, "base.parquet"))
        self.alive = np.ones(self.base_rows, bool)
        self.cents = cents.astype(np.int64)

    def _grow(self, n: int) -> None:
        if n > len(self.alive):
            extra = n - len(self.alive)
            self.alive = np.concatenate([self.alive, np.zeros(extra, bool)])
            self.cents = np.concatenate([self.cents, np.zeros(extra, np.int64)])

    # -- set-up ------------------------------------------------------------
    def setup(self, spark, entry) -> None:
        from cuplyr_spark.frame import Frame
        from cuplyr_spark.sources.connectors import append_snapshot
        from cuplyr_spark.sources.views import create_append_view

        self.rep = getattr(self, "rep", -1) + 1
        self.base_dir = os.path.join(self.scratch, "tables", f"r{self.rep}", "base")
        self.view_dir = os.path.join(self.scratch, "tables", f"r{self.rep}", "view")
        src = spark.read.parquet(os.path.join(self.data_dir, "base.parquet"))
        append_snapshot(Frame(src, ()), self.base_dir, batch_id=0)
        create_append_view(
            spark, self.base_dir, self.view_dir, "bucket",
            {"sum_cents": ("sum", "cents"), "n": ("count", None)},
        )

    def teardown_setup(self, spark) -> None:
        shutil.rmtree(os.path.join(self.scratch, "tables", f"r{self.rep}"))

    def warm_and_check(self, spark) -> None:
        # one full cycle warms up the JVM (a second one did not make
        # the measured cycle steadier); its reads are checked like the
        # measured ones
        for op in self.pass_ops(-1):
            self.attempted += 1
            self.run_op(spark, op)

    # -- the loop ----------------------------------------------------------
    def pass_ops(self, pass_no: int) -> list[str]:
        # Only the reads are shuffled: an upsert after a delete reads
        # through the new deletion vectors and costs half as much again,
        # so a seeded mutation order would make the cycle's cost depend
        # on the seed.
        reads = ["read_probe", "read_view"]
        random.Random(f"{self.seed}:{pass_no}").shuffle(reads)
        return (["append_refresh"] * self.appends_per_cycle + ["upsert", "delete", "refresh"]
                + reads + ["compact", "vacuum"])

    def run_op(self, spark, op: str) -> None:
        from cuplyr_spark import agg as A
        from cuplyr_spark.frame import Frame
        from cuplyr_spark.sources import connectors as C
        from cuplyr_spark.sources import views as V

        tr, rng = self.tracer, self.rng
        top = len(self.alive)
        if op == "append_refresh":
            keys = top + rng.permutation(self.batch_rows)
            cents = rng.integers(100, 1_000_001, self.batch_rows)
            table = self._rows(keys, cents)
            df = spark.read.parquet(self._land(table, f"b{self.batch_no}"))
            self.batch_no += 1
            with tr.span("storage.append_refresh", "op"):
                with tr.span("storage.append_refresh.build", "build"):
                    batch = Frame(df, ())
                with tr.span("storage.append_refresh.call", "exec"):
                    V.append_refresh(spark, self.view_dir, batch, batch_id=self.batch_no)
            self._grow(top + self.batch_rows)
            self.alive[keys], self.cents[keys] = True, cents
            self.user_tables.append(table)
        elif op == "upsert":
            live = np.flatnonzero(self.alive)
            keys = rng.choice(live, self.upsert_rows, replace=False)
            cents = rng.integers(100, 1_000_001, self.upsert_rows)
            table = self._rows(keys, cents)
            df = spark.read.parquet(self._land(table, f"u{self.batch_no}"))
            self.batch_no += 1
            with tr.span("storage.upsert", "op"):
                with tr.span("storage.upsert.build", "build"):
                    batch = Frame(df, ())
                with tr.span("storage.upsert.call", "exec"):
                    C.upsert_append_rows(batch, self.base_dir, key="k")
            self.cents[keys] = cents
            self.user_tables.append(table)
        elif op == "delete":
            lo = self._range_in_batch(self.delete_width)
            hi = lo + self.delete_width
            with tr.span("storage.delete", "op"):
                with tr.span("storage.delete.call", "exec"):
                    C.delete_append_rows(
                        spark, self.base_dir, where={"k": [(">=", lo), ("<", hi)]}
                    )
            self.alive[lo:hi] = False
        elif op == "refresh":
            with tr.span("storage.refresh", "op"):
                with tr.span("storage.refresh.call", "exec"):
                    V.refresh_append_view(spark, self.view_dir)
        elif op == "read_probe":
            lo = self._range_in_batch(self.probe_width)
            hi = lo + self.probe_width
            with tr.span("storage.read_probe", "op"):
                scan = C.read_append_snapshot(
                    spark, self.base_dir, stats_filter={"k": [(">=", lo), ("<", hi)]}
                )
                with tr.span("storage.read_probe.build", "build"):
                    q = scan.summarise(n=A.n(), s=A.sum("cents"))
                with tr.span("storage.read_probe.exec", "exec"):
                    row = q.df.collect()[0]
            want_n = int(self.alive[lo:hi].sum())
            want_s = int(self.cents[lo:hi][self.alive[lo:hi]].sum())
            if (row["n"], row["s"] or 0) != (want_n, want_s):
                self.fail(op, f"probe [{lo},{hi}) gave {row['n']}/{row['s']}, want {want_n}/{want_s}")
            self.probe_files.append((len(scan.df.inputFiles()), self._live_files(spark)))
        elif op == "read_view":
            with tr.span("storage.read_view", "op"):
                view = V.read_append_view(spark, self.view_dir)
                with tr.span("storage.read_view.exec", "exec"):
                    got = view.df.toPandas()
            diff = checks.compare(got, self._want_view())
            if diff:
                self.fail(op, diff)
        elif op == "compact":
            with tr.span("storage.compact", "op"):
                with tr.span("storage.compact.call", "exec"):
                    C.compact_append_snapshot(spark, self.base_dir)
        elif op == "vacuum":
            with tr.span("storage.vacuum", "op"):
                with tr.span("storage.vacuum.call", "exec"):
                    C.vacuum_append_snapshot(self.base_dir, keep_last=2, spark=spark)
        else:
            raise ValueError(op)
        self._scan_files()

    def _range_in_batch(self, width: int) -> int:
        """Start of a key range inside one of the last cycle's appended
        batches, so every seed's range touches one segment and the
        work per op does not vary with the seed."""
        first = len(self.alive) - self.appends_per_cycle * self.batch_rows
        batch = int(self.rng.integers(0, self.appends_per_cycle))
        return first + batch * self.batch_rows + int(
            self.rng.integers(0, self.batch_rows - width)
        )

    # -- checks and accounting ---------------------------------------------
    def _want_view(self):
        import pandas as pd

        keys = np.flatnonzero(self.alive)
        frame = pd.DataFrame({"bucket": keys % self.buckets, "c": self.cents[keys]})
        g = frame.groupby("bucket")["c"]
        return pd.DataFrame({
            "bucket": g.sum().index.astype(np.int64),
            "sum_cents": g.sum().to_numpy(np.int64),
            "n": g.count().to_numpy(np.int64),
        })

    def _live_files(self, spark) -> int:
        from cuplyr_spark.sources import connectors as C

        return len(C.read_append_snapshot(spark, self.base_dir).df.inputFiles())

    def _scan_files(self) -> None:
        for root in (self.base_dir, self.view_dir):
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    # a file replaced by rename (the log pointer) is new
                    if (p, st.st_ino) in self.seen:
                        continue
                    self.seen.add((p, st.st_ino))
                    size = st.st_size
                    self.created_bytes += size
                    c = self.cycle_files
                    c["files"] += 1
                    c["bytes"] += size
                    if "_delete" in p or "/dv=" in p:
                        c["dv"] += size
                    if f.startswith("_") and ("LOG" in f or "CHECKPOINT" in f.upper()):
                        c["log"] += size
                    if "CHECKPOINT" in f.upper():
                        c["ckpt"] += 1

    def begin_measure(self) -> None:
        self._scan_files()
        self.created_bytes = 0
        self.user_tables = []
        self.cycle_files = dict.fromkeys(self.cycle_files, 0)
        self.probe_files = []

    def finish(self, spark) -> None:
        import pandas as pd
        from cuplyr_spark.sources import connectors as C

        self.attempted += 2
        got = C.read_append_snapshot(spark, self.base_dir).df.toPandas()
        keys = np.flatnonzero(self.alive)
        want = pd.DataFrame({
            "k": keys.astype(np.int64),
            "bucket": (keys % self.buckets).astype(np.int64),
            "cents": self.cents[keys],
        })
        diff = checks.compare(got, want)
        if diff:
            self.fail("final_table", diff)
        view = checks.compare(
            C.read_append_snapshot(spark, self.base_dir).df.groupBy("bucket")
            .agg({"cents": "sum", "*": "count"})
            .withColumnRenamed("sum(cents)", "sum_cents")
            .withColumnRenamed("count(1)", "n").toPandas(),
            self._want_view(),
        )
        if view:
            self.fail("final_view", view)
        self.live_table = pa.Table.from_pandas(want, preserve_index=False)

    def _once_bytes(self, table: pa.Table, name: str) -> int:
        path = os.path.join(self.scratch, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        return os.path.getsize(path)

    def storage_counters(self) -> dict:
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for root in (self.base_dir, self.view_dir)
            for d, _, files in os.walk(root)
            for f in files
        )
        user = self._once_bytes(pa.concat_tables(self.user_tables), "user_once")
        live = self._once_bytes(self.live_table, "live_once")
        opened = [o for o, _ in self.probe_files]
        prune = [1 - o / n for o, n in self.probe_files if n]
        return {
            "write_amp": self.created_bytes / user,
            "space_amp": on_disk / live,
            "files_written": self.cycle_files["files"],
            "bytes_written": self.cycle_files["bytes"],
            "log_bytes": self.cycle_files["log"],
            "dv_bytes": self.cycle_files["dv"],
            "checkpoints": self.cycle_files["ckpt"],
            "live_files": self.probe_files[-1][1] if self.probe_files else 0,
            "read_files_opened": float(np.median(opened)) if opened else 0.0,
            "read_prune_frac": float(np.median(prune)) if prune else 0.0,
        }


WORKLOADS = {w.name: w for w in (Analytic, Ingest)}
