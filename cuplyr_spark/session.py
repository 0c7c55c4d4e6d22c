"""SparkSession bootstrap tuned for this engine.

Replaces the reference's GPU runtime probes (``has_gpu``/``gpu_details``,
cuplyr ``R/gpu.R:31-132``) with a properly configured SparkSession. The
defaults here are the scale-aware knobs the reference never needed
(single GPU, no shuffle): AQE on (runtime re-plan + skew-join handling),
shuffle partitions sized to cores in local mode, Arrow on for the
Python<->JVM boundary, UTC session timezone so results are comparable
with a DuckDB oracle.

The reference never compiles at query time: every verb lowers to a
precompiled libcudf kernel. Spark's stand-in, whole-stage codegen,
compiles a Java class per stage and per expression and keeps them in
an LRU keyed by source text, 100 entries by default. The library's
repeated workloads cycle through far more than that: one benchmark
analytic pass touches about 220 distinct classes and the 193-query
contract sweep at sf0.01 about 2,320. An LRU smaller than the working
set it cycles through evicts every class before its next use, so it
saves almost nothing until it holds the whole set. Measured on a
4-core host, one session, at 100 entries: a repeated analytic pass
recompiled 208 classes (1.0 s of a 6.3 s pass) and a second contract
sweep 3,231 (22.8 s of compile); at ``CODEGEN_CACHE_ENTRIES`` (4,096,
1.76x the sweep) they recompiled 0 and 98. Evicted classes were not
unloaded promptly anyway, so holding them did not raise Metaspace
(221 MB against 237 MB after the two sweeps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, static): sized to the working sets in the module
# docstring so a repeated query compiles nothing.
CODEGEN_CACHE_ENTRIES = 4096


def default_cpus() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else all visible cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_session(
    app_name: str = "cuplyr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or return the active) local SparkSession.

    In local mode there is one JVM; ``spark.driver.memory`` is the only
    memory knob. On a real cluster the same conf (AQE, adaptive
    coalescing, skew-join) carries over unchanged — nothing here is
    local-mode-specific except the master URL.

    Spark's codegen cache holds ``CODEGEN_CACHE_ENTRIES`` generated
    classes instead of 100, so a session that re-runs its queries
    compiles each class once (module docstring); ``extra_conf`` can
    still override it. Like every static conf here it applies only
    when this call starts the JVM: ``getOrCreate()`` returns an
    already-running session untouched.
    """
    cpus = cpus or default_cpus()
    # One shuffle partition per core locally; a real cluster would size
    # this to total executor cores (AQE coalescing trims the excess).
    shuffle_partitions = shuffle_partitions or cpus

    # Local-mode shuffle goes through spark.local.dir; tmpfs removes
    # disk latency/jitter (a real cluster would point this at node-
    # local NVMe instead). Static conf — must be set before JVM start.
    local_dir = os.environ.get("CUPLYR_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/cuplyr-spark-local"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # dplyr/R semantics: arithmetic never raises (x/0 -> NULL like
        # the DuckDB oracle, not an ANSI error). Spark 4 defaults ANSI on.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Write modern annotated micros, not legacy INT96 (deprecated;
        # footer-ambiguous — external readers see INT96 as unit-ns).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("CUPLYR_SPARK_DRIVER_MEM", "32g"),
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
