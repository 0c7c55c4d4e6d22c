"""Structured Streaming surface.

The reference is batch-only (no watermarks/windows/state anywhere,
SURVEY §2.10); this module adds the streaming halves of the event
operators in operators/events.py, built directly on Spark Structured
Streaming so the 100 TB path gets incremental execution, watermarked
late-data handling, and checkpointed state for free:

- ``stream_parquet``: file-source stream (the test harness shape; in
  production the same pipeline reads kafka/delta by swapping format);
- ``windowed_agg``: tumbling/sliding event-time windows + watermark;
- ``session_agg``: native ``session_window`` gap sessions (the
  streaming twin of operators.events.sessionize);
- ``run_to_memory``: drive a bounded stream to completion into an
  in-memory table (deterministic test sink).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuplyr_spark.frame import Frame


def stream_parquet(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """File-source stream. Schema is mandatory (streaming sources
    cannot infer), which also makes the scan layout explicit."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_agg(
    stream: DataFrame,
    ts_col: str,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
    **aggs: Column,
) -> DataFrame:
    """Watermarked tumbling (or sliding) event-time aggregation.

    The watermark bounds state: rows later than it are dropped and
    windows older than it are finalized — this is what makes the
    operator runnable forever on an unbounded stream."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *group_cols)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            *aggs.keys(),
        )
    )


def session_agg(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    **aggs: Column,
) -> DataFrame:
    """Gap-based session windows with managed state (session_window).
    Streaming twin of operators.events.sessionize."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *aggs.keys(),
        )
    )


def run_to_memory(
    result: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive a bounded stream to completion into an in-memory table
    (``SELECT * FROM <name>``). Synchronous: processAllAvailable."""
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def write_stream_parquet(
    result: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    trigger_once: bool = True,
):
    """Exactly-once parquet sink with checkpointed progress; with
    ``trigger_once`` this is incremental batch — the cheapest way to
    run a streaming pipeline on a schedule."""
    writer = (
        result.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

def stream_static_join(
    stream: DataFrame,
    dim: Frame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Enrich a stream with a static dimension table — the standard
    stream-static pattern: the dim is broadcast and re-resolved per
    microbatch, so a slowly-changing dimension backed by a table picks
    up updates between batches without restarting the query. Stateless
    (no watermark needed); stream rows never shuffle."""
    if how not in ("inner", "left"):
        raise ValueError("stream-static join supports how='inner'|'left'")
    return stream.join(F.broadcast(dim.df), on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with the time-range bound Spark needs
    to garbage-collect join state: right rows match left rows with the
    same key(s) whose ``right_ts`` falls in
    ``[left_ts, left_ts + within]``.

    Both sides carry watermarks; together with the range condition the
    state store keeps only the ``within``+watermark horizon per key —
    the construction that makes a join of two unbounded streams
    runnable forever. Outer variants emit NULL-padded rows only after
    the watermark closes a row's match window, so they require the
    same bounds (enforced here for every ``how``).

    Column collisions: right-side non-key columns that clash with left
    names come out suffixed ``_r`` (key columns are emitted once, from
    the left side).
    """
    import functools
    import operator

    keys = [on] if isinstance(on, str) else list(on)
    lw = left.withWatermark(left_ts, left_watermark).alias("__l")
    rw = right.withWatermark(right_ts, right_watermark).alias("__r")
    cond = functools.reduce(
        operator.and_,
        [F.col(f"__l.{k}") == F.col(f"__r.{k}") for k in keys],
    )
    cond = (
        cond
        & (F.col(f"__r.{right_ts}") >= F.col(f"__l.{left_ts}"))
        & (
            F.col(f"__r.{right_ts}")
            <= F.col(f"__l.{left_ts}") + F.expr(f"interval {within}")
        )
    )
    joined = lw.join(rw, cond, how)
    lcols = left.columns
    rcols = [c for c in right.columns if c not in keys]
    out = [F.col(f"__l.{c}").alias(c) for c in lcols]
    out += [
        F.col(f"__r.{c}").alias(c + "_r" if c in lcols else c) for c in rcols
    ]
    return joined.select(*out)


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: str | list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes it, so state size tracks the watermark horizon
    instead of the full key history — the difference between a dedup
    stream that runs for a day and one that runs forever. Two events
    with the same key farther apart than the watermark may BOTH
    survive (by design; use the stateful exact dedup when the key
    space is small enough to hold)."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(ks)


def stream_upsert_snapshot(
    stream: DataFrame,
    table_dir: str,
    key: str | list[str],
    checkpoint: str,
    trigger_once: bool = True,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    vacuum_keep: int | None = None,
    zorder_by: list[str] | None = None,
):
    """Continuous ingest into a snapshot table: each microbatch is
    MERGEd (``connectors.upsert_snapshot`` — update matched keys,
    insert new ones) and published atomically, so a reader of the
    table always sees a complete version and time travel covers every
    batch boundary.

    This is the streaming→lakehouse bridge (Delta's streaming MERGE
    sink, on the jar-free snapshot layer): `foreachBatch` gives the
    batch-side engine full verb access per microbatch, and the source
    checkpoint makes delivery effectively exactly-once *per key* — a
    replayed batch re-upserts the same keys, which is idempotent, the
    standard recipe for exactly-once MERGE sinks. One streaming query
    per table: a second merging writer makes batches race, and the
    loser's ``ConcurrentWriteError`` fails its batch.

    Returns the started StreamingQuery; with ``trigger_once`` it
    drains available input and stops (incremental-batch scheduling).

    Inline table maintenance, tuned to what a COPY-ON-WRITE merge sink
    actually sprawls: every microbatch publishes a log version whose
    one segment is a FULL table copy, so the dominant growth is
    SEGMENT STORAGE (thousands of versions per day x table size) —
    ``vacuum_keep=K`` keeps the newest K versions, deletes every
    segment only older versions reference, and is the parameter that
    matters most here; it runs after EVERY batch when no
    ``compact_every`` schedule is set (vacuum reads only the log and a
    directory listing), else on the compaction cadence. ``zorder_by``
    without ``compact_every`` raises — it is applied by the
    compaction pass. ``compact_every=N`` additionally rewrites the
    published version every Nth merged batch for SCAN layout
    (``compact_snapshot``, the log's tiered compaction):
    ``target_file_bytes`` coalesces above AQE's ~advisory-size write
    files toward scan-efficient sizes (a no-op when already there, so
    replays and quiet streams cost nothing), and ``zorder_by=`` makes
    that rewrite the OPTIMIZE ZORDER BY pass so reader predicates on
    the clustered columns prune files — layout work that the
    per-batch merge write itself never does. All of it runs inside the
    same single-writer foreachBatch slot — no second writer, no
    coordination. (An APPEND-style sink is where per-batch small FILES
    sprawl instead; see :func:`stream_append_snapshot`.)
    """
    from cuplyr_spark.sources.connectors import (
        compact_snapshot,
        upsert_snapshot,
        vacuum_snapshots,
    )

    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1")
    if zorder_by is not None and compact_every is None:
        raise ValueError(
            "zorder_by is applied by the compaction pass — pass "
            "compact_every=N to schedule it (zorder_by alone would be "
            "silently ignored)"
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_snapshot(
            batch_df.sparkSession, Frame(batch_df, ()), table_dir, key
        )
        if compact_every is not None and batch_id % compact_every == (
            compact_every - 1
        ):
            compact_snapshot(
                batch_df.sparkSession, table_dir, target_file_bytes,
                zorder_by=zorder_by,
            )
        # version storage is THE cost of a merge-per-batch sink, so
        # vacuum_keep acts every batch even without a compaction
        # schedule (vacuum is pure manifest/fs metadata — cheap)
        if vacuum_keep is not None and (
            compact_every is None
            or batch_id % compact_every == compact_every - 1
        ):
            vacuum_snapshots(
                table_dir, keep_last=vacuum_keep,
                spark=batch_df.sparkSession,
            )

    writer = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_append(
    stream: DataFrame,
    table_dir: str,
    key: str | list[str],
    checkpoint: str,
    trigger_once: bool = True,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    vacuum_keep: int | None = None,
    purge_deletes: bool = True,
):
    """Continuous keyed MERGE into an APPEND table — the merge-on-read
    twin of :func:`stream_upsert_snapshot`: each microbatch runs
    ``connectors.upsert_append_rows`` (matched table rows
    deletion-vector-marked, the batch appended as one segment, one
    atomic log version), so per-batch cost is DV bytes ∝ matched rows
    + write ∝ the batch — where the copy-on-write sink republishes the
    WHOLE table per batch. This is the sink for large mutable-by-key
    tables fed by streams (user profiles, session state, CDC apply).

    Exactly-once is BY KEY IDEMPOTENCE, same as the COW sink: a
    replayed microbatch re-upserts the same keys — the final table
    state is identical (the replay's DV marks the previous copy), at
    the cost of one redundant segment + DV that compaction folds away.
    Batch-id watermarks don't apply here (an upsert is not an
    insert-only append).

    Maintenance, tuned to what a MoR merge sink actually accretes:
    SEGMENT COUNT and DELETION VECTORS. ``compact_every=N`` runs
    tiered compaction every Nth batch with ``purge_deletes`` (default
    on here) so accumulated DVs are materialized and dropped on the
    same cadence; ``vacuum_keep=K`` prunes log history + unreferenced
    segments/DVs on the compaction cadence (or every batch without
    one). Single-writer: one streaming query per table.

    Returns the started StreamingQuery; ``trigger_once`` drains
    available input and stops (incremental-batch scheduling)."""
    from cuplyr_spark.sources.connectors import (
        compact_append_snapshot,
        upsert_append_rows,
        vacuum_append_snapshot,
    )

    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_append_rows(Frame(batch_df, ()), table_dir, key)
        if compact_every is not None and batch_id % compact_every == (
            compact_every - 1
        ):
            compact_append_snapshot(
                batch_df.sparkSession, table_dir, target_file_bytes,
                purge_deletes=purge_deletes,
            )
        if vacuum_keep is not None and (
            compact_every is None
            or batch_id % compact_every == compact_every - 1
        ):
            vacuum_append_snapshot(
                table_dir, keep_last=vacuum_keep,
                spark=batch_df.sparkSession,
            )

    writer = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_append_snapshot(
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
    trigger_once: bool = True,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    vacuum_keep: int | None = None,
    zorder_by: list[str] | None = None,
    app_id: str | None = None,
    partition_by: list[str] | str | None = None,
    collect_stats: bool = True,
    sketch_spec: dict | None = None,
    refresh_views: list[str] | None = None,
    unique_key: list[str] | str | None = None,
    on_conflict: str = "error",
):
    """Continuous APPEND ingest into a log table
    (``connectors.append_snapshot``) — the insert-only twin of
    :func:`stream_upsert_snapshot`, and the right sink for event/fact
    streams at scale: each microbatch writes ONLY its own segment (cost
    ∝ batch bytes) where the merge sink's copy-on-write rewrites the
    table per batch.

    Exactly-once, not just per key: the log's per-writer batch-id
    watermark makes a replayed microbatch (foreachBatch redelivery
    after a sink crash) a structural no-op, so duplicate rows cannot
    enter the table even though appends are not idempotent by nature.
    ``app_id`` names this writer's watermark slot (pass one per
    streaming query when several append to one table). CHECKPOINT
    RESET HAZARD: recreating ``checkpoint`` restarts batch ids at 0,
    and the surviving watermark then swallows every new batch as a
    replay until ids pass it — silent data loss. Pair a fresh
    checkpoint with a fresh ``app_id``, or call
    ``connectors.reset_append_watermark(table_dir, app_id)`` first.

    Maintenance matches the shape's actual debt — SEGMENT COUNT:
    ``compact_every=N`` runs the TIERED compaction every Nth batch
    (folds only under-sized/fragmented segments into a ``fold=``
    segment, cost ∝ small-segment bytes — write amplification over the
    stream's life stays linear; watermarks carry over), with
    ``zorder_by=`` giving the folded data pruning layout; and
    ``vacuum_keep=K`` prunes log history + unreferenced segments —
    after every batch when no compaction schedule is set, else on the
    compaction cadence. Keep ``vacuum_keep`` at least the lag of any
    ``read_append_changes``/``stream_append_log`` reader tailing this
    table. All inside the single-writer foreachBatch slot.

    ``partition_by`` lands each segment hive-partitioned (date/type
    ingest layout): batch readers then prune directories — see
    ``append_snapshot(partition_by=)``. Note ``stream_append_log``
    cannot tail a partitioned table (file-source rows lack the
    partition columns); tail with ``connectors.tail_append_changes``.

    ``collect_stats`` / ``sketch_spec`` pass through to
    ``append_snapshot``: every microbatch segment gets manifest zone
    maps (default on; one column-pruned aggregate ∝ the batch) and,
    with a spec, a sketch-sidecar row — so a long-running stream's
    table supports ``stats_filter`` pruning and
    ``connectors.table_stats`` with no extra maintenance pass; the
    compaction schedule merges both arithmetically.

    ``refresh_views=[view_dir, ...]`` advances incremental
    materialized views (``sources/views``) over this table after each
    committed microbatch — the streaming-dashboard loop: each refresh
    is the insert-only arithmetic merge (cost ∝ the batch) because the
    sink only ever appends, and the view stays exactly one microbatch
    behind the table with no rescan anywhere. Runs inside the same
    single-writer foreachBatch slot, which is precisely the
    single-maintainer contract refresh requires; a replayed microbatch
    is a no-op append, and the refresh then sees no new version — the
    exactly-once story composes."""
    from cuplyr_spark.sources.connectors import (
        append_snapshot,
        compact_append_snapshot,
        vacuum_append_snapshot,
    )
    from cuplyr_spark.sources.views import refresh_append_view

    if on_conflict != "error" and unique_key is None:
        # without a key the constraint machinery never engages: on a
        # fresh table_dir on_conflict="drop" would be silently inert
        # (no dedup at all) while reading like working ingest-dedup —
        # engage only when the TARGET table already carries a key
        from cuplyr_spark.sources.connectors import _TableFS, _read_log

        cur = _read_log(_TableFS(table_dir, stream.sparkSession))
        if cur is None or not cur.get("unique_key"):
            raise ValueError(
                f"on_conflict={on_conflict!r} without unique_key= and "
                f"the target table carries no unique key — the "
                "constraint would never engage (no dedup would "
                "happen); pass unique_key= to create the constrained "
                "table"
            )

    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1")
    if zorder_by is not None and compact_every is None:
        raise ValueError(
            "zorder_by is applied by the compaction pass — pass "
            "compact_every=N to schedule it (zorder_by alone would be "
            "silently ignored)"
        )

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_snapshot(
            Frame(batch_df, ()), table_dir, batch_id=batch_id,
            app_id=app_id, partition_by=partition_by,
            collect_stats=collect_stats, sketch_spec=sketch_spec,
            unique_key=unique_key, on_conflict=on_conflict,
        )
        if compact_every is not None and batch_id % compact_every == (
            compact_every - 1
        ):
            compact_append_snapshot(
                batch_df.sparkSession, table_dir, target_file_bytes,
                zorder_by=zorder_by,
            )
        if vacuum_keep is not None and (
            compact_every is None
            or batch_id % compact_every == compact_every - 1
        ):
            vacuum_append_snapshot(
                table_dir, keep_last=vacuum_keep,
                spark=batch_df.sparkSession,
            )
        for vd in refresh_views or ():
            refresh_append_view(batch_df.sparkSession, vd)

    writer = (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_append_log(
    spark: SparkSession, table_dir: str, schema: T.StructType | str
) -> DataFrame:
    """Tail an append table as a STREAM — the source half that closes
    the ingest→curate loop: one pipeline lands events with
    :func:`stream_append_snapshot`, a downstream pipeline tails them
    here (watermark-dedup, windowed agg, decontaminate, ...) without
    ever rescanning the table.

    Mechanism: a file-source stream over the raw segment glob
    (``table_dir/seg=*``). The glob deliberately EXCLUDES ``fold=``
    segments, so tiered compaction rewrites are invisible to the tail
    (the ``dataChange=false`` rule) — no re-delivery of rows the tail
    already processed. Vacuumed (already-processed) segments
    disappearing is fine for the file source; keep vacuum retention
    above the tail's lag so unprocessed segments are never deleted.

    Delivery caveat, stated honestly: the glob sees segment
    DIRECTORIES, not the log — a writer crash between segment write
    and log publish leaves an orphan segment whose rows the retried
    batch re-appends under a new name, so the tail can see that rare
    batch twice (the table itself stays exactly-once; vacuum removes
    the orphan but the tail may have read it first). Downstreams
    needing exactly-once should dedup on an event key
    (:func:`streaming_dedup_within_watermark`) or use the exact
    batch-incremental consumer instead
    (``connectors.tail_append_changes``, which walks the log with a
    checkpointed cursor and composes with a sink watermark into
    end-to-end exactly-once). Row-level DELETEs
    (``connectors.delete_append_rows``) are likewise invisible to the
    file tail: deletion vectors live in the log manifest, so deleted
    rows are still delivered here — matching the change feed's
    rows-as-appended default; use ``tail_append_changes`` /
    ``read_append_changes(apply_deletes=True)`` when the tail must
    respect deletes. Schema is mandatory, as for any file
    stream — read it from the table's log manifest or a segment.

    HIVE-PARTITIONED append tables tail the same way: the partition
    columns live in directory names, which the file source parses
    when every level is a ``k=v`` component under a ``basePath`` —
    and the table layout makes the ``seg=<n>-<hash>`` level itself
    such a component, so the source is pointed at the table root with
    ``seg`` as a synthetic leading partition column (typed string,
    injected into the user schema here) and the column dropped from
    the returned stream. Partition VALUES arrive cast to the types the
    caller's ``schema`` declares for them (include every partition
    column, or this raises); the checkpoint's processed-file log keeps
    delivery exactly-once across restarts exactly as for flat
    tables."""
    import posixpath

    from cuplyr_spark.sources.connectors import _read_log, _TableFS

    log = _read_log(_TableFS(table_dir, spark))
    pby = list((log or {}).get("partition_by") or [])
    if not pby:
        return spark.readStream.schema(schema).parquet(
            posixpath.join(table_dir.rstrip("/"), "seg=*")
        )
    fields = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    names = set(fields.fieldNames())
    missing = [c for c in pby if c not in names]
    if missing:
        raise ValueError(
            f"stream_append_log: schema is missing the partition "
            f"columns {missing} of {table_dir!r} — the file source "
            "parses them from the directory names into typed columns, "
            "so the schema must declare them"
        )
    if "seg" in names:
        raise ValueError(
            "stream_append_log: 'seg' is reserved (the segment level "
            "of the table layout is parsed as a synthetic partition "
            "column and dropped)"
        )
    ext = T.StructType(
        list(fields.fields) + [T.StructField("seg", T.StringType())]
    )
    return (
        spark.readStream.schema(ext)
        .option("basePath", table_dir.rstrip("/"))
        .parquet(posixpath.join(table_dir.rstrip("/"), "seg=*"))
        .drop("seg")
    )
