"""Incremental MATERIALIZED AGGREGATE VIEWS over append tables — the
"never rescan the corpus to refresh a dashboard" layer: a grouped
aggregate (sum / count / min / max / mean) is materialized once, then
each :func:`refresh_append_view` advances it using the base table's
typed change feed at cost ∝ the CHANGED data, not table size. At
100 TB the distinction is the whole feature: a nightly full GROUP BY
over the corpus re-reads everything; this reads the delta.

Two maintenance strategies, picked automatically per refresh window
by one walk of the base log window (:func:`connectors._walk_window`,
metadata-only — no data read to decide), which then feeds the path:

- **arithmetic merge** (window is insert-only, detected by unchanged
  ``delete_counts``): partial-aggregate ONLY the appended rows
  (:func:`read_append_changes`), join the touched groups against the
  pinned previous state, and combine accumulators (sums/counts add;
  min/max fold through ``least``/``greatest`` — all five supported
  aggregates are decomposable on inserts). Cost ∝ delta rows.
- **affected-group recompute** (window carries deletes/updates/
  upserts): the groups named by ANY change event
  (:func:`read_append_cdf`) are recomputed from the base snapshot —
  scoped by a null-safe semi-join, with the base read pruned through
  the zone-map machinery via :func:`join_prune_filter` when the
  group key is a single stat-eligible column — and replace their
  state rows; groups whose rows all vanished are deleted from the
  state. Correct for NON-decomposable-under-delete aggregates
  (min/max) without keeping per-group detail. Cost ∝ the affected
  groups' base bytes (≈ delta for time-keyed groupings).

The STATE is itself an append table (``<view_dir>/state``) keyed by
the group columns: refreshes land as keyed MERGE
(:func:`upsert_append_rows`) + row-level deletes, so the state gets
time travel, compaction and vacuum for free. Aggregates needing
hidden accumulators (``mean`` = sum + count) store them as
``_acc_{name}_*`` columns; :func:`read_append_view` derives the
public columns.

Crash consistency WITHOUT a rollback step: a refresh is (state
commits…, then one exclusive-create ``_REFRESH.<seq>`` record naming
the base version covered and the state version produced). Readers and
refreshes only ever consume state PINNED at the last record's
``state_version``, so a crash that committed state but not the record
leaves invisible provisional rows — and the retry CONVERGES over
them: its window is a superset of the crashed window, so its batch's
group set ⊇ the junk's group set, and the keyed MERGE's
delete-all-matches semantics supersede every junk copy (NULL-keyed
groups, which equality MERGE can't match, are pre-deleted from the
current state before each upsert for the same reason). Concurrent
refreshers are NOT supported (this is a maintenance job, one per
view — the same single-maintainer contract as Delta's OPTIMIZE): the
record's exclusive create plus a pre-commit parent check surface most
races as :class:`ConcurrentWriteError`; recover with
``refresh_append_view(..., full=True)``.

Public art only: Spark DataFrame API; incremental view maintenance by
delta decomposition + affected-group recomputation is classic
published material (Gupta & Mumick's IVM survey; Delta Live Tables /
Materialize describe the same split publicly). The reference engine
has no view layer at all (its scope ends at query verbs — SURVEY
§2.1), so this is beyond-reference capability for the pipeline shape.
"""

from __future__ import annotations

import json
import posixpath
import re

from pyspark.sql import SparkSession, functions as F

from cuplyr_spark.frame import Frame
from cuplyr_spark.sources.connectors import (
    ConcurrentWriteError,
    _TableFS,
    _cdf_frame,
    _changes_frame,
    _read_log,
    _rm,
    _walk_window,
    append_snapshot,
    delete_append_rows,
    join_prune_filter,
    read_append_snapshot,
    upsert_append_rows,
)
from cuplyr_spark.sources.connectors import _STAT_TYPES  # noqa: E402

_VIEW_SPEC = "_VIEW"
_REFRESH = re.compile(r"^_REFRESH\.(\d+)$")
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# sum() result type per input type — pinned at view creation so every
# later upsert conforms to the state schema exactly (Spark widens int
# sums to long; float sums to double; decimals are refused up front
# rather than silently drifting precision across merges)
_SUM_TYPES = {
    "tinyint": "long", "smallint": "long", "int": "long",
    "bigint": "long", "float": "double", "double": "double",
}
_AGG_OPS = (
    "sum", "count", "min", "max", "mean", "n_distinct",
    "n_distinct_exact",
)

# n_distinct state is a Datasketches HLL sketch (Spark's built-in
# hll_sketch_agg/hll_union — JVM-side, fixed-size binary state):
# insert windows UNION sketches losslessly, delete windows recompute
# affected groups exactly (sketches cannot subtract — the existing
# affected-group path already does exact recomputation). The estimate
# carries the sketch's ~1.6%/sqrt(2^lgk) relative error; use
# n_distinct_exact for hash-exact counts, which routes EVERY window
# through the affected-group recompute (cost ∝ affected groups' base
# rows, not the delta).
_HLL_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}
_HLL_CAST = {"tinyint": "int", "smallint": "int"}


def _load_spec(fs: _TableFS) -> dict:
    text = fs.read_text(_VIEW_SPEC)
    if text is None:
        raise FileNotFoundError(
            f"no view at {fs.dir!r} (missing {_VIEW_SPEC} — create it "
            "with create_append_view)"
        )
    return json.loads(text)


def _latest_refresh(fs: _TableFS) -> dict | None:
    """The newest ``_REFRESH.<seq>`` record, or None before the first
    refresh. Records are immutable and exclusive-created, so the
    highest sequence IS the latest completed refresh (same
    commit-record reasoning as the table log's ``_LOG.<k>`` floor)."""
    best = None
    if not fs.isdir():
        return None
    for name in fs.listdir():
        m = _REFRESH.match(name)
        if m and (best is None or int(m.group(1)) > best):
            best = int(m.group(1))
    if best is None:
        return None
    return json.loads(fs.read_text(f"_REFRESH.{best}"))


def _normalize_aggs(aggs: dict, base_schema: dict[str, str],
                    group_by: list[str]) -> list[dict]:
    """Validate and normalize the agg spec into
    ``[{name, op, col, state: [(col, sparktype), ...]}, ...]``."""
    if not aggs:
        raise ValueError("a view needs at least one aggregate")
    out = []
    taken = set(group_by)
    for name, spec in aggs.items():
        if not _NAME_RE.match(name):
            raise ValueError(f"aggregate name {name!r} is not a plain "
                             "identifier")
        if name in taken:
            raise ValueError(f"duplicate output column {name!r}")
        taken.add(name)
        if isinstance(spec, str):
            op, col = spec, None
        else:
            op, col = spec
        if op not in _AGG_OPS:
            raise ValueError(
                f"aggregate {name!r}: op {op!r} not in {_AGG_OPS}"
            )
        ctype = None
        if op == "count" and col is None:
            state = [(name, "long")]
        else:
            if col is None:
                raise ValueError(f"aggregate {name!r}: {op} needs a column")
            ctype = base_schema.get(col)
            if ctype is None:
                raise ValueError(
                    f"aggregate {name!r}: column {col!r} is not in the "
                    f"base table schema ({sorted(base_schema)})"
                )
            if op == "sum":
                if ctype.startswith("decimal("):
                    # exact: the state widens to decimal(38,s), whose
                    # additions are exact decimal arithmetic — no
                    # precision drift across incremental merges (the
                    # old refusal predates the widened state). Bound:
                    # a running sum past 38-s digits overflows the
                    # widened state; the incremental merge detects
                    # that (NULL-from-non-NULL ⇒ raise_error in
                    # _merge_state) rather than committing a silent
                    # NULL, matching non-ANSI Spark's overflow rule
                    from cuplyr_spark.sources.connectors import _dec_scale

                    state = [(name, f"decimal(38,{_dec_scale(ctype)})")]
                elif ctype not in _SUM_TYPES:
                    raise ValueError(
                        f"aggregate {name!r}: sum over {ctype!r} is not "
                        "supported (integral, float, and decimal types)"
                    )
                else:
                    state = [(name, _SUM_TYPES[ctype])]
            elif op == "mean":
                if ctype not in _SUM_TYPES:
                    raise ValueError(
                        f"aggregate {name!r}: mean over {ctype!r} is not "
                        "supported (integral and float types only)"
                    )
                state = [(f"_acc_{name}_sum", "double"),
                         (f"_acc_{name}_cnt", "long")]
            elif op == "count":
                state = [(name, "long")]
            elif op == "n_distinct":
                if ctype not in _HLL_TYPES:
                    raise ValueError(
                        f"aggregate {name!r}: n_distinct over {ctype!r} "
                        f"is not supported (HLL state takes "
                        f"{sorted(_HLL_TYPES)}; use n_distinct_exact "
                        "for other types)"
                    )
                state = [(f"_acc_{name}_hll", "binary")]
            elif op == "n_distinct_exact":
                if ctype not in _STAT_TYPES and not ctype.startswith(
                    "decimal("
                ):
                    raise ValueError(
                        f"aggregate {name!r}: n_distinct_exact over "
                        f"{ctype!r} is not supported (scalar types only)"
                    )
                state = [(name, "long")]
            else:  # min / max keep the input type
                if ctype not in _STAT_TYPES:
                    raise ValueError(
                        f"aggregate {name!r}: {op} over {ctype!r} is not "
                        "supported (orderable scalar types only)"
                    )
                state = [(name, ctype)]
        out.append(
            {
                "name": name, "op": op, "col": col, "state": state,
                "ctype": ctype,
            }
        )
    return out


def _partial_agg(df, group_by: list[str], specs: list[dict]):
    """One grouped pass producing the STATE columns for the rows in
    ``df`` — used identically for full rebuilds, insert deltas and
    affected-group recomputes (decomposability is what makes the three
    paths share one aggregation)."""
    exprs = []
    for s in specs:
        c = F.col(s["col"]) if s["col"] is not None else None
        if s["op"] == "sum":
            exprs.append(
                F.sum(c).cast(s["state"][0][1]).alias(s["name"]))
        elif s["op"] == "count":
            exprs.append(
                (F.count(c) if c is not None else F.count(F.lit(1)))
                .cast("long").alias(s["name"]))
        elif s["op"] == "min":
            exprs.append(F.min(c).alias(s["name"]))
        elif s["op"] == "max":
            exprs.append(F.max(c).alias(s["name"]))
        elif s["op"] == "n_distinct":
            cast_to = _HLL_CAST.get(s.get("ctype") or "")
            hc = c.cast(cast_to) if cast_to else c
            exprs.append(
                F.hll_sketch_agg(hc).alias(s["state"][0][0])
            )
        elif s["op"] == "n_distinct_exact":
            exprs.append(
                F.countDistinct(c).cast("long").alias(s["name"])
            )
        else:  # mean → (double sum, non-null count)
            exprs.append(F.sum(c.cast("double"))
                         .alias(f"_acc_{s['name']}_sum"))
            exprs.append(F.count(c).cast("long")
                         .alias(f"_acc_{s['name']}_cnt"))
    return df.groupBy(*[F.col(g) for g in group_by]).agg(*exprs)


def _nullsafe_cond(left, right, cols):
    cond = None
    for g in cols:
        c = left[g].eqNullSafe(right[g])
        cond = c if cond is None else cond & c
    return cond


def _merge_state(old_df, delta_df, group_by: list[str],
                 specs: list[dict]):
    """Combine the pinned previous state with an insert-only delta's
    partial aggregates — rows ONLY for groups present in the delta
    (untouched groups keep their state rows as-is). SQL NULL algebra
    is preserved exactly: an all-NULL sum stays NULL (not 0) unless
    the other side contributes, and ``least``/``greatest`` skip NULLs
    the way re-aggregating would."""
    d, o = delta_df.alias("d"), old_df.alias("o")
    joined = d.join(o, _nullsafe_cond(d, o, group_by), "left")
    cols = [d[g].alias(g) for g in group_by]

    def add_nullable(name):
        a, b = o[name], d[name]
        return (F.when(a.isNull() & b.isNull(), F.lit(None))
                .otherwise(F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))))

    for s in specs:
        if s["op"] == "sum":
            n, t = s["state"][0]
            merged = add_nullable(n).cast(t)
            if t.startswith("decimal("):
                # decimal(38,s) addition is exact UNTIL it overflows,
                # and under Spark's default non-ANSI mode an overflow
                # yields NULL silently — a long-lived view would flip
                # the group's sum to NULL with no error. Guard: a NULL
                # result from non-NULL inputs can only be overflow ⇒
                # fail the refresh loudly instead of committing it.
                a, b = o[n], d[n]
                merged = F.when(
                    (a.isNotNull() | b.isNotNull()) & merged.isNull(),
                    F.raise_error(F.lit(
                        f"refresh_append_view: decimal sum state {n!r} "
                        f"overflowed {t} while merging an incremental "
                        "window — the group's running sum no longer "
                        "fits 38 digits; rebuild with "
                        "refresh_append_view(..., full=True) (it will "
                        "overflow there too unless the data shrank — "
                        "consider summing at a coarser grain)"
                    )).cast(t),
                ).otherwise(merged)
            cols.append(merged.alias(n))
        elif s["op"] == "count":
            n = s["name"]
            cols.append((F.coalesce(o[n], F.lit(0)) + d[n])
                        .cast("long").alias(n))
        elif s["op"] in ("min", "max"):
            n, t = s["state"][0]
            fold = F.least if s["op"] == "min" else F.greatest
            cols.append(fold(o[n], d[n]).cast(t).alias(n))
        elif s["op"] == "n_distinct":
            n = s["state"][0][0]
            a, b = o[n], d[n]
            cols.append(
                F.when(a.isNull(), b)
                .when(b.isNull(), a)
                .otherwise(F.hll_union(a, b))
                .alias(n)
            )
        elif s["op"] == "n_distinct_exact":
            raise AssertionError(
                "exact distinct state is not mergeable — the refresh "
                "must route windows through the affected-group "
                "recompute (bug if reached)"
            )
        else:  # mean accumulators
            sn, cn = f"_acc_{s['name']}_sum", f"_acc_{s['name']}_cnt"
            cols.append(add_nullable(sn).cast("double").alias(sn))
            cols.append((F.coalesce(o[cn], F.lit(0)) + d[cn])
                        .cast("long").alias(cn))
    return joined.select(*cols)


def _sql_lit(v) -> str:
    import datetime

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    raise ValueError(f"cannot render {type(v).__name__} as a SQL literal")


def _combo_pred(group_by: list[str], rows) -> str:
    """OR-of-conjunctions predicate matching exactly the collected
    group-key combinations (IS NULL for NULL components — the one
    form the keyed MERGE's equality matching cannot express)."""
    parts = []
    for r in rows:
        conj = []
        for g in group_by:
            v = r[g]
            conj.append(f"`{g}` IS NULL" if v is None
                        else f"`{g}` = {_sql_lit(v)}")
        parts.append("(" + " AND ".join(conj) + ")")
    return " OR ".join(parts)


def _delete_groups(spark, state_dir: str, group_by: list[str], rows):
    """Delete the collected group-key combinations from the state —
    via the stats_filter dict/IN form when a single all-non-NULL key
    allows it (zone maps prune the state segments and the residual
    stays one InSet, instead of a thousand-term OR that bloats the
    plan), the OR-of-conjunctions predicate otherwise."""
    if len(group_by) == 1 and all(r[group_by[0]] is not None for r in rows):
        try:
            delete_append_rows(
                spark, state_dir,
                {group_by[0]: ("in", [r[group_by[0]] for r in rows])},
            )
            return
        except ValueError:
            pass  # stat-ineligible key type: predicate fallback below
    delete_append_rows(spark, state_dir, _combo_pred(group_by, rows))


def create_append_view(
    spark: SparkSession,
    base_dir: str,
    view_dir: str,
    group_by: list[str] | str,
    aggs: dict,
    refresh: bool = True,
) -> int | None:
    """Define a materialized aggregate view of an append table and
    (by default) run the first refresh. ``aggs`` maps output column
    names to ``(op, col)`` pairs — ops ``sum | count | min | max |
    mean``, with ``("count", None)`` counting rows and ``("count",
    col)`` counting non-NULLs, exactly SQL's two COUNT forms. The
    spec is IMMUTABLE once written (a changed grouping is a different
    view — create a new one); creation is exclusive, racing creators
    get one winner. Returns the refreshed base version (or None with
    ``refresh=False``)."""
    group_by = [group_by] if isinstance(group_by, str) else list(group_by)
    if not group_by:
        raise ValueError("group_by must name at least one column")
    bfs = _TableFS(base_dir, spark)
    cur = _read_log(bfs)
    if cur is None:
        raise FileNotFoundError(
            f"no published append log at {base_dir!r} — the base table "
            "must exist before its view"
        )
    schema = dict(map(tuple, cur.get("schema") or []))
    missing = sorted(set(group_by) - set(schema))
    if missing:
        raise ValueError(
            f"group_by columns {missing} are not in the base schema"
        )
    specs = _normalize_aggs(aggs, schema, group_by)
    fs = _TableFS(view_dir, spark)
    fs.mkdirs()
    spec = {
        "base": base_dir,
        "group_by": group_by,
        "aggs": {s["name"]: [s["op"], s["col"]] for s in specs},
        "state": "state",
    }
    if not fs.write_text_exclusive(_VIEW_SPEC, json.dumps(spec), ".tmp"):
        raise ConcurrentWriteError(
            f"view at {view_dir!r} already exists — specs are immutable; "
            "create a new view_dir for a different definition"
        )
    if refresh:
        return refresh_append_view(spark, view_dir)
    return None


def _state_fs(spark, fs: _TableFS, spec: dict) -> _TableFS:
    return _TableFS(posixpath.join(fs.dir, spec.get("state", "state")),
                    spark)


def refresh_append_view(
    spark: SparkSession,
    view_dir: str,
    full: bool = False,
    max_vanished_keys: int = 100_000,
) -> int | None:
    """Advance the view to the base table's published version.
    Returns that version, or None when already current. ``full=True``
    forces a whole-view rebuild from the base snapshot (the escape
    hatch for a vacuumed-away CDF window or a detected concurrent
    refresh — and the path whose cost IS a full GROUP BY).

    Cost contract: insert-only windows read only the appended rows;
    windows with row-level deletes read only the affected groups'
    base rows (pruned through the manifest machinery when the group
    key carries zone maps). The state mutations are keyed MERGEs /
    row-level deletes on the state table — never a state rewrite."""
    fs = _TableFS(view_dir, spark)
    spec = _load_spec(fs)
    group_by = list(spec["group_by"])
    base_dir = spec["base"]
    bfs = _TableFS(base_dir, spark)
    cur = _read_log(bfs)
    if cur is None:
        raise FileNotFoundError(
            f"view base table {base_dir!r} has no published log"
        )
    schema = dict(map(tuple, cur.get("schema") or []))
    specs = _normalize_aggs(
        {k: tuple(v) for k, v in spec["aggs"].items()}, schema, group_by
    )
    end = cur["version"]
    last = _latest_refresh(fs)
    sfs = _state_fs(spark, fs, spec)
    state_dir = sfs.dir
    if last is not None and not full and last["base_version"] >= end:
        return None

    first = last is None or _read_log(sfs) is None
    if last is not None and not first and not full:
        # one metadata-only walk of the window decides the path and
        # feeds it. A RESTORE in the window breaks the version-to-
        # version diff both incremental paths rely on (re-added
        # segments would double-merge; dropped ones would never
        # subtract), and a VACUUMED window has no diff to read — both
        # take the full rebuild for this one refresh, which reads only
        # the published snapshot.
        win = _walk_window(bfs, base_dir, last["base_version"], end)
        full = bool(win.restores or win.missing)
    cached = []  # refresh plans feed several jobs (count probes, the
    # MERGE's key set + DV scan + segment write) — persist them once
    # instead of recomputing the delta join per consumer

    def _pin(df):
        df = df.persist()
        cached.append(df)
        return df

    try:
        if full or first:
            batch = _partial_agg(
                read_append_snapshot(spark, base_dir, version=end).df,
                group_by, specs,
            )
            if first:
                append_snapshot(Frame(batch, ()), state_dir)
            else:
                # rebuild in place: DV-mark everything, append the fresh
                # aggregate — both row-level, old versions stay
                # time-travelable until vacuum
                # the state table carries a 100%-deleted version until
                # maintenance compacts it away — schedule
                # maintain_append_view after full rebuilds (fine at
                # view scale; the DV is metadata, not a rewrite)
                delete_append_rows(spark, state_dir, "1 = 1")
                if batch.count():
                    upsert_append_rows(
                        Frame(batch, ()), state_dir, key=group_by
                    )
        else:
            pinned_state = read_append_snapshot(
                spark, state_dir, version=last["state_version"]
            ).df
            has_exact = any(
                s["op"] == "n_distinct_exact" for s in specs
            )
            if not win.has_deletes and not has_exact:
                delta = _changes_frame(spark, bfs, win).df
                dpart = _partial_agg(delta, group_by, specs)
                batch = _pin(_merge_state(pinned_state, dpart, group_by, specs))
            else:
                cdf = _cdf_frame(spark, bfs, win).df
                affected = _pin(cdf.select(*group_by).distinct())
                stats_filter = None
                if (len(group_by) == 1
                        and schema.get(group_by[0]) in _STAT_TYPES
                        # join_prune_filter drops NULL keys and its residual
                        # IN-predicate would silently exclude the NULL group
                        # from the recompute — prune only when no affected
                        # group is NULL-keyed
                        and not affected.filter(
                            F.col(group_by[0]).isNull()).limit(1).count()):
                    stats_filter = join_prune_filter(
                        affected, group_by[0], max_keys=max_vanished_keys
                    )
                base_now = read_append_snapshot(
                    spark, base_dir, version=end, stats_filter=stats_filter
                ).df
                a, b = affected.alias("a"), base_now.alias("b")
                scoped = b.join(a, _nullsafe_cond(b, a, group_by), "left_semi")
                batch = _pin(_partial_agg(scoped, group_by, specs))
                av = affected.alias("av")
                r = batch.select(*group_by).alias("r")
                vanished = av.join(
                    r, _nullsafe_cond(av, r, group_by), "left_anti"
                )
                vrows = vanished.limit(max_vanished_keys + 1).collect()
                if len(vrows) > max_vanished_keys:
                    raise ValueError(
                        f"refresh_append_view: more than {max_vanished_keys} "
                        "groups vanished in one window — run "
                        "refresh_append_view(..., full=True) instead"
                    )
                if vrows:
                    _delete_groups(spark, state_dir, group_by, vrows)
            _commit_merged_batch(spark, state_dir, group_by, batch)

        return _write_refresh_record(
            fs, sfs, view_dir, state_dir, last, end, bool(full or first)
        )
    finally:
        for df in cached:
            df.unpersist()


def _commit_merged_batch(spark, state_dir: str, group_by: list[str], batch):
    """The incremental refresh's state-MERGE tail, shared with
    :func:`append_refresh`: one bounded collect of the merged batch's
    group keys answers every probe (NULL-combo guard, emptiness,
    single-key MERGE prune set), the pinned small batch drains to one
    file, and the upsert rides the proven row bound."""
    # NULL-keyed groups can't be replaced by the equality MERGE —
    # pre-delete their CURRENT state rows (including provisional
    # junk from a crashed refresh), then the upsert re-appends them
    null_cond = None
    for g in group_by:
        c = F.col(g).isNull()
        null_cond = c if null_cond is None else null_cond | c
    # ONE bounded collect of the batch's group keys answers
    # every probe this tail needs — the NULL-combo guard, the
    # emptiness check, and (single-key views) the MERGE's
    # prune key set — where it used to launch three driver
    # jobs over the same cached one-row-per-group batch
    # (_merge_state / _partial_agg output — no distinct
    # needed). Past the cap (more groups in one window than
    # the MERGE's own prune bound) fall back to the separate
    # bounded probes.
    known_keys = None
    krows = batch.select(*group_by).limit(100_001).collect()
    if len(krows) <= 100_000:
        null_combos = [
            r for r in krows
            if any(r[g] is None for g in group_by)
        ]
        empty = not krows
        if len(group_by) == 1:
            known_keys = sorted(
                {r[0] for r in krows if r[0] is not None}
            )
        # The merged batch is provably small (the collect just
        # bounded it at <= 100k one-row-per-group rows) but it
        # inherits the state scan's partitioning — AQE's
        # parallelismFirst keeps ~n_cores near-empty partitions
        # through tiny shuffles, so each refresh wrote the
        # state segment AND its deletion vector as ~26 files of
        # a few rows, and every later refresh re-paid the
        # per-file open on both (guide §6: small files hurt
        # twice; measured r15: 27 files per 64-row segment,
        # upsert 1.37 s/iter of a 1.71 s refresh). Draining the
        # PINNED batch into one partition makes the segment one
        # file and the DV scan one task — steady-state refresh
        # cost stops accreting file overhead. (Flipping
        # parallelismFirst=false session-wide was tried and
        # REJECTED with measurements: right for this write, but
        # it collapses compute-bound stages everywhere —
        # window_topn_per_group 0.31 s -> 0.79 s at sf0.1.)
        batch = batch.coalesce(1)
    else:
        null_combos = (
            batch.filter(null_cond).select(*group_by)
            .limit(10_001).collect()
        )
        empty = not batch.limit(1).count()
    if len(null_combos) > 10_000:
        raise ValueError(
            "refresh_append_view: more than 10000 NULL-keyed groups "
            "in one window — run refresh_append_view(..., full=True)"
        )
    if null_combos:
        delete_append_rows(spark, state_dir,
                           _combo_pred(group_by, null_combos))
    if not empty:
        upsert_append_rows(Frame(batch, ()), state_dir, key=group_by,
                           _known_keys=known_keys)


def _write_refresh_record(
    fs: _TableFS, sfs: _TableFS, view_dir: str, state_dir: str,
    last: dict | None, end: int, full_flag: bool,
) -> int:
    state_log = _read_log(sfs)
    state_v = state_log["version"] if state_log else 0
    seq = (last["seq"] + 1) if last else 1
    record = {
        "seq": seq,
        "base_version": end,
        "state_version": state_v,
        "full": full_flag,
    }
    # pre-commit parent check: the state version we are about to pin
    # must still be the one our commits produced (best-effort guard
    # against a concurrent refresher — single-maintainer contract)
    if state_log is None or sfs.read_text(f"_LOG.{state_v}") is None:
        raise ConcurrentWriteError(
            f"refresh_append_view: state table at {state_dir!r} changed "
            "under the refresh — another refresher is running"
        )
    if not fs.write_text_exclusive(
        f"_REFRESH.{seq}", json.dumps(record), f".tmp.{seq}"
    ):
        raise ConcurrentWriteError(
            f"refresh record {seq} at {view_dir!r} was committed by "
            "another refresher — re-run refresh_append_view (it "
            "converges over the overlap)"
        )
    return end


def append_refresh(
    spark: SparkSession,
    view_dir: str,
    batch: Frame,
    batch_id: int | None = None,
    app_id: str | None = None,
) -> int:
    """OPT-IN overlapped maintenance step: append ``batch`` to the
    view's BASE table and advance the view to the appended version in
    one scheduler window — the equivalent of ``append_snapshot(batch,
    base); refresh_append_view(view)`` with the same end state, but
    the refresh's READ-side work (pinned-state scan + delta partial
    aggregate + merged-batch key collect) runs on the driver thread
    concurrently with the base append's segment write (guide §2.6:
    independent jobs back-fill each other's stragglers). The delta
    comes from the CALLER'S batch frame, which for an insert-only
    single-version window is exactly what the change feed would
    return.

    Atomicity story (what the opt-in does NOT change): the base
    commit and the view's state commit remain two separate table
    commits in the sequential order — base first, state only after
    the base commit succeeded, refresh record last. A crash between
    them leaves the base appended and the view un-advanced (or a
    provisional state version), exactly the sequential form's crash
    window, and the next refresh recovers both. Only READ work is
    overlapped; no commit ever moves ahead of its dependency.

    Falls back to ``append_snapshot`` + ``refresh_append_view``
    (correct, just not overlapped) whenever the fast path cannot
    serve: first refresh, view behind the base already, exact-distinct
    aggregates (their state needs the CDF rescan path), a batch-id
    replay, or a concurrent base writer landing inside the window.
    Returns the base version the view is now current to."""
    fs = _TableFS(view_dir, spark)
    spec = _load_spec(fs)
    group_by = list(spec["group_by"])
    base_dir = spec["base"]
    bfs = _TableFS(base_dir, spark)
    cur = _read_log(bfs)
    last = _latest_refresh(fs)
    sfs = _state_fs(spark, fs, spec)
    state_dir = sfs.dir
    schema = dict(map(tuple, (cur or {}).get("schema") or []))
    specs = (
        _normalize_aggs(
            {k: tuple(v) for k, v in spec["aggs"].items()}, schema, group_by
        )
        if cur is not None and schema
        else None
    )
    v_before = cur["version"] if cur else 0
    fast_ok = (
        cur is not None
        and last is not None
        and _read_log(sfs) is not None
        and last["base_version"] >= v_before  # view current pre-append
        and specs is not None
        and not any(s["op"] == "n_distinct_exact" for s in specs)
    )
    if not fast_ok:
        append_snapshot(batch, base_dir, batch_id=batch_id, app_id=app_id)
        return refresh_append_view(spark, view_dir)

    from pyspark import InheritableThread

    res: dict = {}

    def _run_append():
        try:
            res["v"] = append_snapshot(
                batch, base_dir, batch_id=batch_id, app_id=app_id
            )
        except BaseException as e:  # re-raised after join
            res["err"] = e

    th = InheritableThread(target=_run_append, daemon=True)
    th.start()
    merged = None
    try:
        try:
            pinned_state = read_append_snapshot(
                spark, state_dir, version=last["state_version"]
            ).df
            dpart = _partial_agg(batch.df, group_by, specs)
            merged = _merge_state(
                pinned_state, dpart, group_by, specs
            ).persist()
            # materializes the WHOLE persisted merge NOW, overlapping
            # the append's write; the commit tail's key collect then
            # reads the cache
            merged.count()
        finally:
            th.join()
        if "err" in res:
            raise res["err"]
        v_new = res["v"]
        if v_new != v_before + 1:
            # batch-id replay (nothing appended) or a concurrent
            # writer in the window: the precomputed merge does not
            # describe the published window — converge sequentially
            return refresh_append_view(spark, view_dir) or v_new
        _commit_merged_batch(spark, state_dir, group_by, merged)
        return _write_refresh_record(
            fs, sfs, view_dir, state_dir, last, v_new, False
        )
    finally:
        if merged is not None:
            merged.unpersist()


def read_append_view(
    spark: SparkSession, view_dir: str, refresh_seq: int | None = None
) -> Frame:
    """The materialized result as of the LAST COMPLETED refresh —
    group columns plus the spec's aggregate outputs (hidden
    accumulators derived away: ``mean`` = stored sum / stored count).
    Reads the state PINNED at the refresh record's state version, so
    a concurrently-running (or crashed) refresh is invisible: readers
    always see one consistent refresh boundary, never a partial
    merge. Check freshness with :func:`append_view_status`.

    ``refresh_seq`` time-travels to an EARLIER refresh boundary (the
    ``seq`` of a record from ``append_view_status``'s history): the
    view exactly as that refresh left it — valid as long as
    :func:`maintain_append_view`'s record pruning and the state
    vacuum retain that record and its state version (lagging readers
    fail loudly, never see mixed boundaries)."""
    fs = _TableFS(view_dir, spark)
    spec = _load_spec(fs)
    if refresh_seq is None:
        last = _latest_refresh(fs)
        if last is None:
            raise FileNotFoundError(
                f"view at {view_dir!r} has never been refreshed — run "
                "refresh_append_view first"
            )
    else:
        text = fs.read_text(f"_REFRESH.{refresh_seq}")
        if text is None:
            raise FileNotFoundError(
                f"refresh record {refresh_seq} not found at {view_dir!r} "
                "(never written, or pruned by maintain_append_view)"
            )
        last = json.loads(text)
    state = read_append_snapshot(
        spark, _state_fs(spark, fs, spec).dir,
        version=last["state_version"],
    ).df
    cols = [F.col(g) for g in spec["group_by"]]
    for name, (op, _col) in spec["aggs"].items():
        if op == "mean":
            cols.append(
                (F.col(f"_acc_{name}_sum")
                 / F.col(f"_acc_{name}_cnt")).alias(name)
            )
        elif op == "n_distinct":
            cols.append(
                F.coalesce(
                    F.hll_sketch_estimate(F.col(f"_acc_{name}_hll")),
                    F.lit(0),
                ).cast("long").alias(name)
            )
        else:
            cols.append(F.col(name))
    return Frame(state.select(*cols), ())


def maintain_append_view(
    spark: SparkSession,
    view_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    purge_deletes: bool = True,
    keep_last: int = 3,
    keep_records: int = 20,
    orphan_grace_hours: float = 24.0,
) -> dict:
    """State-table maintenance for a view — the OPTIMIZE/VACUUM pass
    its append-table state needs after many refreshes (each refresh is
    a keyed MERGE: one new segment + accreted deletion vectors):
    bin-pack-compact the state (materializing the DVs with
    ``purge_deletes``), RE-PIN the refresh record to the compacted
    state version (content-identical — compaction is
    dataChange=false — so this is a maintenance record with the SAME
    base_version), then vacuum state history KEEPING the pinned
    version and prune refresh records past ``keep_records``.

    Never call ``vacuum_append_snapshot`` on the state directly with a
    small ``keep_last``: readers pin the recorded state version, and a
    raw vacuum doesn't know about it — this wrapper is the safe
    ordering (re-pin first, vacuum second). Refuses when the state
    carries provisional commits beyond the record (a crashed refresh's
    junk — compacting it into the pinned lineage would expose it);
    run ``refresh_append_view`` first, which converges over the junk.
    Single-maintainer contract, like refresh."""
    from cuplyr_spark.sources.connectors import (
        compact_append_snapshot,
        vacuum_append_snapshot,
    )

    fs = _TableFS(view_dir, spark)
    spec = _load_spec(fs)
    last = _latest_refresh(fs)
    if last is None:
        raise FileNotFoundError(
            f"view at {view_dir!r} has never been refreshed — nothing "
            "to maintain"
        )
    sfs = _state_fs(spark, fs, spec)
    state_log = _read_log(sfs)
    if state_log is None or state_log["version"] != last["state_version"]:
        raise ConcurrentWriteError(
            "maintain_append_view: the state table has commits beyond "
            f"the last refresh record (at {last['state_version']}) — a "
            "crashed or concurrent refresh; run refresh_append_view "
            "first (it converges), then maintain"
        )
    new_v = compact_append_snapshot(
        spark, sfs.dir,
        target_file_bytes=target_file_bytes,
        purge_deletes=purge_deletes,
    )
    if new_v is not None:
        seq = last["seq"] + 1
        record = {
            "seq": seq,
            "base_version": last["base_version"],
            "state_version": new_v,
            "maintenance": True,
        }
        if not fs.write_text_exclusive(
            f"_REFRESH.{seq}", json.dumps(record), f".tmp.{seq}"
        ):
            raise ConcurrentWriteError(
                f"refresh record {seq} at {view_dir!r} was committed by "
                "another maintainer — re-run"
            )
        last = record
    removed = vacuum_append_snapshot(
        sfs.dir, keep_last=keep_last, spark=spark,
        orphan_grace_hours=orphan_grace_hours,
    )
    pruned = []
    floor = last["seq"] - keep_records
    for name in fs.listdir():
        m = _REFRESH.match(name)
        if m and int(m.group(1)) <= floor:
            _rm(fs, name)
            pruned.append(name)
    return {
        "compacted_to": new_v,
        "pinned_state_version": last["state_version"],
        "vacuumed_segments": removed,
        "pruned_records": sorted(pruned),
    }


def append_view_status(spark: SparkSession, view_dir: str) -> dict:
    """Freshness/lineage metadata — pure manifest reads: the base's
    published version, the version the view covers, the lag between
    them, and the recent refresh records (feeds refresh scheduling
    exactly like ``append_history`` feeds compaction scheduling)."""
    fs = _TableFS(view_dir, spark)
    spec = _load_spec(fs)
    last = _latest_refresh(fs)
    cur = _read_log(_TableFS(spec["base"], spark))
    base_v = cur["version"] if cur else 0
    refreshed = last["base_version"] if last else 0
    records = []
    for name in sorted(fs.listdir()):
        m = _REFRESH.match(name)
        if m:
            records.append(json.loads(fs.read_text(name)))
    records.sort(key=lambda r: r["seq"])
    return {
        "base": spec["base"],
        "group_by": list(spec["group_by"]),
        "aggs": dict(spec["aggs"]),
        "base_version": base_v,
        "refreshed_base_version": refreshed,
        "lag_versions": base_v - refreshed,
        "state_version": last["state_version"] if last else None,
        "refreshes": records[-20:],
    }
