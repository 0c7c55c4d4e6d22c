"""Frame — the engine's single table abstraction.

Maps the reference's ``tbl_gpu`` handle (cuplyr ``R/tbl-gpu.R:133-159``:
device table pointer + schema + lazy AST + group metadata) onto a thin
immutable wrapper over a ``pyspark.sql.DataFrame``:

- the DataFrame *is* the lazy plan (Catalyst replaces the reference's
  AST + 6-pass optimizer, SURVEY §4 — zero custom rules needed);
- ``groups`` is pure metadata, exactly as in the reference
  (``R/group-by.R:51-82``);
- eager mode collapses away: Spark is always lazy; ``compute()`` is
  persist+materialize, ``collect()`` is the only host transfer.

Every verb returns a NEW Frame (reference tables are immutable,
``src/ops_mutate.cpp:60-67`` — DataFrames already are).

Verbs and their semantics (file:line cites are into /root/reference):

========== ======================================================
select      tidyselect incl. helpers; de-selected grouping columns
            are dropped from groups (``R/select.R:55-115``)
filter      predicates ANDed; NULL comparisons drop rows
            (``R/filter.R:137-177``) — native Spark WHERE behavior
mutate      sequential exprs, later exprs see earlier outputs
            (``tests/testthat/test-mutate.R:250``); name collision
            replaces in place preserving position
            (``R/mutate.R:26-29``)
arrange     multi-key; NA last when ascending / first when
            descending (``src/ops_arrange.cpp:74-82``); stable via
            explicit row-index tiebreaker (Spark sort is not
            guaranteed stable, reference uses stable_sorted_order)
group_by    metadata only; ``add=True`` appends (``R/group-by.R``)
summarise   one shuffle; group cols first in output; result always
            ungrouped (``.groups="drop"``, ``R/summarise.R:119-125``)
joins       equi-joins, NULL keys match (null_equality::EQUAL,
            ``src/ops_join.cpp:161``) -> eqNullSafe; keep=False
            drops right keys; ``.x``/``.y`` suffixes on conflicts
            (``R/join.R:70-100``)
bind_rows   union by name + type promotion lattice (``R/bind.R``)
bind_cols   positional zip via row index (order-fragile at scale;
            documented divergence, SURVEY §7)
head        LIMIT (fixes the reference's dead-code ast_head,
            ``R/ast.R:114-122``)
compute     persist + materialize (``R/compute.R:52-83``)
collect     to pandas (``R/collect.R:55-100``)
show_query  physical/logical plan (``R/compute.R:222-239``)
========== ======================================================
"""

from __future__ import annotations

import functools
import operator
import re
import warnings
from collections import Counter
from collections.abc import Callable, Iterable, Mapping
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuplyr_spark.agg import AggSpec
from cuplyr_spark.functions.expr import compile_expr
from cuplyr_spark.schema import unify_schemas
from cuplyr_spark.selectors import Selector, resolve_selection


class Desc:
    """Marker for a descending sort key (dplyr ``desc(col)``)."""

    def __init__(self, col: str | Column):
        self.col = col


def desc(col: str | Column) -> Desc:
    return Desc(col)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst bottom-up size estimate from the ANALYZED plan.

    Analyzed (not optimized) stats so no optimizer pass is forced just
    for a guard; the estimate is conservative — filters don't shrink
    it — which is the right bias for an OOM guard."""
    try:
        return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except Exception:
        return None


def broadcast_guarded(
    df: DataFrame, max_bytes: int | None = None, what: str = "broadcast",
    known_bytes: int | None = None,
) -> DataFrame:
    """Size-guarded ``F.broadcast`` — THE broadcast path for every
    internal pipeline join (query sets, probe tables, decontamination
    gram sets) as well as :meth:`Frame.broadcast`.

    An explicit hint overrides Spark's size-based strategy choice and
    every executor (plus the driver) materializes the whole relation,
    with a hard 8 GB ceiling — so a hint on a side whose Catalyst
    estimate exceeds ``max_bytes`` (default
    :data:`Frame.BROADCAST_MAX_BYTES`) is DROPPED with a warning
    rather than shipped: the plain join degrades gracefully and AQE
    still broadcasts at runtime when the actual size turns out small.
    The estimate is conservative (analyzed-plan stats ignore filters),
    which matches the tpch_q5/q8/q10 precedent: a hint that Catalyst
    can't PROVE small at the source should not ship.

    ``max_bytes=0`` disables the check (the ``force=True`` of the
    DataFrame-level path).

    ``known_bytes`` replaces the Catalyst estimate when the CALLER
    holds a better bound — e.g. an exact ``count()`` of the relation
    times a per-row width. Catalyst's analyzed-plan stats for a
    partial aggregate / distinct over a derived batch are routinely
    inflated by orders of magnitude (the view-refresh MERGE probe's
    20k-row key set was estimated at ~1.19 GB), and a steady-state
    plan should not depend on AQE rescuing a dropped hint at
    runtime."""
    limit = Frame.BROADCAST_MAX_BYTES if max_bytes is None else max_bytes
    if limit and limit > 0:
        est = known_bytes if known_bytes is not None else plan_size_bytes(df)
        if est is not None and est > limit:
            warnings.warn(
                f"{what}: hint dropped — this side is estimated at "
                f"~{est / 1e6:,.0f} MB (> {limit / 1e6:,.0f} MB). Every "
                "executor materializes a broadcast relation in memory and "
                "Spark rejects broadcasts over 8 GB; AQE will still "
                "broadcast at runtime if the actual size is small. "
                "Filter/project the small side first, or disable the guard "
                "with max_bytes=0 if you know better than the estimate.",
                stacklevel=3,
            )
            return df
    return F.broadcast(df)


def _as_column(x: Any, columns=None) -> Column:
    """Interpret a verb argument as a Column expression.

    Strings are SQL expressions (plain identifiers become column refs);
    Columns pass through; any other Python scalar becomes a literal.
    ``columns`` (the frame's top-level names, when the caller has a
    frame in hand) lets dotted names resolve as struct-field access
    when no flat column carries the dotted name."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x) if x.isidentifier() else compile_expr(x, columns)
    return F.lit(x)


def repair_names(names: list[str], how: str | Callable[[str], str] = "unique") -> list[str]:
    """vctrs-style name repair (reference ``R/bind.R:237-261``).

    - ``"minimal"``: keep as-is (duplicates allowed — Spark DataFrames
      tolerate them; name-based selection on a duplicate then errors,
      matching the reference's "preserved on GPU, tibble enforces
      uniqueness at collect" stance).
    - ``"check_unique"``: error on duplicated or empty names.
    - ``"unique"``: every occurrence of a duplicated (or empty) name
      becomes ``name...position`` (1-based position across the result,
      vctrs convention — NOT occurrence count).
    - ``"universal"``: like unique, after replacing non-identifier
      characters with ``_`` (Python-flavored analog of vctrs's
      syntactic-R-names rule; divergence documented).
    - a callable: applied to every name, then checked unique.
    """
    if callable(how):
        out = [how(n) for n in names]
        dup = sorted({n for n, c in Counter(out).items() if c > 1})
        if dup:
            raise ValueError(f"name_repair function produced duplicates: {dup}")
        return out
    if how == "minimal":
        return list(names)
    if how == "check_unique":
        dup = sorted({n for n, c in Counter(names).items() if c > 1 or n == ""})
        if dup:
            raise ValueError(
                f"bind_cols: column names must be unique; duplicates: {dup} "
                "(name_repair='check_unique')"
            )
        return list(names)
    if how in ("unique", "universal"):
        base = list(names)
        if how == "universal":
            base = [
                ("_" + n2 if n2 and n2[0].isdigit() else n2)
                for n2 in (re.sub(r"[^0-9A-Za-z_]", "_", n) for n in base)
            ]
        counts = Counter(base)
        return [
            f"{n}...{i}" if (counts[n] > 1 or n == "") else n
            for i, n in enumerate(base, start=1)
        ]
    raise ValueError(f"unknown name_repair {how!r}")


def _zip_index(df: DataFrame, idx: str) -> DataFrame:
    """Assign a 0-based contiguous row index IN PARALLEL.

    Same scheme as RDD ``zipWithIndex``: one small count job per
    partition, cumulative offsets computed on the driver (one int per
    partition), then ``offset + row_number`` inside each partition — a
    keyed window, never a global single-task one. Row order is
    (partition id, within-partition order), identical to ordering by
    ``monotonically_increasing_id``.

    Caveats (documented, inherent to row-zip semantics): the input is
    evaluated twice (count job + main job), so the upstream plan must be
    deterministic — which parquet scans and narrow transforms are.
    """
    pid, mid, off = "__cuplyr_pid__", "__cuplyr_mid__", "__cuplyr_off__"
    d = df.withColumn(pid, F.spark_partition_id()).withColumn(
        mid, F.monotonically_increasing_id()
    )
    counts = d.groupBy(pid).count().collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r[pid]):
        offsets.append((int(row[pid]), acc))
        acc += int(row["count"])
    # Per-partition offsets as a MAP LITERAL, not a broadcast-joined
    # local relation (r15 optimization round): the offsets are one int
    # per partition, but `createDataFrame(py_rows)` executes as a
    # pickled-row scan whose every use round-trips a Python worker, and
    # the join added a broadcast exchange to every zip plan. A map
    # literal keyed on spark_partition_id is pure JVM expression — same
    # values, one fewer exchange, no Python boundary (guide §4).
    omap = F.create_map(
        *[x for p, o in offsets for x in (F.lit(p), F.lit(o))]
    )
    w = Window.partitionBy(pid).orderBy(mid)
    return (
        d.withColumn(
            idx,
            (
                F.coalesce(F.element_at(omap, F.col(pid)), F.lit(0))
                + F.row_number().over(w) - 1
            ).cast("long"),
        )
        .drop(pid, mid)
    )


def _q(name: str) -> str:
    """Quoted SQL identifier for an exact column name — backticked so
    dotted names (join suffixes ``v.x``, bind_cols repairs ``a...2``)
    resolve as top-level columns, not nested-field paths. Internal
    projections are built from this text in one DataFrame call
    (``toDF``, ``selectExpr``, ``F.expr``): in pyspark 4 each ``F.col``
    or ``Column`` method costs a dozen py4j round trips."""
    return "`" + name.replace("`", "``") + "`"


class Frame:
    """Immutable table handle: DataFrame + grouping metadata."""

    def __init__(
        self,
        df: DataFrame,
        groups: tuple[str, ...] = (),
        group_mode: str = "groupby",
        factor_levels: Mapping[str, list] | None = None,
    ):
        self._df = df
        self._groups = tuple(groups)
        # "groupby" | "cube" | "rollup" — how summarise() expands the
        # group keys; set by cube()/rollup(), reset by any other verb.
        self._group_mode = group_mode
        # Opt-in factor round-trip (reference DICTIONARY32: codes on
        # device + levels in schema, R/tbl-gpu.R:88-99, R/collect.R:74-81):
        # {column: [levels]} for integer-code columns; restored to
        # pandas Categorical at collect(). Best-effort metadata — it
        # survives verbs that keep the column; collect() verifies the
        # column still exists with integer dtype before restoring.
        self._factor_levels = dict(factor_levels) if factor_levels else {}

    # -- accessors ----------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """Escape hatch: the underlying pyspark DataFrame."""
        return self._df

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    @property
    def schema(self) -> T.StructType:
        return self._df.schema

    def group_vars(self) -> tuple[str, ...]:
        return self._groups

    def dim(self) -> tuple[int, int]:
        """(nrows, ncols) — nrows runs a count job."""
        return (self._df.count(), len(self._df.columns))

    def __repr__(self) -> str:
        g = f" groups={list(self._groups)}" if self._groups else ""
        return f"<Frame [{', '.join(self.columns)}]{g}>"

    def _with(self, df: DataFrame, groups: tuple[str, ...] | None = None) -> Frame:
        return Frame(
            df,
            self._groups if groups is None else groups,
            factor_levels=self._factor_levels,
        )

    # -- projection (§2.2) ---------------------------------------------

    def select(self, *args: str | Selector | Iterable) -> Frame:
        """Keep/reorder columns; tidyselect helpers supported.

        Grouping columns that are de-selected are dropped from the
        group metadata (reference ``R/select.R:98-110``).
        """
        cols = resolve_selection(args, self._df.columns, self._df.schema)
        groups = tuple(g for g in self._groups if g in cols)
        return Frame(self._df.selectExpr(*[_q(c) for c in cols]), groups)

    def set_names(self, *names: str) -> Frame:
        """Replace ALL column names positionally (reference ``names<-``,
        ``R/tbl-gpu.R:252-305``)."""
        if len(names) != len(self._df.columns):
            raise ValueError(
                f"set_names: got {len(names)} names for {len(self._df.columns)} columns"
            )
        old_groups = self._groups
        pos = {c: i for i, c in enumerate(self._df.columns)}
        groups = tuple(names[pos[g]] for g in old_groups)
        return Frame(self._df.toDF(*names), groups)

    def glimpse(self, n: int = 5) -> None:
        """dplyr-style transposed preview (reference print,
        ``R/print.R:4-72``): schema + first values per column."""
        rows = self._df.limit(n).collect()
        print(f"Columns: {len(self._df.columns)}")
        if self._groups:
            print(f"Groups: {', '.join(self._groups)}")
        for field in self._df.schema.fields:
            vals = ", ".join(str(r[field.name]) for r in rows)
            print(f"$ {field.name:<24} <{field.dataType.simpleString()}> {vals}")

    def filter_mask(self, mask: list[bool]) -> Frame:
        """Row filter by a host-side boolean vector (reference
        ``filter(<logical vector>)``, ``src/ops_filter.cpp:91-141``).

        SCALE WARNING (same as SURVEY §2.3 notes): the mask lives on
        the driver and is joined via a row index — fine for notebook-
        scale frames, an anti-pattern on big data; prefer expressing
        the predicate as a column expression."""
        idx = "__cuplyr_mask_idx__"
        indexed = _zip_index(self._df, idx)
        keep = [i for i, m in enumerate(mask) if m]
        return self._with(indexed.filter(F.col(idx).isin(keep)).drop(idx))

    def rename(self, **mapping: str) -> Frame:
        """``rename(new=old)`` — dplyr argument order."""
        old_to_new = {old: new for new, old in mapping.items()}
        missing = [o for o in old_to_new if o not in self._df.columns]
        if missing:
            raise KeyError(f"rename(): unknown columns {missing}")
        df = self._df.withColumnsRenamed(old_to_new)
        groups = tuple(old_to_new.get(g, g) for g in self._groups)
        return Frame(df, groups)

    def rename_with(self, fn: Callable[[str], str], *cols: str) -> Frame:
        """dplyr rename_with: transform column names with a Python
        function (all columns, or just the listed ones)."""
        targets = set(cols) if cols else set(self.columns)
        mapping = {c: fn(c) if c in targets else c for c in self.columns}
        out = self._df.toDF(*mapping.values())
        return Frame(out, tuple(mapping[g] for g in self._groups))

    # complete() grids larger than this REFUSE (raise) rather than
    # build: the cross join multiplies distinct counts, so completing
    # on high-cardinality ids silently becomes a job-killing explosion
    # at cluster scale. 10M cells is far beyond any categorical grid.
    COMPLETE_MAX_CELLS = 10_000_000

    def complete(
        self,
        *cols: str,
        fill: dict | None = None,
        max_cells: int | None = None,
    ) -> Frame:
        """tidyr complete: expand to ALL combinations of the listed
        key columns (cross join of their distinct values — one tiny
        shuffle per key column), left-join the data back, optionally
        fill the introduced NULLs.

        Combination count multiplies — complete() is meant for
        categorical keys, not high-cardinality ids, and that policy is
        ENFORCED: a guard job (one column-pruned distinct-count
        aggregate over just the key columns — cheap next to the grid
        build it prevents) estimates the grid size and **refuses**
        (raises) when it exceeds ``max_cells`` (default
        :data:`COMPLETE_MAX_CELLS`). ``max_cells=0`` disables the
        guard for callers who accept the blowup."""
        if len(cols) < 1:
            raise ValueError("complete() needs at least one column")
        limit = self.COMPLETE_MAX_CELLS if max_cells is None else max_cells
        if limit and limit > 0:
            aggs = []
            for c in cols:
                aggs.append(F.expr(f"count(DISTINCT {_q(c)}) AS {_q('__n_' + c)}"))
                aggs.append(
                    F.expr(f"max(CAST({_q(c)} IS NULL AS INT)) AS {_q('__null_' + c)}")
                )
            row = self._df.agg(*aggs).first()
            cells = 1
            for c in cols:
                # tidyr keeps NA as a grid level, so a NULL adds one
                cells *= max(1, row[f"__n_{c}"] + (row[f"__null_{c}"] or 0))
            if cells > limit:
                raise ValueError(
                    f"complete(): grid of {cells:,} combinations over "
                    f"{cols} exceeds max_cells={limit:,} — completing on "
                    "high-cardinality keys explodes multiplicatively at "
                    "scale. Complete on categorical keys, or pass "
                    "max_cells=0 to force."
                )
        grid = None
        for c in cols:
            d = self._df.selectExpr(_q(c)).distinct()
            grid = d if grid is None else grid.crossJoin(d)
        # Null-safe key matching: tidyr::complete keeps NA as a level, so
        # a source row with NULL in a completed key must join back to the
        # grid's NULL row rather than silently vanish (same na_matches
        # default as _join). Rename the right side to avoid ambiguity.
        tag = "__cuplyr_complete__"
        right = self._df.withColumnsRenamed({c: tag + c for c in cols})
        cond = F.expr(" AND ".join(f"{_q(c)} <=> {_q(tag + c)}" for c in cols))
        out = grid.join(right, on=cond, how="left").drop(*[tag + c for c in cols])
        frame = self._with(out)
        return frame.replace_na(**fill) if fill else frame

    def relocate(self, *cols: str, before: str | None = None, after: str | None = None) -> Frame:
        if before is not None and after is not None:
            raise ValueError("relocate(): pass only one of before/after")
        orig = self._df.columns
        unknown = [c for c in cols if c not in orig]
        if unknown:
            raise KeyError(f"relocate(): unknown columns {unknown}")
        existing = [c for c in orig if c not in cols]
        moved = list(cols)
        anchor = before if before is not None else after
        if anchor is not None:
            if anchor not in orig:
                raise KeyError(f"relocate(): unknown anchor column {anchor!r}")
            # Resolve the anchor against the ORIGINAL order so an anchor
            # that is itself being moved (valid in dplyr) still works:
            # the insertion point is the number of non-moved columns that
            # precede it.
            ai = orig.index(anchor)
            i = sum(1 for c in orig[:ai] if c not in cols)
            if after is not None and anchor not in cols:
                i += 1
        else:
            i = 0
        new_order = existing[:i] + moved + existing[i:]
        return self._with(self._df.selectExpr(*[_q(c) for c in new_order]))

    # -- filter (§2.3) -------------------------------------------------

    def filter(self, *predicates: str | Column | bool) -> Frame:
        """Row filter; multiple predicates are ANDed.

        Richer than the reference grammar (col-op-scalar / col-op-col,
        ``R/filter.R:137-177``): any Spark boolean expression works.
        NULL comparison results drop the row, matching both dplyr and
        SQL WHERE.
        """
        if not predicates:
            return self
        known = self._df.columns
        cols = [
            _as_column(p, known) if not isinstance(p, bool) else F.lit(p)
            for p in predicates
        ]
        cond = functools.reduce(operator.and_, cols)
        return self._with(self._df.filter(cond))

    # -- mutate (§2.4) -------------------------------------------------

    def mutate(self, **exprs: Any) -> Frame:
        """Add/replace columns; exprs evaluated sequentially so later
        expressions can reference earlier outputs. A colliding name
        replaces the column in place, preserving position (Spark
        ``withColumn`` has exactly this rule). Catalyst's
        CollapseProject / whole-stage codegen fuses the chain into one
        pass — the reference needed a dedicated batching kernel +
        toposort for this (``src/ops_mutate_batch.cpp:42-203``).

        On a GROUPED frame, an AggSpec value becomes a per-group
        window value (dplyr grouped-mutate semantics):
        ``t.group_by("g").mutate(gmean=A.mean("x"))`` attaches each
        group's mean to every row — one shuffle on the group keys.
        """
        from cuplyr_spark.functions.window import WinSpec

        df = self._df
        for name, value in exprs.items():
            if isinstance(value, WinSpec):
                df = df.withColumn(name, value.resolve_window(df, self._groups))
            elif isinstance(value, AggSpec):
                # agg + (null-safe) join back, NOT a window: a window
                # partitioned on low-cardinality groups serializes each
                # group through one task, while the agg is partial+final
                # and the per-group result is tiny (broadcast-joinable).
                agg_row = (
                    df.groupBy(*[_q(g) for g in self._groups]).agg(
                        value.resolve(df).alias(name)
                    )
                    if self._groups
                    else df.agg(value.resolve(df).alias(name))
                )
                if self._groups:
                    cond = functools.reduce(
                        operator.and_,
                        [df[g].eqNullSafe(agg_row[g]) for g in self._groups],
                    )
                    # AQE picks broadcast when the per-group result is
                    # small; no hint so high-cardinality groups still work.
                    df = df.join(agg_row, cond).drop(
                        *[agg_row[g] for g in self._groups]
                    )
                else:
                    df = df.crossJoin(F.broadcast(agg_row))
            else:
                df = df.withColumn(name, _as_column(value, df.columns))
        return self._with(df)

    def transmute(self, **exprs: Any) -> Frame:
        """mutate + keep only the results (and grouping columns)."""
        out = self.mutate(**exprs)
        keep = [c for c in self._groups if c not in exprs] + list(exprs)
        return Frame(out._df.selectExpr(*[_q(c) for c in keep]), self._groups)

    # -- arrange (§2.5) ------------------------------------------------

    def arrange(self, *keys: str | Column | Desc, by_group: bool = False, stable: bool = False) -> Frame:
        """Multi-key sort with the reference's NA rule: NAs last for
        ascending keys, first for descending (``src/ops_arrange.cpp:
        74-82``). ``stable=True`` appends a row-index tiebreaker to
        emulate the reference's stable sort (Spark's range-partitioned
        sort is not stable); the index is assigned before sorting and
        reflects current partition order. ``by_group`` prepends the
        grouping columns to the sort keys (``R/arrange.R:102-140``).
        """
        def order(k, descending: bool) -> Column:
            # column names sort by their quoted name text (one JVM call);
            # other strings are expressions, Columns pass through
            if isinstance(k, str) and k.isidentifier():
                return (F.desc_nulls_first if descending else F.asc_nulls_last)(_q(k))
            c = _as_column(k)
            return c.desc_nulls_first() if descending else c.asc_nulls_last()

        sort_cols: list[Column] = []
        if by_group:
            seen_keys = {k if isinstance(k, str) else None for k in keys}
            sort_cols.extend(
                F.asc_nulls_last(_q(g)) for g in self._groups if g not in seen_keys
            )
        for k in keys:
            # "-col" string is the reference's unary-minus descending
            # marker (R/arrange.R:76-227), same as desc("col").
            if isinstance(k, str) and k.startswith("-") and k[1:].isidentifier():
                k = Desc(k[1:])
            if isinstance(k, Desc):
                sort_cols.append(order(k.col, True))
            else:
                sort_cols.append(order(k, False))
        df = self._df
        if stable:
            idx = "__cuplyr_row_idx__"
            df = df.withColumn(idx, F.monotonically_increasing_id())
            sort_cols.append(F.col(idx).asc())
            return self._with(df.orderBy(*sort_cols).drop(idx))
        return self._with(df.orderBy(*sort_cols))

    # -- grouping + aggregation (§2.6) ----------------------------------

    def group_by(self, *cols: str | Selector, add: bool = False) -> Frame:
        """Metadata-only, like the reference (``R/group-by.R:51-82``)."""
        names = resolve_selection(cols, self._df.columns, self._df.schema)
        if add:
            names = [g for g in self._groups] + [n for n in names if n not in self._groups]
        return Frame(self._df, tuple(names))

    def ungroup(self) -> Frame:
        return Frame(self._df, ())

    # A group whose estimated bytes exceed this materializes as ONE
    # pandas DataFrame in one Python worker — the applyInPandas memory
    # contract. Same estimate-and-warn pattern as broadcast().
    GROUP_MODIFY_MAX_BYTES = 1024 * 1024 * 1024

    def group_modify(self, fn, schema, max_group_bytes: int | None = None) -> Frame:
        """dplyr ``group_modify``: apply an arbitrary
        pandas-DataFrame -> pandas-DataFrame function to each group.

        This is the sanctioned Arrow-batch escape hatch
        (``applyInPandas``) for per-group logic the expression grammar
        can't say — each group arrives as ONE pandas DataFrame
        (including the key columns, unlike dplyr which splits them
        off), and the returned frame must match ``schema``. Groups are
        processed partition-parallel after one shuffle on the group
        keys; a group must fit in executor memory, which is the same
        contract dplyr's list-of-frames model has on the driver.
        Prefer built-in verbs when they can express the computation —
        this path forfeits codegen and columnar execution.

        Per-group memory guard (the broadcast() pattern applied to the
        one Arrow escape hatch): if the frame's Catalyst size estimate
        exceeds ``max_group_bytes`` (default
        :data:`GROUP_MODIFY_MAX_BYTES`), one count-per-key probe
        estimates the LARGEST group's bytes as
        ``total_bytes * max_group_rows / total_rows`` and warns when it
        exceeds the threshold — a skewed key at 100× data scale then
        surfaces as an advisory instead of a Python-worker OOM. Frames
        estimated under the threshold skip the probe entirely (no group
        can exceed what the whole frame holds); ``max_group_bytes=0``
        disables the check.

        The probe is NOT free on the frames it fires for: it is a full
        scan + one groupBy shuffle + a scalar collect — roughly the
        cost of the group_modify's own shuffle. It runs at most once
        per (plan, groups): the result is memoized on this Frame (and
        Frames are immutable), so chained/retried group_modify calls on
        the same handle pay it once. Callers who already know the
        keying is safe should pass ``max_group_bytes=0`` to skip both
        the probe and the estimate."""
        if not self._groups:
            raise ValueError("group_modify requires group_by()")
        limit = self.GROUP_MODIFY_MAX_BYTES if max_group_bytes is None else max_group_bytes
        if limit and limit > 0:
            est = self._estimated_bytes()
            if est is not None and est > limit:
                probe = getattr(self, "_gm_probe", None)
                if probe is None:
                    probe = (
                        self._df.groupBy(*[_q(g) for g in self._groups])
                        .count()
                        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
                        .collect()[0]
                    )
                    self._gm_probe = probe
                if probe["tot"]:
                    biggest = est * probe["mx"] / probe["tot"]
                    if biggest > limit:
                        warnings.warn(
                            f"group_modify(): largest group is estimated at "
                            f"~{biggest / 1e6:,.0f} MB (> {limit / 1e6:,.0f} MB) "
                            f"({probe['mx']:,} of {probe['tot']:,} rows on one "
                            "key). Each group materializes as ONE pandas "
                            "DataFrame in one Python worker; re-key, pre-filter, "
                            "or pass max_group_bytes=0 to silence.",
                            stacklevel=2,
                        )
        out = self._df.groupBy(*[_q(g) for g in self._groups]).applyInPandas(
            fn, schema
        )
        return Frame(out, self._groups)

    def cube(self, *cols: str | Selector) -> Frame:
        """Aggregate over ALL 2^n combinations of the keys (each level
        NULL where rolled up). Spark computes this in the same
        partial+final hash agg as a plain groupBy — no extra passes."""
        return Frame(self._df, tuple(resolve_selection(cols, self._df.columns, self._df.schema)), "cube")

    def rollup(self, *cols: str | Selector) -> Frame:
        """Hierarchical subtotals: (a,b), (a), () for rollup("a","b")."""
        return Frame(self._df, tuple(resolve_selection(cols, self._df.columns, self._df.schema)), "rollup")

    def summarise(self, **aggs: AggSpec | Column) -> Frame:
        """One hash aggregation (partial+final, spill-capable — the
        scale upgrade over the reference's single-pass no-spill
        groupby, ``src/ops_groupby.cpp:129-160``). Output: group
        columns first, then aggregates; result is ungrouped
        (``.groups="drop"`` is the reference's only mode).
        """
        cols = [
            (spec.resolve(self._df) if isinstance(spec, AggSpec) else spec).alias(name)
            for name, spec in aggs.items()
        ]
        if self._groups:
            packed = self._packed_int_groupby(cols)
            if packed is not None:
                return packed
            gcols = [_q(g) for g in self._groups]
            base = {
                "cube": self._df.cube,
                "rollup": self._df.rollup,
                "groupby": self._df.groupBy,
            }[self._group_mode](*gcols)
            out = base.agg(*cols)
        else:
            out = self._df.agg(*cols)
        return Frame(out, ())

    def _packed_int_groupby(self, agg_cols: list[Column]) -> Frame | None:
        """Pack 2-3 integer group keys into ONE long before aggregating,
        then unpack — one hash probe per row instead of a composite-key
        probe. Measured ~1.6x on the 25M-row reference group&summarise
        (the hash probe, not the scan, dominates that query).

        Bit budget is STATIC, from the declared types (byte=8, short=16,
        int=32 bits) plus one sentinel bit per nullable key; the path
        engages only when the total fits a 64-bit long, so it is exact
        for every value including negatives (masked store, sign-extending
        shift restore) and NULLs (sentinel bit set, value field zeroed —
        NULL stays its own group, distinct from value 0). Three int32
        keys need 96 bits and fall back to the composite probe; packing
        them into 21 bits each would need value-range knowledge the plan
        doesn't have and would corrupt groups silently when wrong."""
        if self._group_mode != "groupby" or not (2 <= len(self._groups) <= 3):
            return None
        fields = {f.name: f for f in self._df.schema.fields}
        widths: list[int] = []
        nullable: list[bool] = []
        for g in self._groups:
            f = fields.get(g)
            if f is None:
                return None
            if isinstance(f.dataType, T.ByteType):
                w = 8
            elif isinstance(f.dataType, T.ShortType):
                w = 16
            elif isinstance(f.dataType, T.IntegerType):
                w = 32
            else:
                return None
            widths.append(w)
            nullable.append(f.nullable)
        n_null_bits = sum(nullable)
        if sum(widths) + n_null_bits > 64:
            return None
        # layout (MSB → LSB): key fields in group order, then one
        # sentinel bit per nullable key at the bottom
        los: list[int] = []  # low bit offset of each value field
        off = n_null_bits
        for w in reversed(widths):
            los.append(off)
            off += w
        los.reverse()
        # the key and its restore are SQL text: one JVM call each
        key = "CAST(0 AS BIGINT)"
        null_bit = 0
        null_pos: list[int | None] = []
        for g, w, lo, isnull in zip(self._groups, widths, los, nullable):
            val = f"(coalesce(CAST({_q(g)} AS BIGINT), 0) & {(1 << w) - 1})"
            key = f"({key} | {f'shiftleft({val}, {lo})' if lo else val})"
            if isnull:
                bit = f"CAST({_q(g)} IS NULL AS BIGINT)"
                key = f"({key} | {f'shiftleft({bit}, {null_bit})' if null_bit else bit})"
                null_pos.append(null_bit)
                null_bit += 1
            else:
                null_pos.append(None)
        agged = self._df.groupBy(F.expr(f"{key} AS __cuplyr_pk__")).agg(*agg_cols)
        agg_names = [c for c in agged.columns if c != "__cuplyr_pk__"]
        restored = []
        for g, w, lo, npos in zip(self._groups, widths, los, null_pos):
            # sign-extending restore of the w-bit field at offset lo
            val = (
                f"CAST(shiftright(shiftleft(__cuplyr_pk__, {64 - lo - w}), {64 - w})"
                f" AS {fields[g].dataType.simpleString()})"
            )
            if npos is not None:
                val = (
                    f"CASE WHEN (shiftright(__cuplyr_pk__, {npos}) & 1) = 1"
                    f" THEN NULL ELSE {val} END"
                )
            restored.append(f"{val} AS {_q(g)}")
        return Frame(agged.selectExpr(*restored, *[_q(c) for c in agg_names]), ())

    summarize = summarise

    def count(self, *cols: str, name: str = "n", sort: bool = False) -> Frame:
        """dplyr ``count()``: group sizes."""
        groups = list(cols) or list(self._groups)
        if groups:
            out = self._df.groupBy(*[_q(g) for g in groups]).agg(F.expr(f"count(1) AS {_q(name)}"))
        else:
            out = self._df.agg(F.expr(f"count(1) AS {_q(name)}"))
        if sort:
            out = out.orderBy(F.desc_nulls_first(_q(name)))
        return Frame(out, ())

    def tally(self, name: str = "n", sort: bool = False) -> Frame:
        """dplyr tally(): count over the current groups."""
        return self.count(name=name, sort=sort)

    def add_count(self, *cols: str, name: str = "n") -> Frame:
        """dplyr add_count(): attach the group size as a column
        without collapsing rows — a keyed window, no driver round-trip."""
        groups = list(cols) or list(self._groups)
        if not groups:
            raise ValueError("add_count() needs columns or group_by() keys")
        keys = ", ".join(_q(g) for g in groups)
        return self._with(
            self._df.withColumn(name, F.expr(f"count(1) OVER (PARTITION BY {keys})"))
        )

    def n_groups(self) -> int:
        """dplyr n_groups(): distinct group-key combinations (count job)."""
        if not self._groups:
            return 1
        return self._df.selectExpr(*[_q(g) for g in self._groups]).distinct().count()

    def slice_sample(
        self,
        n: int | None = None,
        fraction: float | None = None,
        seed: int = 0,
    ) -> Frame:
        """dplyr slice_sample(): random rows. ``fraction`` maps to
        Bernoulli sampling (scan-local, scale path); ``n`` ranks by a
        seeded rand and takes the top-n (TakeOrdered — no full sort)."""
        if (n is None) == (fraction is None):
            raise ValueError("slice_sample: pass exactly one of n/fraction")
        if fraction is not None:
            return self._with(self._df.sample(fraction=fraction, seed=seed))
        return self._with(self._df.orderBy(F.rand(seed)).limit(n))

    def distinct(self, *cols: str) -> Frame:
        """Distinct rows (Spark-native; absent from the reference but
        free here — SURVEY §2.8)."""
        if cols:
            return Frame(self._df.selectExpr(*[_q(c) for c in cols]).distinct(), ())
        return self._with(self._df.distinct())

    # -- joins (§2.7) ----------------------------------------------------

    def inner_join(self, other: Frame, by=None, suffix=(".x", ".y"), na_matches="na", keep=False) -> Frame:
        return self._join(other, by, "inner", suffix, na_matches, keep)

    def left_join(self, other: Frame, by=None, suffix=(".x", ".y"), na_matches="na", keep=False) -> Frame:
        return self._join(other, by, "left", suffix, na_matches, keep)

    def right_join(self, other: Frame, by=None, suffix=(".x", ".y"), na_matches="na", keep=False) -> Frame:
        return self._join(other, by, "right", suffix, na_matches, keep)

    def full_join(self, other: Frame, by=None, suffix=(".x", ".y"), na_matches="na", keep=False) -> Frame:
        return self._join(other, by, "full", suffix, na_matches, keep)

    def semi_join(self, other: Frame, by=None, na_matches="na") -> Frame:
        """EXISTS filter — Spark left_semi (extension; reference lacks
        semi/anti, ``README.md:72-78``)."""
        return self._join(other, by, "left_semi", (".x", ".y"), na_matches, False)

    def anti_join(self, other: Frame, by=None, na_matches="na") -> Frame:
        return self._join(other, by, "left_anti", (".x", ".y"), na_matches, False)

    # -- keyed row modification (dplyr rows_* family) --------------------

    def _rows_keys(self, y: Frame, by) -> list[str]:
        """Key resolution for the rows_* family. dplyr's documented
        default is the FIRST column of y — not a natural join on all
        common columns, which for the typical same-schema x/y would
        make every column a key, leave an empty payload, and turn
        rows_update/rows_patch into silent no-ops."""
        if by is None:
            return [y._df.columns[0]]
        return list(self._resolve_by(y, by))

    def _rows_prep(self, y: Frame, by):
        keys = self._rows_keys(y, by)
        if sorted(self._df.columns) != sorted(y._df.columns) and not set(
            y._df.columns
        ) <= set(self._df.columns):
            raise ValueError(
                f"rows_* verb: y has columns {sorted(set(y._df.columns) - set(self._df.columns))} not in x"
            )
        payload = [c for c in y._df.columns if c not in keys]
        return keys, payload

    def rows_insert(self, y: Frame, by=None, conflict: str = "ignore") -> Frame:
        """dplyr ``rows_insert``: append y rows whose keys are absent
        from x. ``conflict="ignore"`` (default here; dplyr defaults to
        error) silently skips y keys already present — the only mode
        that stays a pure plan; ``"error"`` runs one count to enforce
        key absence. One key-grain anti-join either way."""
        keys, _ = self._rows_prep(y, by)
        if conflict == "error":
            n = self._df.join(y._df.select(*keys), on=keys, how="inner").count()
            if n:
                raise ValueError(f"rows_insert: {n} y key(s) already exist in x")
        elif conflict != "ignore":
            raise ValueError("conflict must be 'ignore' or 'error'")
        new_rows = y._df.join(self._df.select(*keys), on=keys, how="left_anti")
        out = self._df.unionByName(
            new_rows.select(*self._df.columns)
            if set(y._df.columns) == set(self._df.columns)
            else new_rows,
            allowMissingColumns=True,
        )
        return Frame(out, self._groups)

    def _rows_merge(self, y: Frame, by, take_y) -> Frame:
        """Shared matched-row merge: left join on keys, per-column
        choice between x's and y's value via ``take_y(xcol, ycol)``,
        which maps the two quoted column names to SQL text."""
        keys, payload = self._rows_prep(y, by)
        if not payload:
            raise ValueError(
                "rows_update/rows_patch/rows_upsert: y has no non-key "
                f"columns (keys={keys}) — nothing to merge. Pass by= "
                "naming the key column(s) explicitly."
            )
        ydf = y._df.selectExpr(
            *[_q(k) for k in keys],
            "true AS __m",
            *[f"{_q(c)} AS {_q('__y_' + c)}" for c in payload],
        )
        joined = self._df.join(ydf, on=keys, how="left")
        cols = []
        for c in self._df.columns:
            if c in payload:
                x, yv = _q(c), _q("__y_" + c)
                cols.append(f"CASE WHEN __m THEN {take_y(x, yv)} ELSE {x} END AS {x}")
            else:
                cols.append(_q(c))
        return Frame(joined.selectExpr(*cols), self._groups)

    def rows_update(self, y: Frame, by=None) -> Frame:
        """dplyr ``rows_update`` (unmatched="ignore"): matched x rows
        take y's payload values (including NULLs); one key join."""
        return self._rows_merge(y, by, lambda xc, yc: yc)

    def rows_patch(self, y: Frame, by=None) -> Frame:
        """dplyr ``rows_patch``: like update but only fills x's NULLs —
        matched rows take ``coalesce(x, y)``."""
        return self._rows_merge(y, by, lambda xc, yc: f"coalesce({xc}, {yc})")

    def rows_upsert(self, y: Frame, by=None) -> Frame:
        """dplyr ``rows_upsert``: update matched keys, insert new ones
        (the in-memory twin of the table MERGEs
        ``connectors.upsert_snapshot`` and
        ``connectors.upsert_append_rows``)."""
        return self.rows_update(y, by).rows_insert(y, by, conflict="ignore")

    def rows_delete(self, y: Frame, by=None) -> Frame:
        """dplyr ``rows_delete`` (unmatched="ignore"): drop x rows
        whose key appears in y. One anti-join; y's payload ignored."""
        keys = self._rows_keys(y, by)
        return Frame(
            self._df.join(y._df.select(*keys), on=keys, how="left_anti"),
            self._groups,
        )

    def nest_join(self, other: Frame, by=None, name: str = "y") -> Frame:
        """dplyr ``nest_join``: a left join that PACKS the matching
        right-side rows into one list-of-structs column per left row
        (never duplicating left rows, unlike ``left_join``). The
        reference has no nesting support (``README.md:72-78``); Spark
        expresses it natively as groupBy + ``collect_list(struct)`` on
        the right side followed by a plain left join — one shuffle at
        the key grain, and the packed column rides the join like any
        other value. Rows with no match get an EMPTY array (dplyr
        semantics: a 0-row nested frame, not NULL). Struct order inside
        the array is sorted by all right-side columns so the result is
        deterministic under any partitioning."""
        keys = self._resolve_by(other, by)
        lkeys, rkeys = list(keys), list(keys.values())
        payload_cols = [c for c in other._df.columns if c not in rkeys]
        if not payload_cols:
            raise ValueError("nest_join: right side has only key columns")
        if name in self._df.columns:
            raise ValueError(
                f"nest_join: name={name!r} collides with an existing left "
                "column — the packed column must be new (dplyr would "
                "suffix; here an explicit name= avoids two same-named "
                "columns with ambiguous resolution)"
            )
        # right keys get the join prefix so the condition can name both
        # sides by text
        rp = "__cuplyr_r__"
        fields = ", ".join(_q(c) for c in payload_cols)
        packed = (
            other._df.groupBy(*[_q(k) for k in rkeys])
            .agg(F.expr(f"sort_array(collect_list(struct({fields}))) AS {_q(name)}"))
            .toDF(*[rp + k for k in rkeys], name)
        )
        cond = F.expr(
            " AND ".join(f"{_q(lk)} = {_q(rp + rk)}" for lk, rk in keys.items())
        )
        joined = self._df.join(packed, cond, "left")
        empty = F.array().cast(joined.schema[name].dataType)
        out = joined.select(
            *[_q(c) for c in self._df.columns],
            F.coalesce(F.col(_q(name)), empty).alias(name),
        )
        return Frame(out, self._groups)

    def cross_join(self, other: Frame, suffix=(".x", ".y")) -> Frame:
        lcols, rcols = self._df.columns, other._df.columns
        conflicts = set(lcols) & set(rcols)
        names = [c + suffix[0] if c in conflicts else c for c in lcols] + [
            c + suffix[1] if c in conflicts else c for c in rcols
        ]
        # the output is left columns then right columns: rename by position
        return Frame(self._df.crossJoin(other._df).toDF(*names), ())

    def _join(self, other: Frame, by, how: str, suffix, na_matches: str, keep: bool) -> Frame:
        """Shared mutating/filtering join implementation.

        Semantics matched to the reference (``R/join.R:168-428``):
        - ``by=None`` -> natural join on common column names;
          ``by="k"``/list -> same-name keys; ``by={"lk": "rk"}`` ->
          renamed keys.
        - ``na_matches="na"`` (reference's only mode,
          ``src/ops_join.cpp:161``) -> eqNullSafe; ``"never"`` -> ==.
        - ``keep=False`` drops right key columns; the output key column
          coalesces left/right values so right/full joins surface keys
          from unmatched right rows (dplyr behavior).
        - Non-key name conflicts get ``suffix`` (default .x/.y).
        - Column order: x columns, then y non-key columns.

        Implementation: both sides are prefixed to globally unique
        names before the join, which makes self-joins and repeated
        column names unambiguous. The prefix projections are free at
        execution (Catalyst collapses them into the scan) but not to
        build on the driver, so they, the condition and the output list
        are each one DataFrame call on quoted name text.
        """
        by_map = self._resolve_by(other, by)
        self._validate_key_types(other, by_map)
        lp, rp = "__cuplyr_l__", "__cuplyr_r__"
        lcols, rcols = self._df.columns, other._df.columns
        ldf = self._df.toDF(*[lp + c for c in lcols])
        rdf = other._df.toDF(*[rp + c for c in rcols])
        eq = " <=> " if na_matches == "na" else " = "
        cond = F.expr(
            " AND ".join(_q(lp + lk) + eq + _q(rp + rk) for lk, rk in by_map.items())
        )
        joined = ldf.join(rdf, cond, how)

        if how in ("left_semi", "left_anti"):
            return Frame(joined.toDF(*lcols), self._groups)

        left_keys = set(by_map.keys())
        right_keys = set(by_map.values())
        if keep:
            conflicts = set(lcols) & set(rcols)
        else:
            conflicts = (set(lcols) & set(rcols)) - {
                c for c in by_map if c == by_map[c]
            }
        out_cols: list[str] = []
        for c in lcols:
            if not keep and c in left_keys:
                # Unmatched right rows (right/full join) carry the key
                # value only on the right side.
                out_cols.append(
                    f"coalesce({_q(lp + c)}, {_q(rp + by_map[c])}) AS {_q(c)}"
                )
            else:
                name = c + suffix[0] if c in conflicts else c
                out_cols.append(f"{_q(lp + c)} AS {_q(name)}")
        for c in rcols:
            if not keep and c in right_keys:
                continue
            name = c + suffix[1] if c in conflicts else c
            out_cols.append(f"{_q(rp + c)} AS {_q(name)}")
        return Frame(joined.selectExpr(*out_cols), self._groups)

    def _validate_key_types(self, other: Frame, by_map: dict[str, str]) -> None:
        """Reference ``validate_key_types`` (``R/join.R:45-68``):
        identical types or both-numeric pass; anything else errors
        early with the column pair named (Spark would otherwise
        silently cast, e.g. string keys vs int keys)."""
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
        )
        ltypes = {f.name: f.dataType for f in self._df.schema.fields}
        rtypes = {f.name: f.dataType for f in other._df.schema.fields}
        for lk, rk in by_map.items():
            if lk not in ltypes:
                raise KeyError(f"join: unknown left key {lk!r}")
            if rk not in rtypes:
                raise KeyError(f"join: unknown right key {rk!r}")
            lt, rt = ltypes[lk], rtypes[rk]
            if lt == rt:
                continue
            if isinstance(lt, numeric) and isinstance(rt, numeric):
                continue
            raise TypeError(
                f"join: incompatible key types {lk}({lt.simpleString()}) vs "
                f"{rk}({rt.simpleString()})"
            )

    def _resolve_by(self, other: Frame, by) -> dict[str, str]:
        if by is None:
            common = [c for c in self._df.columns if c in set(other._df.columns)]
            if not common:
                raise ValueError("join: no common columns for a natural join")
            return {c: c for c in common}
        if isinstance(by, str):
            return {by: by}
        if isinstance(by, Mapping):
            return dict(by)
        if isinstance(by, (list, tuple)):
            return {c: c for c in by}
        raise TypeError(f"join: cannot interpret by={by!r}")

    # -- combination (§2.8) ----------------------------------------------

    def bind_rows(self, *others: Frame, id: str | None = None, labels: list[str] | None = None) -> Frame:
        """Vertical concat by column NAME with the reference's type
        promotion lattice (``R/bind.R:267-453``): BOOL<INT<LONG<DOUBLE,
        anything+STRING->STRING; missing columns are NULL-filled.
        ``id=`` prepends a source-label column. Groups are cleared
        (``R/bind.R:192-196``). Executes as a zero-shuffle union.
        """
        frames = [self, *others]
        target = unify_schemas([f._df.schema for f in frames])
        if labels is None:
            labels = [str(i + 1) for i in range(len(frames))]
        aligned: list[DataFrame] = []
        for i, f in enumerate(frames):
            have = set(f._df.columns)
            cols = [
                (F.col(_q(name)).cast(dtype) if name in have else F.lit(None).cast(dtype)).alias(name)
                for name, dtype in target
            ]
            if id is not None:
                cols = [F.lit(labels[i]).alias(id)] + cols
            aligned.append(f._df.select(*cols))
        return Frame(functools.reduce(DataFrame.unionAll, aligned), ())

    def bind_cols(
        self, *others: Frame, name_repair: str | Callable[[str], str] = "unique"
    ) -> Frame:
        """Horizontal concat by POSITION via an explicit row index.

        Inherently order-dependent: Spark has no global row order, so
        the zip uses each input's current partition order (reference
        semantics are host-order, SURVEY §7 documents the divergence).
        The index join is fine at test scale; at 100 TB prefer joining
        on a real key. Name conflicts are repaired per ``name_repair``
        (vctrs modes unique/universal/check_unique/minimal or a
        callable — reference ``R/bind.R:237-261``); groups come from
        the first frame (``R/bind.R:127-135``).
        """
        frames = [self, *others]
        all_names = [c for f in frames for c in f._df.columns]
        final = repair_names(all_names, name_repair)
        idx = "__cuplyr_zip_idx__"
        indexed, pos = [], 0
        for f in frames:
            n = len(f._df.columns)
            # Positional temp names keep the zip join unambiguous even
            # under name_repair='minimal' (true duplicates restored at
            # the end via toDF).
            tmp = [f"__cuplyr_bc_{i}__" for i in range(pos, pos + n)]
            indexed.append(_zip_index(f._df.toDF(*tmp), idx))
            pos += n
        out = functools.reduce(lambda a, b: a.join(b, idx, "inner"), indexed)
        ordered = [c for df in indexed for c in df.columns if c != idx]
        out = out.select(*ordered).toDF(*final)
        first = frames[0]._df.columns
        gmap = {c: final[i] for i, c in enumerate(first)}
        return Frame(out, tuple(gmap.get(g, g) for g in self._groups))

    def union(self, other: Frame) -> Frame:
        """SQL UNION (dedup) — Spark-native extension."""
        return Frame(self._df.unionByName(other._df).distinct(), ())

    def intersect(self, other: Frame) -> Frame:
        return Frame(self._df.intersect(other._df), ())

    def setdiff(self, other: Frame) -> Frame:
        return Frame(self._df.subtract(other._df), ())

    # -- SQL interface ------------------------------------------------------

    def to_view(self, name: str) -> Frame:
        """Register as a temp view for the SQL entry point (the same
        Catalyst plan serves both construction paths — the rebuild's
        analog of the reference's dual eager/lazy execution harness,
        SURVEY §5.2)."""
        self._df.createOrReplaceTempView(name)
        return self

    # -- string/tidy verbs ---------------------------------------------------

    def unite(self, col: str, *cols: str, sep: str = "_", remove: bool = True) -> Frame:
        """tidyr unite: concatenate columns into one string column."""
        out = self._df.withColumn(col, F.concat_ws(sep, *[_q(c) for c in cols]))
        if remove:
            out = out.drop(*[c for c in cols if c != col])
        return self._with(out)

    def separate(self, col: str, into: list[str], sep: str = "_", remove: bool = True) -> Frame:
        """tidyr separate: split one string column into several."""
        parts = F.split(_q(col), sep)
        out = self._df
        for i, name in enumerate(into):
            out = out.withColumn(name, F.element_at(parts, i + 1))
        if remove and col not in into:
            out = out.drop(col)
        return self._with(out)

    def separate_rows(self, *cols: str, sep: str = ",", convert: bool = False) -> Frame:
        """tidyr separate_rows: split delimited string column(s) and
        EXPLODE into one row per element — the long-form twin of
        :meth:`separate`. Multiple columns split in lockstep (tidyr's
        rule: they must have equal element counts per row; shorter
        lists yield NULLs here rather than erroring, Spark's
        arrays_zip padding). ``convert=True`` type-converts PER COLUMN
        the way tidyr's ``type.convert`` does: a column whose non-NULL
        elements all parse as integers becomes ``long``, one whose
        elements are all numeric (decimals/scientific) becomes
        ``double``, and any column with a non-numeric element stays
        ``string`` untouched — which requires one aggregation pass
        over the exploded data to decide (eager, like tidyr; leave
        ``convert=False`` for the fully lazy path). Map-side only — a
        generator over the scan, no shuffle; NULL input rows stay
        single rows with NULL parts."""
        if not cols:
            raise ValueError("separate_rows needs at least one column")
        out = self._df
        split = {c: F.split(_q(c), sep) for c in cols}
        if len(cols) == 1:
            c = cols[0]
            out = out.withColumn(c, F.explode_outer(split[c]))
        else:
            zipped = F.arrays_zip(*[split[c].alias(c) for c in cols])
            out = out.withColumn("__sr", F.explode_outer(zipped))
            for c in cols:
                out = out.withColumn(c, F.col("__sr").getField(c))
            out = out.drop("__sr")
        if convert:
            # classify each split column: 0 = all long-safe integers,
            # 1 = all numeric, 2 = has a non-numeric element (19+ digit
            # integers count as numeric, not long — casting them to
            # long would overflow where tidyr promotes to double)
            int_re = r"^[+-]?\d{1,18}$"
            num_re = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
            probes = [
                F.max(
                    F.when(F.col(_q(c)).isNull(), F.lit(0))
                    .when(F.trim(_q(c)).rlike(int_re), F.lit(0))
                    .when(F.trim(_q(c)).rlike(num_re), F.lit(1))
                    .otherwise(F.lit(2))
                ).alias(f"__t{i}")
                for i, c in enumerate(cols)
            ]
            kinds = out.agg(*probes).first()
            for i, c in enumerate(cols):
                k = kinds[i]
                if k is None or k == 0:
                    out = out.withColumn(c, F.col(_q(c)).cast("long"))
                elif k == 1:
                    out = out.withColumn(c, F.col(_q(c)).cast("double"))
        return self._with(out)

    def uncount(self, weights, *, id_col: str | None = None) -> Frame:
        """tidyr uncount: replicate each row ``weights`` times (a
        column name or any expression; non-positive/NULL weights drop
        the row). ``id_col`` adds a 1-based copy index. The inverse of
        ``count()``. Map-side generator (sequence + explode) — no
        shuffle, but a huge weight fans out inside one task, so feed it
        bounded multiplicities (class rebalancing, survey weights),
        not corpus blow-ups."""
        w = _as_column(weights) if isinstance(weights, str) else F.lit(weights) if isinstance(weights, int) else weights
        n = w.cast("long")
        # weight < 1 or NULL drops the row (sequence(1, 0) would count
        # DOWN in Spark; the when-guard yields NULL and explode skips)
        idx = F.explode(F.when(n >= 1, F.sequence(F.lit(1), n)))
        out = self._df.withColumn("__uc", idx)
        if id_col is not None:
            out = out.withColumn(id_col, F.col("__uc"))
        return self._with(out.drop("__uc"))

    def fill_down(self, cols: list[str], order_by: str, partition_by: list[str] | None = None) -> Frame:
        """tidyr fill(.direction='down') / last-observation-carried-
        forward: NULLs take the most recent non-NULL value in
        ``order_by`` order (per partition key). One keyed window."""
        w = (
            Window.partitionBy(*[_q(p) for p in (partition_by or [])])
            .orderBy(F.asc(_q(order_by)))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = self._df
        for c in cols:
            out = out.withColumn(c, F.last(_q(c), ignorenulls=True).over(w))
        return self._with(out)

    def drop_na(self, *cols: str) -> Frame:
        """tidyr drop_na: drop rows with a NULL in any listed column
        (all columns if none given). Pure filter — pushes down to the
        scan as IsNotNull."""
        targets = list(cols) or self.columns
        cond = " AND ".join(f"{_q(c)} IS NOT NULL" for c in targets)
        return self._with(self._df.filter(cond))

    def replace_na(self, **repl: Any) -> Frame:
        """tidyr replace_na: fill NULLs per column with a literal
        (``replace_na(x=0, name="unknown")``). Narrow projection."""
        out = self._df
        for c, v in repl.items():
            out = out.withColumn(c, F.coalesce(F.col(_q(c)), F.lit(v)))
        return self._with(out)

    def pull(self, col: str) -> list:
        """dplyr pull: one column to the driver as a Python list."""
        return [r[0] for r in self._df.selectExpr(_q(col)).collect()]

    def nest(self, name: str = "data", cols: list[str] | None = None) -> Frame:
        """tidyr nest: collapse each group's non-group rows into one
        array<struct> list-column. The array is sorted (lexicographic
        by field order) so the result is deterministic regardless of
        partitioning. One hash aggregation on the group keys; per-group
        payloads must fit in executor memory — nest by high-cardinality
        keys at scale, not by a handful of giant groups."""
        if not self._groups:
            raise ValueError("nest() requires group_by() keys")
        value_cols = cols or [c for c in self.columns if c not in self._groups]
        packed = F.sort_array(F.collect_list(F.struct(*[_q(c) for c in value_cols])))
        out = self._df.groupBy(*[_q(g) for g in self._groups]).agg(packed.alias(name))
        return Frame(out, ())

    def unnest(self, col: str) -> Frame:
        """Inverse of nest: explode the array and expand struct fields
        back to top-level columns. Narrow (no shuffle)."""
        tmp = "__cuplyr_unnest__"
        df = self._df.withColumn(tmp, F.explode(_q(col))).drop(col)
        keep = [_q(c) for c in df.columns if c != tmp]
        out = df.selectExpr(*keep, tmp + ".*")
        return self._with(out, tuple(g for g in self._groups if g != col))

    # -- reshape (tidyr-adjacent; Spark-native pivot) -----------------------

    def pivot_wider(
        self,
        names_from: str,
        values_from: str,
        agg: AggSpec | Column | None = None,
        values: list | None = None,
        id_cols: list[str] | None = None,
    ) -> Frame:
        """Long -> wide (tidyr pivot_wider / Spark pivot).

        ``values`` (the expected distinct names) should be passed at
        scale — otherwise Spark runs an extra distinct job to discover
        them and the plan is data-dependent."""
        ids = id_cols or [
            c for c in self._df.columns if c not in (names_from, values_from)
        ]
        if agg is None:
            agg_col = F.first(values_from)
        elif isinstance(agg, AggSpec):
            agg_col = agg.resolve(self._df)
        else:
            agg_col = agg
        grouped = self._df.groupBy(*[_q(c) for c in ids])
        pivoted = grouped.pivot(names_from, values) if values else grouped.pivot(names_from)
        return Frame(pivoted.agg(agg_col), ())

    def pivot_longer(
        self,
        cols: list[str],
        names_to: str = "name",
        values_to: str = "value",
    ) -> Frame:
        """Wide -> long via the stack() table function (one projection,
        no shuffle)."""
        keep = [c for c in self._df.columns if c not in cols]
        pairs = ", ".join(
            f"'{c}', `{c}`" for c in cols
        )
        expr = f"stack({len(cols)}, {pairs}) AS (`{names_to}`, `{values_to}`)"
        return Frame(self._df.selectExpr(*[f"`{c}`" for c in keep], expr), ())

    # -- limit / head (§2.9) ----------------------------------------------

    def head(self, n: int = 6) -> Frame:
        """First-n limit (real semantics for the reference's dead-code
        ``ast_head``, ``R/ast.R:114-122``). ``arrange(...).head(k)``
        compiles to TakeOrderedAndProject — no global sort."""
        return self._with(self._df.limit(n))

    limit = head

    def slice_max(self, order_by: str | Column, n: int = 1, with_ties: bool = False) -> Frame:
        """Top-n by a column (per group if grouped) — window-based."""
        return self._slice_ranked(_as_column(order_by).desc_nulls_last(), n, with_ties)

    def slice_min(self, order_by: str | Column, n: int = 1, with_ties: bool = False) -> Frame:
        return self._slice_ranked(_as_column(order_by).asc_nulls_last(), n, with_ties)

    def slice_head(self, n: int = 1, *, order_by) -> Frame:
        """First n rows per group in ``order_by`` order. Spark has no
        inherent row order, so the order keys are mandatory; make them
        unique per group for a deterministic result."""
        return self._slice_ordered(order_by, n, reverse=False)

    def slice_tail(self, n: int = 1, *, order_by) -> Frame:
        return self._slice_ordered(order_by, n, reverse=True)

    def _slice_ordered(self, order_by, n: int, reverse: bool) -> Frame:
        from cuplyr_spark.functions.window import _order_cols

        keys = _order_cols(order_by, reverse=reverse)
        rk = "__cuplyr_rank__"
        if self._groups:
            w = Window.partitionBy(*self._groups).orderBy(*keys)
            out = self._df.withColumn(rk, F.row_number().over(w)).filter(F.col(rk) <= n).drop(rk)
            return self._with(out)
        return self._with(self._df.orderBy(*keys).limit(n))

    def _slice_ranked(self, key: Column, n: int, with_ties: bool) -> Frame:
        rank_fn = F.rank() if with_ties else F.row_number()
        if self._groups:
            w = Window.partitionBy(*self._groups).orderBy(key)
            rk = "__cuplyr_rank__"
            out = (
                self._df.withColumn(rk, rank_fn.over(w))
                .filter(F.col(rk) <= n)
                .drop(rk)
            )
            return self._with(out)
        # Ungrouped top-n: global sort + limit lowers to
        # TakeOrderedAndProject (no single-partition window).
        if with_ties:
            w = Window.orderBy(key)
            rk = "__cuplyr_rank__"
            out = self._df.withColumn(rk, F.rank().over(w)).filter(F.col(rk) <= n).drop(rk)
            return self._with(out)
        return self._with(self._df.orderBy(key).limit(n))

    # -- materialization / lifecycle (§2.1) ---------------------------------

    def profile(self, *cols: str) -> Frame:
        """One-pass column profiling: null count, exact distinct
        count, and numeric min/max per column — the pre-flight data
        audit every pipeline runs before heavier work.

        All statistics come from a SINGLE aggregate over the scan
        (count-distinct for several columns expands rows map-side but
        still reads the data once; profile a column subset when the
        table is wide). The one-row aggregate is unpivoted JVM-side
        with ``stack``. Non-numeric columns get NULL min/max (numeric
        formatting is engine-specific; counts are not).
        """
        names = list(cols) if cols else list(self._df.columns)
        numeric = {
            f.name
            for f in self._df.schema.fields
            if f.dataType.typeName()
            in ("byte", "short", "integer", "long", "float", "double", "decimal")
        }
        aggs = []
        for i, c in enumerate(names):
            q = _q(c)
            mn, mx = (f"min({q})", f"max({q})") if c in numeric else ("NULL", "NULL")
            aggs += [
                f"count(CASE WHEN {q} IS NULL THEN 1 END) AS __nn_{i}",
                f"count(DISTINCT {q}) AS __nd_{i}",
                f"CAST({mn} AS DOUBLE) AS __mn_{i}",
                f"CAST({mx} AS DOUBLE) AS __mx_{i}",
            ]
        row = self._df.agg(*[F.expr(a) for a in aggs])
        parts = []
        for i, c in enumerate(names):
            lit = c.replace("\\", "\\\\").replace("'", "\\'")
            parts.append(
                f"'{lit}', __nn_{i}, __nd_{i}, __mn_{i}, __mx_{i}"
            )
        stacked = row.selectExpr(
            f"stack({len(names)}, {', '.join(parts)}) AS "
            "(column, n_nulls, n_distinct, min_num, max_num)"
        )
        return Frame(stacked, ())

    def as_lazy(self) -> Frame:
        """No-op: Spark is always lazy. The reference's dual eager/lazy
        execution modes (``R/tbl-gpu.R:33-45``) collapse here — a
        documented intentional divergence (SURVEY §7)."""
        return self

    def as_eager(self) -> Frame:
        """Closest eager analog: persist + materialize (compute())."""
        return self.compute()

    def compute(self) -> Frame:
        """Execute and keep distributed (reference ``compute()``,
        ``R/compute.R:52-83``): persist + force materialization."""
        df = self._df.persist()
        df.count()
        return Frame(df, self._groups)

    def collapse(self) -> Frame:
        """Reference's optimization barrier (``R/compute.R:104-122``).
        No precise Catalyst analog; localCheckpoint is the closest
        (cuts lineage / fences optimization). Documented divergence."""
        return Frame(self._df.localCheckpoint(eager=False), self._groups)

    def unpersist(self) -> Frame:
        return Frame(self._df.unpersist(), self._groups)

    def collect(self, restore_factors: bool = True):
        """Device->host transfer analog: Arrow-backed toPandas().

        When the frame carries factor levels (opt-in ``factors="codes"``
        ingest), integer-code columns are restored to pandas
        Categorical — the analog of the reference rebuilding R factors
        from DICTIONARY32 codes at collect (``R/collect.R:74-81``)."""
        import warnings

        import numpy as np
        import pandas as pd

        pdf = self._df.toPandas()
        # Reference collect() warns when INT64 values exceed 2^53
        # (R/collect.R:83-97, double can't hold them exactly). Spark's
        # LongType is natively exact, but pandas silently converts a
        # NULLABLE long column to float64 — same precision trap.
        for field in self._df.schema.fields:
            if isinstance(field.dataType, T.LongType) and field.name in pdf.columns:
                s = pdf[field.name]
                if np.issubdtype(s.dtype, np.floating):
                    mx = s.dropna().abs().max()
                    if mx is not None and not pd.isna(mx) and mx > 2**53:
                        warnings.warn(
                            f"collect(): long column {field.name!r} contains "
                            f"NULLs and values beyond 2^53 — converted to "
                            f"float64 with precision loss; cast to string or "
                            f"drop NULLs to keep exact values",
                            stacklevel=2,
                        )
        if restore_factors and self._factor_levels:
            int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            integral = {
                f.name for f in self._df.schema.fields
                if isinstance(f.dataType, int_types)
            }
            for col, levels in self._factor_levels.items():
                if col not in pdf.columns or col not in integral:
                    continue  # column gone or retyped — leave as-is
                codes = pdf[col].fillna(-1).astype("int64")
                if len(codes) and (codes.max() >= len(levels) or codes.min() < -1):
                    continue  # codes mutated out of range — leave as-is
                pdf[col] = pd.Categorical.from_codes(codes, categories=levels)
        return pdf

    def collect_rows(self) -> list:
        return self._df.collect()

    def show(self, n: int = 10, truncate: bool = True) -> None:
        self._df.show(n, truncate)

    def show_query(self, mode: str = "formatted") -> None:
        """Reference ``show_query()`` printed the pending AST; here the
        honest answer is Catalyst's plan."""
        self._df.explain(mode)

    def explain_str(self, mode: str = "formatted") -> str:
        return self._df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            self._df._jdf.queryExecution(), mode
        )

    # -- scale hints ------------------------------------------------------

    # An explicitly-hinted broadcast side above this estimate gets the
    # hint DROPPED (degrade to AQE's runtime size-based choice): every
    # executor (and the driver) materializes the whole relation, and
    # Spark hard-fails broadcasts above 8 GB, so a hint on an oversized
    # side is a scale-killer that must never ship silently.
    BROADCAST_MAX_BYTES = 512 * 1024 * 1024

    def broadcast(
        self, max_bytes: int | None = None, *, force: bool = False
    ) -> Frame:
        """Mark as broadcast-join candidate (small dimension tables).

        Guard-rail parity with the reference's pre-join OOM estimate
        (cuplyr ``R/join.R:102-166``, which warns when the projected
        join output approaches free device memory), hardened for
        cluster scale: an explicit hint overrides Spark's own
        size-based strategy choice, so if the Catalyst size estimate
        for this side exceeds ``max_bytes`` (default
        :data:`BROADCAST_MAX_BYTES`), the hint is **dropped** — the
        frame is returned un-hinted with a warning, and AQE still
        picks broadcast at runtime if the actual size turns out small.
        This makes it impossible for an advisory to ship as an
        executor-OOM at 100× data scale.

        The estimate reads the *analyzed* plan's bottom-up size
        propagation (cheap — no optimizer pass is forced just for the
        guard). Pass ``force=True`` if you genuinely know better than
        the estimate (e.g. highly selective filters Catalyst can't see
        through); ``max_bytes=0`` disables the check entirely.

        Shares its implementation with :func:`broadcast_guarded`, the
        DataFrame-level path the pipeline modules (similarity, dedup)
        use internally — one guard, every broadcast."""
        eff = 0 if force else (self.BROADCAST_MAX_BYTES if max_bytes is None else max_bytes)
        return Frame(
            broadcast_guarded(self._df, eff, what="broadcast()"), self._groups
        )

    def _estimated_bytes(self) -> int | None:
        return plan_size_bytes(self._df)

    def repartition(self, n: int, *cols: str) -> Frame:
        if cols:
            return self._with(self._df.repartition(n, *cols))
        return self._with(self._df.repartition(n))

    def coalesce(self, n: int) -> Frame:
        return self._with(self._df.coalesce(n))
