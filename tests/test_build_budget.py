"""Plan-build budget: JVM round trips per frame verb.

Building a plan is driver work: every py4j command is a round trip to
the JVM. A verb must cost a few commands plus at most a few per column
of its input, never a ``Column`` object per column (in pyspark 4 each
``F.col`` or ``Column`` method records its Python call site through a
dozen commands). The count is deterministic, so it is pinned here the
way ``test_plan_budgets.py`` pins exchanges.

Each verb is built on an 8-column and a 40-column version of the same
frames; the difference over the 32 added columns is the per-column
cost.
"""

from __future__ import annotations

import pytest

from cuplyr_spark import agg as A
from cuplyr_spark.frame import Frame, desc
from perfbench.spans import Py4jCounter

NARROW, WIDE = 8, 40
PER_COLUMN = 4  # commands per added column, at most
# measured 178 commands for the 40-column inner join; pinned with headroom
WIDE_JOIN_BUDGET = 200


def _frames(spark, width: int) -> tuple[Frame, Frame]:
    """Left: key, two int group keys, a string and filler columns.
    Right: the key, a string and filler columns whose names overlap the
    left's (so the joins also suffix)."""
    left = spark.range(8).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS g1", "CAST(id % 2 AS INT) AS g2",
        "CAST(id AS STRING) AS s", *[f"id AS c{i}" for i in range(width - 4)],
    )
    right = spark.range(8).selectExpr(
        "id AS k", "CAST(id AS STRING) AS t", *[f"id AS c{i}" for i in range(width - 2)]
    )
    return Frame(left), Frame(right)


VERBS = {
    "inner_join": lambda l, r: l.inner_join(r, by="k"),
    "left_join": lambda l, r: l.left_join(r, by="k", na_matches="never"),
    "semi_join": lambda l, r: l.semi_join(r, by="k"),
    "select": lambda l, r: l.select(*reversed(l.columns)),
    "group_summarise": lambda l, r: l.group_by("g1", "g2").summarise(n=A.n()),
    "arrange": lambda l, r: l.arrange("s", desc("k")),
}


@pytest.fixture(scope="module")
def costs(spark):
    out: dict[str, dict[int, int]] = {}
    counter = Py4jCounter()
    counter.install(spark)
    try:
        for width in (NARROW, WIDE):
            left, right = _frames(spark, width)
            for name, build in VERBS.items():
                build(left, right)  # warm: first-use JVM lookups are not per verb
                n0 = counter.n
                built = build(left, right)
                out.setdefault(name, {})[width] = counter.n - n0
                assert built.columns  # the plan analyzes
    finally:
        counter.uninstall()
    return out


@pytest.mark.parametrize("name", sorted(VERBS))
def test_build_cost_per_column(costs, name):
    narrow, wide = costs[name][NARROW], costs[name][WIDE]
    per_column = (wide - narrow) / (WIDE - NARROW)
    assert per_column <= PER_COLUMN, (
        f"{name}: {narrow} py4j commands at {NARROW} columns, {wide} at "
        f"{WIDE} ({per_column:.1f} per added column, budget {PER_COLUMN})"
    )


def test_wide_join_build_budget(costs):
    wide = costs["inner_join"][WIDE]
    assert wide <= WIDE_JOIN_BUDGET, (
        f"40-column inner_join built in {wide} py4j commands "
        f"(budget {WIDE_JOIN_BUDGET})"
    )
