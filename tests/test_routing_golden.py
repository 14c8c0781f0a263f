"""Routing golden: which maintenance route ``MVApp`` picks for every
query of the matcher golden corpus (tests/fixtures/matcher_golden.json).

The matcher golden pins each ``planner.match_*`` front-end in
isolation; this fixture pins the PLANNER'S decision once route order
and the per-route gates (declared-PK agreement, fact PK present, PK
columns selected) apply — built through ``MVApp`` over small frames with
the same schemas and PKs as tests/test_sqlast.py. Regenerate with
tools/regen_routing_golden.py only when a routing change is intended.
"""

from __future__ import annotations

import json
import os

ROUTING_GOLDEN = os.path.join(
    os.path.dirname(__file__), "fixtures", "routing_golden.json"
)

# Same column sets and PKs as tests/test_sqlast.py (COLS2/PKS2 for the
# single-table family, FCOLS/FPKS for the two-table family). t and u2
# also carry the fuzz generator's ``w`` column, which the single-table
# fuzz corpus references; without it those queries fail to resolve.
_SCHEMAS = {
    "single": {
        "t": ("id long, g long, h long, v double, u double, s string, w double", ["id"]),
        "u2": ("id long, g long, h long, v double, u double, s string, w double", ["id"]),
    },
    "join": {
        "f": ("id long, g long, h long, v double, w double, s string", ["id"]),
        "d": ("dk long, attr long, u double", ["dk"]),
    },
}

_ROWS = {
    "t": [(1, 1, 0, 10.5, 2.0, "a", 4.0), (2, 1, 1, 40.0, 3.0, "b", 9.0), (3, 2, 0, 70.0, 1.0, "c", 30.0)],
    "u2": [(1, 1, 0, 12.0, 2.0, "a", 4.0), (4, 3, 2, 55.0, 5.0, "b", 12.0)],
    "f": [(1, 1, 0, 10.5, 2.0, "a"), (2, 1, 1, 40.0, 3.0, "b"), (3, 2, 0, 70.0, 1.0, "c")],
    "d": [(1, 0, 2.5), (2, 1, 7.0)],
}


def strategy_of(app) -> str:
    """``maintenance_strategy`` with cascade levels spelled out."""
    from tiflink_spark.app import CascadeMV

    if isinstance(app._mv, CascadeMV):
        return (
            f"CascadeMV[{strategy_of(app._mv.inner)}"
            f" -> {strategy_of(app._mv.outer)}]"
        )
    return app.maintenance_strategy


def routing_record(spark, family: str, query: str, work_dir: str) -> dict:
    """Build ``query`` as an MVApp over the family's frames and report
    the route it took (or the error class the build raised)."""
    from tiflink_spark.app import MVApp

    b = MVApp.builder(spark)
    for name, (schema, pk) in _SCHEMAS[family].items():
        b = b.source(name, spark.createDataFrame(_ROWS[name], schema), pk=pk)
    try:
        app = b.query(query).target(work_dir).num_buckets(2).build()
    except Exception as e:  # a build that raises is a pinned outcome too
        return {"error": type(e).__name__}
    return {
        "strategy": strategy_of(app),
        "mode": app.maintenance_mode,
        "mv_pk": list(app.mv_pk),
        "pk_is_unique": app.pk_is_unique,
        "tables": sorted(app.maintained_tables()),
    }


def corpus() -> list[tuple[str, str]]:
    with open(os.path.join(os.path.dirname(__file__), "fixtures", "matcher_golden.json")) as f:
        golden = json.load(f)
    return [(fam, q) for fam in ("single", "join") for q in golden[fam]]


def test_planner_reproduces_routing_golden(spark, tmp_path):
    with open(ROUTING_GOLDEN) as f:
        expected = json.load(f)
    queries = corpus()
    assert {(fam, q) for fam, q in queries} == {
        (fam, q) for fam in expected for q in expected[fam]
    }
    drift = []
    for i, (fam, q) in enumerate(queries):
        got = routing_record(spark, fam, q, str(tmp_path / f"mv{i}"))
        if got != expected[fam][q]:
            drift.append(f"{q}\n  golden={expected[fam][q]}\n  now={got}")
    assert not drift, "routing drift:\n" + "\n".join(drift)
