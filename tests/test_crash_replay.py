"""Fault injection at every write boundary of one batch: the batch
crashes before each of its store commits in turn (merges, background
folds) and before the view's batch-log append; a fresh MVApp over the
same target then replays it, and the view must equal the Spark
recompute. ``MAX_PENDING_DELTAS`` is 1, so after one prior batch the
crashed batch also folds every chain it appends to."""

import itertools
import shutil
from collections import Counter

import pytest

from tiflink_spark import store as store_mod
from tiflink_spark.app import MVApp, _SharedMirrorStore
from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.store import KeyedParquetStore

# The routing golden's frames (tests/test_routing_golden.py); the first
# column is each table's PK.
SCHEMAS = {
    "f": "id long, g long, h long, v double, w double, s string",
    "d": "dk long, attr long, u double",
    "t": "id long, g long, h long, v double, u double, s string, w double",
    "u2": "id long, g long, h long, v double, u double, s string, w double",
}
ROWS = {
    "f": [(1, 1, 0, 10.5, 2.0, "a"), (2, 1, 1, 40.0, 3.0, "b"), (3, 2, 0, 70.0, 1.0, "c")],
    "d": [(1, 0, 2.5), (2, 1, 7.0)],
    "t": [(1, 1, 0, 10.5, 2.0, "a", 4.0), (2, 1, 1, 40.0, 3.0, "b", 9.0), (3, 2, 0, 70.0, 1.0, "c", 30.0)],
    "u2": [(1, 1, 0, 12.0, 2.0, "a", 4.0), (4, 3, 2, 55.0, 5.0, "b", 12.0)],
}
# batch 1 runs before the crashed batch 2
BATCHES = {
    1: {
        "f": [(OP_UPDATE, (3, 1, 1, 55.0, 2.0, "b")), (OP_INSERT, (4, 2, 0, 20.0, 1.0, "a"))],
        "d": [(OP_INSERT, (3, 2, 4.0))],
        "t": [(OP_UPDATE, (3, 2, 1, 75.0, 1.0, "c", 30.0)), (OP_INSERT, (4, 1, 0, 25.0, 2.0, "b", 8.0))],
        "u2": [(OP_INSERT, (5, 1, 0, 15.0, 1.0, "a", 3.0))],
    },
    2: {
        "f": [
            (OP_DELETE, (1, 1, 0, 10.5, 2.0, "a")),
            (OP_UPDATE, (2, 2, 0, 45.0, 3.0, "c")),
            (OP_INSERT, (5, 1, 1, 30.0, 2.0, "a")),
        ],
        "d": [(OP_UPDATE, (1, 5, 2.5))],
        "t": [
            (OP_DELETE, (1, 1, 0, 10.5, 2.0, "a", 4.0)),
            (OP_UPDATE, (2, 2, 0, 45.0, 3.0, "a", 9.0)),
            (OP_INSERT, (5, 1, 1, 35.0, 2.0, "c", 20.0)),
        ],
        "u2": [(OP_DELETE, (4, 3, 2, 55.0, 5.0, "b", 12.0)), (OP_UPDATE, (1, 1, 1, 12.0, 2.0, "a", 4.0))],
    },
}
FAMILIES = {"join": ("f", "d"), "single": ("t", "u2")}

# (strategy, family, query): the flagship-shaped aggregate with a
# dimension and the shared-mirror cascade run by default, one query
# per other route family of the routing golden under -m slow.
DEFAULT = [
    (
        "IncrementalAggMV",
        "join",
        "SELECT dk, attr, (SELECT count(*) FROM f x WHERE x.g = y.dk) AS n FROM d y",
    ),
    (
        "CascadeMV[IncrementalAggMV -> IncrementalWindowMV]",
        "single",
        "SELECT g, n, row_number() OVER (PARTITION BY n ORDER BY g) AS r "
        "FROM (SELECT g, count(*) AS n FROM t GROUP BY g) a",
    ),
]
SLOW = [
    ("IncrementalFullOuterJoinMV", "join", "SELECT id, g, v, dk, attr FROM f FULL OUTER JOIN d ON g = dk"),
    ("IncrementalGlobalTopKMV", "single", "SELECT id, g, v FROM t WHERE v > 10 ORDER BY v, id LIMIT 3"),
    ("IncrementalGroupingSetsMV", "single", "SELECT g, h, count(*) AS n FROM t GROUP BY CUBE (g, h)"),
    ("IncrementalJoinAggMV", "join", "SELECT attr, count(*) AS n, min(v) AS mv FROM f JOIN d ON g = dk GROUP BY attr"),
    ("IncrementalJoinMV", "join", "SELECT id, dk, v, attr FROM f JOIN d ON g = dk"),
    ("IncrementalJoinProjectionMV", "join", "SELECT id, g, v, attr FROM f LEFT JOIN d ON g = dk"),
    ("IncrementalProjectionMV", "single", "SELECT id, g, round(v * 1.5, 2) AS v15 FROM t WHERE s <> 'c'"),
    ("IncrementalSemiJoinMV", "join", "SELECT id, g FROM f WHERE NOT EXISTS (SELECT 1 FROM d WHERE dk = g)"),
    ("IncrementalSetOpMV", "join", "SELECT g FROM f EXCEPT ALL SELECT attr FROM d"),
    ("IncrementalThetaJoinMV", "join", "SELECT id, dk, g, attr FROM f INNER JOIN d ON v BETWEEN u * 2 AND u * 9"),
    (
        "IncrementalTopKMV",
        "single",
        "SELECT g, id, rn FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC, id) AS rn FROM t) AS q WHERE rn <= 2",
    ),
    ("IncrementalUnionMV", "single", "SELECT id, g FROM t UNION ALL SELECT id, g FROM u2"),
    (
        "IncrementalWindowMV",
        "single",
        "SELECT id, g, h, v, lag(v) OVER (PARTITION BY h ORDER BY id DESC) AS pv FROM t",
    ),
    ("RecomputeMV", "join", "SELECT id, g FROM f WHERE EXISTS (SELECT 1 FROM d WHERE dk = g) AND v > 30"),
    (
        "CascadeMV[IncrementalAggMV -> IncrementalJoinProjectionMV]",
        "join",
        "SELECT g, n, attr, u FROM (SELECT g, count(*) AS n FROM f GROUP BY g) a JOIN d ON g = dk",
    ),
    (
        "CascadeMV[IncrementalProjectionMV -> IncrementalThetaJoinMV]",
        "join",
        "SELECT id, v15, dk, attr FROM (SELECT id, round(v * 1.5, 2) AS v15 FROM f WHERE s <> 'c') j "
        "JOIN d ON v15 > u * 8",
    ),
]


class _Crash(Exception):
    pass


def _strategy(app) -> str:
    from tiflink_spark.app import CascadeMV

    if isinstance(app._mv, CascadeMV):
        return f"CascadeMV[{_strategy(app._mv.inner)} -> {_strategy(app._mv.outer)}]"
    return app.maintenance_strategy


def _build(spark, family, query, target):
    b = MVApp.builder(spark)
    for name in FAMILIES[family]:
        b = b.source(name, spark.createDataFrame(ROWS[name], SCHEMAS[name]), pk=[SCHEMAS[name].split()[0]])
    return b.query(query).target(target).num_buckets(2).build()


def _changes(spark, app, family, batch_id):
    return {
        name: spark.createDataFrame(
            [(*row, op, seq) for seq, (op, row) in enumerate(BATCHES[batch_id][name])],
            f"{SCHEMAS[name]}, {OP_COL} string, {SEQ_COL} long",
        )
        for name in FAMILIES[family]
        if name in app.maintained_tables()
    }


def _recompute(spark, family, query, tables) -> Counter:
    """The query over the source tables after batches 1 and 2 of the
    tables the view maintains."""
    for name in FAMILIES[family]:
        rows = {r[0]: r for r in ROWS[name]}
        for batch_id in (1, 2):
            if name not in tables:
                continue
            for op, row in BATCHES[batch_id][name]:
                if op == OP_DELETE:
                    rows.pop(row[0], None)
                else:
                    rows[row[0]] = row
        spark.createDataFrame(list(rows.values()), SCHEMAS[name]).createOrReplaceTempView(name)
    return Counter(tuple(r) for r in spark.sql(query).collect())


def _drain(app):
    """A dead process leaves no fold running: wait out the crashed
    attempt's background folds (one may itself hold the crash)."""
    for stores in app._store_sets():
        for store in stores.all:
            try:
                store._await_fold()
            except _Crash:
                pass


def _commits_crashing_at(k, calls):
    """KeyedParquetStore._commit raising before its k-th call (counted
    in ``calls``); k=None never raises."""
    commit = KeyedParquetStore._commit

    def crashing(self, *args, **kwargs):
        if next(calls) == k:
            raise _Crash(f"crash before store commit {k}")
        return commit(self, *args, **kwargs)

    return crashing


def _crash_and_replay(spark, monkeypatch, family, query, template, target, k=None, log=False):
    shutil.copytree(template, target)
    app = _build(spark, family, query, target).bootstrap()
    calls = itertools.count(1)
    with monkeypatch.context() as m:
        m.setattr(KeyedParquetStore, "_commit", _commits_crashing_at(k, calls))
        if log:
            def crash_log(rec):
                raise _Crash("crash before the batch-log append")

            m.setattr(app.stores.log, "append", crash_log)
        try:
            app.refresh(_changes(spark, app, family, 2), batch_id=2)
        except _Crash:
            pass
        _drain(app)
    fresh = _build(spark, family, query, target).bootstrap()
    fresh.refresh(_changes(spark, fresh, family, 2), batch_id=2)
    got = Counter(tuple(r) for r in fresh.read().collect())
    _drain(fresh)  # no fold of this replay may land in the next count
    return got, next(calls) - 1


def _check_every_crash_point(spark, tmp_path, monkeypatch, strategy, family, query):
    monkeypatch.setattr(store_mod, "MAX_PENDING_DELTAS", 1)
    template = str(tmp_path / "template")
    app = _build(spark, family, query, template)
    assert _strategy(app) == strategy
    if strategy.startswith("CascadeMV[IncrementalAggMV -> IncrementalWindowMV"):
        assert isinstance(app._mv.outer._stores[app._mv.alias], _SharedMirrorStore)
    app.bootstrap()
    app.refresh(_changes(spark, app, family, 1), batch_id=1)
    _drain(app)
    want = _recompute(spark, family, query, app.maintained_tables())

    got, n_commits = _crash_and_replay(
        spark, monkeypatch, family, query, template, str(tmp_path / "clean")
    )
    assert got == want
    assert n_commits >= 2
    for k in range(1, n_commits + 1):
        got, _ = _crash_and_replay(
            spark, monkeypatch, family, query, template, str(tmp_path / f"k{k}"), k=k
        )
        assert got == want, f"crash before store commit {k} of {n_commits}"
    got, _ = _crash_and_replay(
        spark, monkeypatch, family, query, template, str(tmp_path / "log"), log=True
    )
    assert got == want, "crash before the batch-log append"


@pytest.mark.parametrize("strategy,family,query", DEFAULT, ids=[c[0] for c in DEFAULT])
def test_crash_at_every_write_replays_to_recompute(spark, tmp_path, monkeypatch, strategy, family, query):
    _check_every_crash_point(spark, tmp_path, monkeypatch, strategy, family, query)


@pytest.mark.slow
@pytest.mark.parametrize("strategy,family,query", SLOW, ids=[c[0] for c in SLOW])
def test_crash_at_every_write_replays_to_recompute_slow(spark, tmp_path, monkeypatch, strategy, family, query):
    _check_every_crash_point(spark, tmp_path, monkeypatch, strategy, family, query)
