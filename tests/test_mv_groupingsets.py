"""GROUPING SETS / ROLLUP / CUBE incremental maintenance.

The reference maintains these by delegation to Flink's planner (Expand
node before the aggregate, TiFlinkApp.java:270); here the planner
decomposes them into one aggregate state per grouping set over a
SHARED fact store (SURVEY §2.2 "expand to union of aggs"). These tests
pin the matcher envelope, convergence under +I/-D/+U churn including
group-key moves, crash-replay idempotence, and that the fact is stored
once (not |sets| times).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.planner import match_grouping_sets_shape

COLS = {"orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]}


class TestGroupingSetsMatcher:
    def test_rollup(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)""",
            {"orders"},
            COLS,
        )
        assert s is not None
        assert s.sets == (
            ("o_orderstatus", "o_custkey"),
            ("o_orderstatus",),
            (),
        )

    def test_cube(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, count(*) AS n
               FROM orders GROUP BY CUBE(o_orderstatus, o_custkey)""",
            {"orders"},
            COLS,
        )
        assert s is not None and len(s.sets) == 4
        assert set(s.sets) == {
            ("o_orderstatus", "o_custkey"),
            ("o_orderstatus",),
            ("o_custkey",),
            (),
        }

    def test_grouping_sets_mixed_spelling(self):
        # bare single column and empty set inside GROUPING SETS
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, sum(o_totalprice) AS t
               FROM orders WHERE o_totalprice > 10
               GROUP BY GROUPING SETS ((o_orderstatus, o_custkey), o_orderstatus, ())""",
            {"orders"},
            COLS,
        )
        assert s is not None and s.where == "o_totalprice > 10"
        assert s.sets[1] == ("o_orderstatus",) and s.sets[2] == ()

    def test_grouping_id_subset_and_reorder(self):
        # round 7: any SUBSET of the grouping columns, in any order —
        # per-set literals (first arg = MSB); Spark's own grouping_id()
        # rejects this spelling, Flink/Calcite/DuckDB accept it
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey,
                      GROUPING_ID(o_custkey) AS g_sub,
                      GROUPING_ID(o_custkey, o_orderstatus) AS g_rev,
                      count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)""",
            {"orders"},
            COLS,
        )
        assert s is not None
        assert dict(s.gid_items) == {
            "g_sub": ("o_custkey",),
            "g_rev": ("o_custkey", "o_orderstatus"),
        }
        # a NON-grouping column inside GROUPING_ID still refuses
        assert (
            match_grouping_sets_shape(
                """SELECT o_orderstatus, GROUPING_ID(o_totalprice) AS g, count(*) AS n
                   FROM orders GROUP BY ROLLUP(o_orderstatus)""",
                {"orders"},
                COLS,
            )
            is None
        )

    def test_cube_cost_bound(self):
        # round 7: the de-sugar cap is a |sets| COST bound (64), not a
        # term-count syntax limit — CUBE(5) = 32 sets routes…
        q5 = """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderkey AS k2, count(*) AS n
                FROM orders GROUP BY CUBE(o_orderkey, o_custkey, o_orderstatus, o_totalprice, k2)"""
        s = match_grouping_sets_shape(q5, {"orders"}, COLS)
        assert s is not None and len(s.sets) == 32
        # …CUBE(7) = 128 sets stays on recompute
        cols7 = ", ".join(f"o_orderkey % {i} AS k{i}" for i in range(2, 9))
        keys7 = ", ".join(f"k{i}" for i in range(2, 9))
        q7 = f"""SELECT {cols7}, count(*) AS n
                 FROM orders GROUP BY CUBE({keys7})"""
        assert match_grouping_sets_shape(q7, {"orders"}, COLS) is None

    @pytest.mark.parametrize(
        "query",
        [
            # HAVING referencing a non-key, non-measure column -> recompute
            """SELECT o_orderstatus, count(*) AS n FROM orders
               GROUP BY ROLLUP(o_orderstatus) HAVING o_totalprice = 1""",
            # expression key inside ROLLUP -> recompute
            """SELECT o_custkey, count(*) AS n FROM orders
               GROUP BY ROLLUP(o_custkey % 10)""",
            # select list missing a grouping column
            """SELECT o_orderstatus, count(*) AS n FROM orders
               GROUP BY ROLLUP(o_orderstatus, o_custkey)""",
            # plain GROUP BY is not this shape
            """SELECT o_orderstatus, count(*) AS n FROM orders
               GROUP BY o_orderstatus""",
        ],
    )
    def test_rejects(self, query):
        assert match_grouping_sets_shape(query, {"orders"}, COLS) is None


def _mk_fact(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, sub long, v double")


def _changes(df, op):
    return df.withColumn(OP_COL, F.lit(op)).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )


class TestGroupingSetsMV:
    def _build(self, spark, work, fact):
        from tiflink_spark.app import MVApp

        return (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .query(
                """SELECT grp, sub, count(*) AS n, sum(v) AS total
                   FROM f GROUP BY ROLLUP(grp, sub)"""
            )
            .target(work)
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )

    def _expected(self, spark, fact):
        fact.createOrReplaceTempView("f_exp")
        return spark.sql(
            """SELECT grp, sub, count(*) AS n, sum(v) AS total
               FROM f_exp GROUP BY ROLLUP(grp, sub)"""
        )

    def test_converges_and_shares_fact_store(self, spark):
        work = tempfile.mkdtemp(prefix="gsmv_")
        try:
            fact = _mk_fact(
                spark,
                [(i, "ab"[i % 2], i % 3, float(i)) for i in range(40)],
            )
            app = self._build(spark, work, fact)
            assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
            assert app.pk_is_unique is False
            # one shared fact store object across all sub-MVs
            stores = {id(sub.fact_store) for sub in app._mv.subs}
            assert len(stores) == 1
            app.bootstrap()

            # churn: inserts, deletes, group-key move
            ins = _mk_fact(spark, [(100 + i, "c", 7, 1.5) for i in range(5)])
            app.refresh({"f": _changes(ins, OP_INSERT)}, batch_id=1)
            dels = fact.filter(F.col("id") % 4 == 0)
            app.refresh({"f": _changes(dels, OP_DELETE)}, batch_id=2)
            move = (
                fact.filter((F.col("id") % 4 == 1))
                .withColumn("grp", F.lit("z"))
                .withColumn("v", F.col("v") + 10.0)
            )
            app.refresh({"f": _changes(move, OP_UPDATE)}, batch_id=3)

            final = (
                fact.filter(F.col("id") % 4 != 0)
                .withColumn(
                    "grp",
                    F.when(F.col("id") % 4 == 1, F.lit("z")).otherwise(F.col("grp")),
                )
                .withColumn(
                    "v",
                    F.when(F.col("id") % 4 == 1, F.col("v") + 10.0).otherwise(
                        F.col("v")
                    ),
                )
                .unionByName(ins)
            )
            got = app.read().select("grp", "sub", "n", F.round("total", 6).alias("t"))
            exp = self._expected(spark, final).select(
                "grp", "sub", "n", F.round("total", 6).alias("t")
            )
            assert got.exceptAll(exp).count() == 0
            assert exp.exceptAll(got).count() == 0
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_replay_idempotent(self, spark):
        work = tempfile.mkdtemp(prefix="gsmv_rep_")
        try:
            fact = _mk_fact(
                spark, [(i, "ab"[i % 2], i % 2, float(i)) for i in range(20)]
            )
            app = self._build(spark, work, fact)
            app.bootstrap()
            ins = _mk_fact(spark, [(200, "q", 1, 3.0)])
            app.refresh({"f": _changes(ins, OP_INSERT)}, batch_id=1)
            # crash-replay: the same batch id again must be a no-op on
            # every sub-MV (shared fact store AND per-set states)
            app.refresh({"f": _changes(ins, OP_INSERT)}, batch_id=1)
            got = app.read().select("grp", "sub", "n", F.round("total", 6).alias("t"))
            exp = self._expected(spark, fact.unionByName(ins)).select(
                "grp", "sub", "n", F.round("total", 6).alias("t")
            )
            assert got.exceptAll(exp).count() == 0
            assert exp.exceptAll(got).count() == 0
        finally:
            shutil.rmtree(work, ignore_errors=True)


class TestGroupingFlags:
    def test_grouping_flag_items(self, spark, tmp_path):
        """GROUPING(col) is constant per grouping set — emitted as
        per-set tinyint literals, interleaved back into select order,
        exactly equal to Spark's own CUBE output."""
        from tiflink_spark.app import MVApp

        src = spark.createDataFrame(
            [(i, "ab"[i % 2], i % 3, float(i)) for i in range(30)],
            "id long, g string, sub long, v double",
        )
        q = (
            "SELECT g, sub, count(*) AS n, GROUPING(g) AS gg, "
            "sum(v) AS sv, GROUPING(sub) AS gs "
            "FROM gf_src GROUP BY CUBE(g, sub)"
        )
        app = (
            MVApp.builder(spark)
            .source("gf_src", src, pk=["id"])
            .query(q)
            .target(str(tmp_path / "gf"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
        app.bootstrap()
        ins = spark.createDataFrame([(100, "c", 9, 2.0)], "id long, g string, sub long, v double")
        app.refresh({"gf_src": _changes(ins, OP_INSERT)}, batch_id=1)
        src.unionByName(ins).createOrReplaceTempView("gf_v")
        exp = spark.sql(q.replace("FROM gf_src", "FROM gf_v"))
        got = app.read()
        assert got.columns == ["g", "sub", "n", "gg", "sv", "gs"]
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    def test_grouping_id_matches(self):
        q = (
            "SELECT g, GROUPING_ID() AS gid, count(*) AS n "
            "FROM orders GROUP BY ROLLUP(g)"
        )
        s = match_grouping_sets_shape(q, {"orders"}, {"orders": ["g"]})
        assert s is not None
        assert s.gid_items == (("gid", ("g",)),)  # bare () = all keys

    def test_grouping_id_items(self, spark, tmp_path):
        """GROUPING_ID(cols…) is constant per grouping set — bit i
        (first arg = MSB) set when that column is aggregated away;
        emitted as per-set bigint literals equal to Spark's own."""
        from tiflink_spark.app import MVApp

        src = spark.createDataFrame(
            [(i, "ab"[i % 2], i % 3, float(i)) for i in range(30)],
            "id long, g string, sub long, v double",
        )
        q = (
            "SELECT g, sub, count(*) AS n, GROUPING_ID(g, sub) AS gid, "
            "GROUPING_ID() AS gid0 "
            "FROM gid_src GROUP BY CUBE(g, sub)"
        )
        app = (
            MVApp.builder(spark)
            .source("gid_src", src, pk=["id"])
            .query(q)
            .target(str(tmp_path / "gid"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
        app.bootstrap()
        ins = spark.createDataFrame([(100, "c", 9, 2.0)], "id long, g string, sub long, v double")
        app.refresh({"gid_src": _changes(ins, OP_INSERT)}, batch_id=1)
        src.unionByName(ins).createOrReplaceTempView("gid_v")
        exp = spark.sql(q.replace("FROM gid_src", "FROM gid_v"))
        got = app.read()
        assert got.columns == ["g", "sub", "n", "gid", "gid0"]
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    def test_grouping_over_non_key_rejected(self):
        q = (
            "SELECT o_orderstatus, GROUPING(o_custkey) AS gc, count(*) AS n "
            "FROM orders GROUP BY ROLLUP(o_orderstatus)"
        )
        assert match_grouping_sets_shape(q, {"orders"}, COLS) is None


class TestGroupingSetsHaving:
    def test_measure_only_having_matches(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)
               HAVING count(*) >= 3 AND sum(o_totalprice) > 100""",
            {"orders"},
            COLS,
        )
        assert s is not None
        assert s.having is not None and "__hav0" in s.having
        assert len(s.hidden) == 1  # sum(o_totalprice) is hidden

    def test_converges_with_having(self, spark):
        from tiflink_spark.app import MVApp

        work = tempfile.mkdtemp(prefix="gsh_t_")
        try:
            fact = _mk_fact(
                spark, [(i, "ab"[i % 2], i % 3, float(i)) for i in range(40)]
            )
            q = ("SELECT grp, sub, count(*) AS n, sum(v) AS sv FROM hf "
                 "GROUP BY ROLLUP(grp, sub) HAVING count(*) >= 7")
            app = (
                MVApp.builder(spark)
                .source("hf", fact, pk=["id"])
                .query(q)
                .target(work)
                .num_buckets(2)
                .shuffle_partitions(2)
                .build()
            )
            assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
            app.bootstrap()
            # deletes push groups below the threshold -> rows leave
            dels = fact.filter(F.col("id") % 3 == 0)
            app.refresh({"hf": _changes(dels, OP_DELETE)}, batch_id=1)
            final = fact.filter(F.col("id") % 3 != 0)
            final.createOrReplaceTempView("hf_exp")
            exp = spark.sql(q.replace("FROM hf ", "FROM hf_exp "))
            got = app.read().select("grp", "sub", "n", F.round("sv", 6).alias("s"))
            expn = exp.select("grp", "sub", "n", F.round("sv", 6).alias("s"))
            assert got.exceptAll(expn).count() == 0
            assert expn.exceptAll(got).count() == 0
        finally:
            shutil.rmtree(work, ignore_errors=True)


class TestGroupingSetsKeyHaving:
    def test_key_having_matches(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)
               HAVING o_orderstatus = 'F' AND count(*) >= 2""",
            {"orders"},
            COLS,
        )
        assert s is not None and "o_orderstatus" in s.having

    @pytest.mark.slow
    def test_converges_with_key_having(self, spark, tmp_path):
        """HAVING referencing a grouping KEY: per SQL, a key absent from
        the current grouping set reads as NULL — `HAVING grp = 'a'`
        drops every subtotal row; `HAVING grp = 'a' OR grp IS NULL`
        keeps them. Both must equal Spark's own evaluation under churn."""
        from tiflink_spark.app import MVApp

        fact = _mk_fact(spark, [(i, "ab"[i % 2], i % 3, float(i)) for i in range(40)])
        for tag, hav in (
            ("strict", "HAVING grp = 'a' AND count(*) >= 2"),
            ("nullkeep", "HAVING grp = 'a' OR grp IS NULL"),
        ):
            q = (
                "SELECT grp, sub, count(*) AS n, sum(v) AS sv FROM khf "
                f"GROUP BY ROLLUP(grp, sub) {hav}"
            )
            app = (
                MVApp.builder(spark)
                .source("khf", fact, pk=["id"])
                .query(q)
                .target(str(tmp_path / f"kh_{tag}"))
                .num_buckets(2)
                .shuffle_partitions(2)
                .build()
            )
            assert app.maintenance_strategy == "IncrementalGroupingSetsMV", tag
            app.bootstrap()
            dels = fact.filter(F.col("id") % 5 == 0)
            app.refresh({"khf": _changes(dels, OP_DELETE)}, batch_id=1)
            ins = spark.createDataFrame(
                [(200, "a", 7, 3.5), (201, "b", 8, 1.0)],
                "id long, grp string, sub long, v double",
            )
            app.refresh({"khf": _changes(ins, OP_INSERT)}, batch_id=2)
            final = fact.filter(F.col("id") % 5 != 0).unionByName(ins)
            final.createOrReplaceTempView("khf_exp")
            exp = spark.sql(q.replace("FROM khf ", "FROM khf_exp "))
            got = app.read().select("grp", "sub", "n", F.round("sv", 6).alias("s"))
            expn = exp.select("grp", "sub", "n", F.round("sv", 6).alias("s"))
            assert got.exceptAll(expn).count() == 0, tag
            assert expn.exceptAll(got).count() == 0, tag


def test_rollup_reads_see_a_batch_whole(spark, tmp_path, monkeypatch):
    """A read taken right after ANY store merge of a ROLLUP batch sees
    the view before the batch or after it, never some grouping sets at
    one batch and others at the next. Every other merge waits on a lock
    until that read ends, so the sets' concurrent passes cannot move
    the view under it."""
    import os
    import threading
    from collections import Counter

    from tiflink_spark.app import MVApp
    from tiflink_spark.store import KeyedParquetStore

    q = "SELECT pri, st, count(*) AS n FROM {t} GROUP BY ROLLUP (pri, st)"
    schema = "k int, pri string, st string"
    fact = spark.createDataFrame([(i, f"p{i % 3}", f"s{i % 2}") for i in range(24)], schema)
    root = str(tmp_path / "snap")
    app = (
        MVApp.builder(spark)
        .source("f_snap", fact, pk=["k"])
        .query(q.format(t="f_snap"))
        .target(root)
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
    app.bootstrap()

    def bag(df):
        return Counter(tuple(r) for r in df.collect())

    # a cross-set move (new (pri) subtotal), a delete and an insert
    batch = spark.createDataFrame(
        [(0, "pX", "s0", "+U", 0), (1, "p1", "s1", "-D", 1), (30, "p0", "s1", "+I", 2)],
        f"{schema}, {OP_COL} string, {SEQ_COL} long",
    )
    fact1 = spark.createDataFrame(
        [(0, "pX", "s0"), (30, "p0", "s1")]
        + [(i, f"p{i % 3}", f"s{i % 2}") for i in range(2, 24)],
        schema,
    )
    fact1.createOrReplaceTempView("f_snap_after")
    before, after = bag(app.read()), bag(spark.sql(q.format(t="f_snap_after")))
    assert before != after

    lock, seen = threading.Lock(), []
    merge = KeyedParquetStore.merge

    def spy(store, changes, batch_id):
        with lock:
            out = merge(store, changes, batch_id)
            seen.append((os.path.relpath(store.path, root), bag(app.read())))
        return out

    monkeypatch.setattr(KeyedParquetStore, "merge", spy)
    app.refresh({"f_snap": batch}, batch_id=1)
    monkeypatch.undo()
    torn = [path for path, got in seen if got not in (before, after)]
    assert seen and not torn, f"reads mixing batches after merges of {torn}"
    assert seen[-1][1] == after == bag(app.read())


class TestGroupingSetsCascade:
    """A nested aggregate over a rollup routes as CascadeMV through the
    hidden per-set row identity (__set_row) — the bag view's true
    unique key — and converges under cross-set churn and crash replay
    at EVERY crash point, including the nastiest: only SOME per-set
    sub-MVs committed the batch before the crash."""

    Q = (
        "SELECT coalesce(pri, '(all)') AS pg, sum(n) AS rows_g, "
        "count(*) AS grains FROM "
        "(SELECT pri, st, count(*) AS n FROM f_cg GROUP BY ROLLUP (pri, st)) r "
        "GROUP BY coalesce(pri, '(all)')"
    )

    def _expect(self, spark, fact):
        fact.createOrReplaceTempView("f_cg_now")
        return {
            tuple(r)
            for r in spark.sql(self.Q.replace("FROM f_cg ", "FROM f_cg_now ")).collect()
        }

    def test_routes_converges_and_survives_partial_sub_crash(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(i, f"p{i % 3}", f"s{i % 2}") for i in range(24)],
            "k int, pri string, st string",
        )
        app = (
            MVApp.builder(spark)
            .source("f_cg", fact, pk=["k"])
            .query(self.Q)
            .target(str(tmp_path / "cg"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "CascadeMV"
        assert app._mv.inner.maintenance_strategy == "IncrementalGroupingSetsMV"
        app.bootstrap()
        assert {tuple(r) for r in app.read().collect()} == self._expect(spark, fact)

        # B1: a cross-set group move (new (pri) subtotal appears) + a
        # delete — crash simulated after only the FIRST per-set sub-MV
        # committed, then a full replay must converge, not double-apply.
        b1 = spark.createDataFrame(
            [(0, "pX", "s0", "+U", 0), (1, "p1", "s1", "-D", 1)],
            "k int, pri string, st string, __op string, __seq long",
        )
        inner_mv = app._mv.inner._mv
        # the shared fact carries the hidden global-set key
        inner_mv.subs[0].refresh(b1.withColumn("__g", F.lit(0)), batch_id=1)
        app.refresh({"f_cg": b1}, batch_id=1)
        fact1 = spark.createDataFrame(
            [(0, "pX", "s0")] + [(i, f"p{i % 3}", f"s{i % 2}") for i in range(2, 24)],
            "k int, pri string, st string",
        )
        assert {tuple(r) for r in app.read().collect()} == self._expect(spark, fact1)
        # fully-committed batch replays as a no-op
        assert app.refresh({"f_cg": b1}, batch_id=1) is False

        # B2: crash between the inner level and the outer level — the
        # replay reruns the inner level, whose target merge writes the
        # batch delta the outer level reads.
        b2 = spark.createDataFrame(
            [(2, "pX", "s1", "+U", 0)], "k int, pri string, st string, __op string, __seq long"
        )
        app._mv.inner.refresh({"f_cg": b2}, batch_id=2)
        app.refresh({"f_cg": b2}, batch_id=2)
        fact2 = spark.createDataFrame(
            [(0, "pX", "s0"), (2, "pX", "s1")]
            + [(i, f"p{i % 3}", f"s{i % 2}") for i in range(3, 24)],
            "k int, pri string, st string",
        )
        assert {tuple(r) for r in app.read().collect()} == self._expect(spark, fact2)


class TestGroupingSetsExprKeys:
    """Expression grouping keys (ROLLUP(date_trunc(...) AS mon, st)) —
    derived onto fact rows via key_exprs, then maintained like stored
    columns; previously a recompute-only shape."""

    def test_matcher(self):
        cols = {"t": ["id", "d", "st", "v"]}
        s = match_grouping_sets_shape(
            "SELECT date_trunc('month', d) AS mon, st, count(*) AS n "
            "FROM t GROUP BY ROLLUP (date_trunc('month', d), st)",
            {"t"}, cols,
        )
        assert s is not None
        assert s.all_keys == ("mon", "st")
        assert s.sets == (("mon", "st"), ("mon",), ())
        assert s.key_exprs == (("mon", "date_trunc('month', d)"),)
        # the ALIAS spelling inside the grouping body also resolves
        s2 = match_grouping_sets_shape(
            "SELECT date_trunc('month', d) AS mon, st, count(*) AS n "
            "FROM t GROUP BY GROUPING SETS ((mon, st), (mon), ())",
            {"t"}, cols,
        )
        assert s2 is not None and s2.sets == s.sets
        # an alias with NO select expression to derive it -> no route
        assert match_grouping_sets_shape(
            "SELECT mon, st, count(*) AS n "
            "FROM t GROUP BY GROUPING SETS ((mon, st), ())",
            {"t"}, cols,
        ) is None
        # nested ROLLUP inside GROUPING SETS stays on recompute
        assert match_grouping_sets_shape(
            "SELECT d, st, count(*) AS n "
            "FROM t GROUP BY GROUPING SETS (ROLLUP(d, st))",
            {"t"}, cols,
        ) is None
        # round 7: CUBE(5) = 32 sets is inside the |sets| cost bound —
        # expression terms included
        s5 = match_grouping_sets_shape(
            "SELECT id, d, st, v, upper(st) AS u5, count(*) AS n "
            "FROM t GROUP BY CUBE (id, d, st, v, upper(st))",
            {"t"}, cols,
        )
        assert s5 is not None and len(s5.sets) == 32

    def test_converges_across_key_moves(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(i, f"2024-0{1 + i % 3}-15", f"s{i % 2}", i % 7) for i in range(24)],
            "k int, ds string, st string, v int",
        ).selectExpr("k", "CAST(ds AS TIMESTAMP) AS d", "st", "v")
        q = (
            "SELECT date_trunc('month', d) AS mon, st, count(*) AS n, "
            "sum(v) AS sv FROM f_ge GROUP BY ROLLUP (date_trunc('month', d), st)"
        )
        app = (
            MVApp.builder(spark)
            .source("f_ge", fact, pk=["k"])
            .query(q)
            .target(str(tmp_path / "ge"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
        app.bootstrap()

        def check(fact_now):
            fact_now.createOrReplaceTempView("f_ge_now")
            exp = {
                tuple(str(x) for x in r)
                for r in spark.sql(q.replace("FROM f_ge ", "FROM f_ge_now ")).collect()
            }
            got = {tuple(str(x) for x in r) for r in app.read().collect()}
            assert got == exp

        check(fact)
        # B1: move row 0 across months (the DERIVED key changes) and
        # delete row 1 — then replay for idempotence
        b1 = spark.createDataFrame(
            [(0, "2024-03-20", "s0", 5, "+U", 0), (1, "2024-02-15", "s1", 1, "-D", 1)],
            "k int, ds string, st string, v int, __op string, __seq long",
        ).selectExpr(
            "k", "CAST(ds AS TIMESTAMP) AS d", "st", "v", "__op", "__seq"
        )
        app.refresh({"f_ge": b1}, batch_id=1)
        fact1 = fact.filter("k > 1").unionByName(
            spark.createDataFrame([(0, "2024-03-20", "s0", 5)], "k int, ds string, st string, v int")
            .selectExpr("k", "CAST(ds AS TIMESTAMP) AS d", "st", "v")
        )
        check(fact1)
        assert app.refresh({"f_ge": b1}, batch_id=1) is False


class TestHavingGroupingCalls:
    """GROUPING()/GROUPING_ID() referenced in HAVING (round 10): both
    are CONSTANT per grouping set, so the planner extracts them to
    placeholders and the maintenance layer substitutes each set's
    literal before applying the filter — the r9 recompute-only tail
    item 'key-referencing GROUPING()/HAVING inside subtotal sub-MVs'."""

    def test_matcher_extracts_calls(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)
               HAVING GROUPING(o_custkey) = 1 OR count(*) > 5""",
            {"orders"},
            COLS,
        )
        assert s is not None
        assert s.having_gcalls == (("__ghav0", ("o_custkey",)),)
        assert "__ghav0" in s.having and "GROUPING" not in s.having.upper()

    def test_matcher_bare_grouping_id_means_all_keys(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, o_custkey, count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)
               HAVING GROUPING_ID() < 3""",
            {"orders"},
            COLS,
        )
        assert s is not None
        assert s.having_gcalls == (("__ghav0", ("o_orderstatus", "o_custkey")),)

    def test_matcher_refuses_non_grouping_column(self):
        # SQL itself rejects GROUPING over a non-grouping column
        assert (
            match_grouping_sets_shape(
                """SELECT o_orderstatus, o_custkey, count(*) AS n
                   FROM orders GROUP BY ROLLUP(o_orderstatus, o_custkey)
                   HAVING GROUPING(o_totalprice) = 1""",
                {"orders"},
                COLS,
            )
            is None
        )

    def test_matcher_leaves_string_literals(self):
        s = match_grouping_sets_shape(
            """SELECT o_orderstatus, count(*) AS n
               FROM orders GROUP BY ROLLUP(o_orderstatus)
               HAVING GROUPING(o_orderstatus) = 1 OR o_orderstatus = 'GROUPING(x)'""",
            {"orders"},
            COLS,
        )
        assert s is not None
        assert "'GROUPING(x)'" in s.having  # literal untouched

    @pytest.mark.parametrize(
        "hav",
        [
            "HAVING GROUPING(sub) = 1 OR count(*) > 3",
            "HAVING GROUPING_ID() < 3",
            # reference the select-item ALIAS instead of the call
            "HAVING gp = 1 OR count(*) > 3",
        ],
    )
    def test_converges_under_churn(self, spark, tmp_path, hav):
        from tiflink_spark.app import MVApp

        fact = _mk_fact(
            spark, [(i, "ab"[i % 2], i % 3, float(i)) for i in range(40)]
        )
        q = (
            "SELECT grp, sub, GROUPING(sub) AS gp, count(*) AS n "
            f"FROM hgf GROUP BY ROLLUP(grp, sub) {hav}"
        )
        app = (
            MVApp.builder(spark)
            .source("hgf", fact, pk=["id"])
            .query(q)
            .target(str(tmp_path / "hg"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
        app.bootstrap()
        dels = fact.filter(F.col("id") % 5 == 0)
        app.refresh({"hgf": _changes(dels, OP_DELETE)}, batch_id=1)
        move = (
            fact.filter(F.col("id") % 5 == 1)
            .withColumn("grp", F.lit("z"))
        )
        app.refresh({"hgf": _changes(move, OP_UPDATE)}, batch_id=2)
        final = (
            fact.filter(F.col("id") % 5 != 0)
            .withColumn(
                "grp",
                F.when(F.col("id") % 5 == 1, F.lit("z")).otherwise(F.col("grp")),
            )
        )
        final.createOrReplaceTempView("hgf_exp")
        from tiflink_spark.planner import spark_executable_query

        exp = spark.sql(spark_executable_query(q.replace("FROM hgf ", "FROM hgf_exp ")))
        got = app.read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


class TestGroupingOuterCascade:
    """ROLLUP over a JOIN routes as CascadeMV[join -> grouping-sets]
    (round 10): the grouping-sets route as a cascade OUTER. Before this
    round the build crashed on the outer's missing single target."""

    @pytest.mark.slow
    def test_rollup_over_join_converges(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(i, i % 7, "ab"[i % 2], float(i)) for i in range(60)],
            "id long, dk long, st string, v double",
        )
        dim = spark.createDataFrame(
            [(i, "grp%d" % (i % 3)) for i in range(7)], "dk long, dg string"
        )
        q = """SELECT dg, st, count(*) AS n
               FROM f JOIN d ON f.dk = d.dk
               GROUP BY ROLLUP(dg, st)"""
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("d", dim, pk=["dk"])
            .query(q)
            .target(str(tmp_path / "gc"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy.startswith("CascadeMV")
        app.bootstrap()
        # fact churn, dim churn (group move), fact delete
        ins = spark.createDataFrame(
            [(100 + i, i % 7, "c", 1.0) for i in range(5)],
            "id long, dk long, st string, v double",
        )
        app.refresh({"f": _changes(ins, OP_INSERT)}, batch_id=1)
        dmove = dim.filter(F.col("dk") % 2 == 0).withColumn("dg", F.lit("moved"))
        app.refresh({"d": _changes(dmove, OP_UPDATE)}, batch_id=2)
        dels = fact.filter(F.col("id") % 4 == 0)
        app.refresh({"f": _changes(dels, OP_DELETE)}, batch_id=3)

        ffin = fact.filter(F.col("id") % 4 != 0).unionByName(ins)
        dfin = dim.withColumn(
            "dg", F.when(F.col("dk") % 2 == 0, F.lit("moved")).otherwise(F.col("dg"))
        )
        ffin.createOrReplaceTempView("f_exp")
        dfin.createOrReplaceTempView("d_exp")
        exp = spark.sql(
            q.replace("FROM f JOIN d", "FROM f_exp f JOIN d_exp d")
        )
        got = app.read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


class TestBagRecompute:
    """Recompute fallback for keyless grouping outputs (round 10): a
    grouping-body query past every incremental matcher (CUBE(7)+, or
    force_recompute here) diffs as a BAG keyed by a hidden null-safe
    row encoding + copy index — previously the first-output-column PK
    default crashed the keyed store on subtotal NULLs."""

    def _app(self, spark, tmp_path, fact, dim):
        from tiflink_spark.app import MVApp

        return (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("d", dim, pk=["dk"])
            .query(
                """SELECT dg, st, count(*) AS n
                   FROM f JOIN d ON f.dk = d.dk
                   GROUP BY ROLLUP(dg, st)"""
            )
            .target(str(tmp_path / "bagmv"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .force_recompute()
            .build()
        )

    def test_bag_diff_converges_and_replays(self, spark, tmp_path):
        fact = spark.createDataFrame(
            [(i, i % 5, "ab"[i % 2], float(i)) for i in range(40)],
            "id long, dk long, st string, v double",
        )
        dim = spark.createDataFrame(
            [(i, "g%d" % (i % 2)) for i in range(5)], "dk long, dg string"
        )
        app = self._app(spark, tmp_path, fact, dim)
        assert app.maintenance_strategy == "RecomputeMV"
        assert app._mv._bag is True
        assert app.pk_is_unique is False
        app.bootstrap()
        assert app._mv.target.pk == ["__row_id", "__copy"]
        # hidden key columns never reach the reader
        assert app.read().columns == ["dg", "st", "n"]

        dels = fact.filter(F.col("id") % 3 == 0)
        app.refresh({"f": _changes(dels, OP_DELETE)}, batch_id=1)
        dmove = dim.filter(F.col("dk") == 0).withColumn("dg", F.lit("zz"))
        app.refresh({"d": _changes(dmove, OP_UPDATE)}, batch_id=2)
        # crash-replay: same batch id is a no-op
        assert app.refresh({"d": _changes(dmove, OP_UPDATE)}, batch_id=2) is False

        ffin = fact.filter(F.col("id") % 3 != 0)
        dfin = dim.withColumn(
            "dg", F.when(F.col("dk") == 0, F.lit("zz")).otherwise(F.col("dg"))
        )
        ffin.createOrReplaceTempView("bf_exp")
        dfin.createOrReplaceTempView("bd_exp")
        exp = spark.sql(
            """SELECT dg, st, count(*) AS n
               FROM bf_exp f JOIN bd_exp d ON f.dk = d.dk
               GROUP BY ROLLUP(dg, st)"""
        )
        got = app.read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    def test_cube7_routes_to_bag_not_crash(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [
                (i, i % 2, i % 3, i % 2, i % 3, i % 2, i % 3, i % 5)
                for i in range(30)
            ],
            "id long, a int, b int, c int, dd int, e int, g int, h int",
        )
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .query(
                """SELECT a, b, c, dd, e, g, h, count(*) AS n
                   FROM f GROUP BY CUBE(a, b, c, dd, e, g, h)"""
            )
            .target(str(tmp_path / "cube7"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        # 2^7 = 128 sets > the 64-set cost bound -> recompute, as a bag
        assert app.maintenance_strategy == "RecomputeMV"
        assert app._mv._bag is True
        app.bootstrap()
        fact.createOrReplaceTempView("c7_exp")
        exp = spark.sql(
            """SELECT a, b, c, dd, e, g, h, count(*) AS n
               FROM c7_exp GROUP BY CUBE(a, b, c, dd, e, g, h)"""
        )
        got = app.read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0
