"""Correlated / filtered IN-subquery incremental maintenance (round 10).

The r9 recompute-only tail 'NOT IN with correlated non-equality
predicates': the inner set S(c) varies per outer row through theta
terms, so membership is evaluated exactly per dirty row
(IncrementalCorrSemiJoinMV) — no global presence-key state exists.
The uncorrelated filtered form (inner WHERE row-local only) keeps the
presence-state class with the filter applied to the inner store
(IncrementalSemiJoinMV.other_where). The reference maintains the
equality forms through Flink's update-mode planner (semi/anti join
state); the correlated theta form de-correlates to the same theta
anti-join over full state.

These tests pin the AST front-end and matcher envelopes, SQL's
three-valued IN/NOT IN NULL semantics row by row, churn convergence on
both sides, and crash-replay idempotence.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.planner import match_corr_semijoin_shape
from tiflink_spark.sqlast import parse_single_select, parse_where_subquery
from tiflink_spark.store import StoreSet

COLS = {
    "cust": ["c_id", "c_key", "c_bal"],
    "ord": ["o_id", "o_key", "o_price"],
}


def _in_subquery(query):
    """(outer statement, WHERE subquery term) of ``query``."""
    s = parse_single_select(query)
    return s, parse_where_subquery(s.where)


class TestInSubqueryAst:
    def test_parses_inner_where(self):
        s, t = _in_subquery(
            """SELECT c_id FROM cust WHERE c_key NOT IN
               (SELECT o_key FROM ord o WHERE o.o_price > 5)"""
        )
        assert t is not None
        assert (s.table, t.other, t.fact_col, t.other_col) == ("cust", "ord", "c_key", "o_key")
        assert t.neg is True and t.other_alias == "o" and t.pre is None
        assert t.inner.strip() == "o.o_price > 5"

    def test_requires_inner_where(self):
        # the plain spelling parses without an inner WHERE and stays on
        # match_semijoin_shape
        q = "SELECT c_id FROM cust WHERE c_key IN (SELECT o_key FROM ord)"
        assert _in_subquery(q)[1].inner is None
        assert match_corr_semijoin_shape(q, {"cust", "ord"}, COLS) is None

    def test_pre_conjunct_and_alias(self):
        s, t = _in_subquery(
            """SELECT c_id FROM cust AS c WHERE c_bal > 0 AND c_key IN
               (SELECT o_key FROM ord WHERE o_price > c.c_bal)"""
        )
        assert t is not None
        assert t.pre.strip() == "c_bal > 0" and s.alias == "c"


class TestCorrSemiJoinMatcher:
    def test_correlated_theta(self):
        s = match_corr_semijoin_shape(
            """SELECT c_id, c_key, c_bal FROM cust c WHERE c_key NOT IN
               (SELECT o_key FROM ord o WHERE o.o_price > c.c_bal)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None and s.anti is True
        assert s.corr == (("o_price", ">", "c_bal"),)
        assert s.inner_where is None

    def test_flipped_operand_order_normalizes(self):
        s = match_corr_semijoin_shape(
            """SELECT c_id, c_key, c_bal FROM cust c WHERE c_key IN
               (SELECT o_key FROM ord o WHERE c.c_bal < o.o_price)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None
        # outer-first spelling flips to inner-first with the op mirrored
        assert s.corr == (("o_price", ">", "c_bal"),)

    def test_local_only_gives_empty_corr(self):
        s = match_corr_semijoin_shape(
            """SELECT c_id, c_key, c_bal FROM cust WHERE c_key NOT IN
               (SELECT o_key FROM ord o WHERE o.o_price > 50)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None and s.corr == ()
        assert "o_price > 50" in s.inner_where

    def test_mixed_local_and_corr(self):
        s = match_corr_semijoin_shape(
            """SELECT c_id, c_key, c_bal FROM cust c WHERE c_key IN
               (SELECT o_key FROM ord o
                WHERE o_price > 20 AND o.o_price > c.c_bal)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None
        assert s.corr == (("o_price", ">", "c_bal"),)
        assert "o_price > 20" in s.inner_where

    def test_top_level_or_with_outer_ref_refuses(self):
        # OR prevents conjunct splitting; an outer reference inside the
        # disjunction cannot be classified -> recompute
        assert (
            match_corr_semijoin_shape(
                """SELECT c_id, c_key, c_bal FROM cust c WHERE c_key IN
                   (SELECT o_key FROM ord o
                    WHERE o_price > 20 OR o.o_price > c.c_bal)""",
                {"cust", "ord"},
                COLS,
            )
            is None
        )

    def test_top_level_or_local_only_is_one_filter(self):
        s = match_corr_semijoin_shape(
            """SELECT c_id, c_key, c_bal FROM cust WHERE c_key IN
               (SELECT o_key FROM ord o
                WHERE o_price > 20 OR o.o_price < 5)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None and s.corr == ()
        assert "OR" in s.inner_where.upper()

    def test_nondeterministic_inner_refuses(self):
        assert (
            match_corr_semijoin_shape(
                """SELECT c_id, c_key, c_bal FROM cust WHERE c_key IN
                   (SELECT o_key FROM ord WHERE o_price > rand())""",
                {"cust", "ord"},
                COLS,
            )
            is None
        )


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _ch(df, op):
    return df.withColumn(OP_COL, F.lit(op)).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )


class TestCorrSemiJoinMV:
    FACT = [(1, 10, 100.0), (2, 20, 50.0), (3, None, 75.0), (4, 40, 10.0), (5, 50, 200.0)]
    OTHER = [(101, 10, 120.0), (102, 20, 30.0), (103, None, 90.0), (104, 40, 5.0), (105, 99, 500.0)]

    def _frames(self, spark):
        return (
            _mk(spark, self.FACT, "id long, fkey int, bal double"),
            _mk(spark, self.OTHER, "oid long, okey int, price double"),
        )

    @pytest.mark.parametrize(
        "tag,q,strategy",
        [
            pytest.param(
                "not_in_corr",
                """SELECT id, fkey, bal FROM f WHERE fkey NOT IN
                   (SELECT okey FROM o WHERE o.price > f.bal)""",
                "IncrementalCorrSemiJoinMV",
                marks=pytest.mark.slow,
            ),
            (
                "in_corr",
                """SELECT id, fkey, bal FROM f WHERE fkey IN
                   (SELECT okey FROM o WHERE o.price > f.bal)""",
                "IncrementalCorrSemiJoinMV",
            ),
            pytest.param(
                "not_in_filtered",
                """SELECT id, fkey, bal FROM f WHERE fkey NOT IN
                   (SELECT okey FROM o WHERE price > 50)""",
                "IncrementalSemiJoinMV",
                marks=pytest.mark.slow,
            ),
            pytest.param(
                "in_mixed",
                """SELECT id, fkey, bal FROM f WHERE fkey IN
                   (SELECT okey FROM o WHERE price > 20 AND o.price > f.bal)""",
                "IncrementalCorrSemiJoinMV",
                marks=pytest.mark.slow,
            ),
        ],
    )
    def test_converges_under_null_heavy_churn(self, spark, tmp_path, tag, q, strategy):
        from tiflink_spark.app import MVApp

        fact, other = self._frames(spark)
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(q)
            .target(str(tmp_path / tag))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == strategy, tag
        app.bootstrap()
        # churn: a price flip that moves theta membership, an inserted
        # NULL inner key (NOT IN must empty for affected rows), a fact
        # bal update (theta range move), deletes incl. the NULL rows
        b1 = _ch(
            other.filter(F.col("oid") == 102).withColumn("price", F.lit(200.0)),
            OP_UPDATE,
        )
        b2 = _ch(
            _mk(spark, [(106, None, 60.0)], "oid long, okey int, price double"),
            OP_INSERT,
        )
        b3 = _ch(
            fact.filter(F.col("id") == 5).withColumn("bal", F.lit(1000.0)),
            OP_UPDATE,
        )
        b4 = _ch(other.filter(F.col("oid").isin(103, 106)), OP_DELETE)
        cur_f, cur_o = fact, other
        for i, (tbl, b) in enumerate(
            [("o", b1), ("o", b2), ("f", b3), ("o", b4)], 1
        ):
            app.refresh({tbl: b}, batch_id=i)
            key = "oid" if tbl == "o" else "id"
            adds = b.filter(F.col(OP_COL) != OP_DELETE).drop(OP_COL, SEQ_COL)
            if tbl == "o":
                cur_o = cur_o.join(b.select(key).distinct(), key, "left_anti").unionByName(adds)
            else:
                cur_f = cur_f.join(b.select(key).distinct(), key, "left_anti").unionByName(adds)
            cur_f.createOrReplaceTempView("f")
            cur_o.createOrReplaceTempView("o")
            exp = spark.sql(q)
            got = app.read()
            assert got.exceptAll(exp).count() == 0, f"{tag} batch {i}"
            assert exp.exceptAll(got).count() == 0, f"{tag} batch {i}"

    def test_replay_idempotent(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact, other = self._frames(spark)
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(
                """SELECT id, fkey, bal FROM f WHERE fkey NOT IN
                   (SELECT okey FROM o WHERE o.price > f.bal)"""
            )
            .target(str(tmp_path / "rep"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        app.bootstrap()
        b = _ch(
            other.filter(F.col("oid") == 101).withColumn("price", F.lit(1.0)),
            OP_UPDATE,
        )
        assert app.refresh({"o": b}, batch_id=1) is True
        n = app.read().count()
        assert app.refresh({"o": b}, batch_id=1) is False
        assert app.read().count() == n

    def test_null_fact_key_empty_inner(self, spark, tmp_path):
        """NULL NOT IN S is TRUE only for S empty — and S(c) here is
        per-row: a NULL-key fact row whose theta range holds no inner
        row is IN the view; one whose range is non-empty is OUT."""
        from tiflink_spark.app import MVApp

        fact = _mk(
            spark,
            [(1, None, 5.0), (2, None, 1000.0)],
            "id long, fkey int, bal double",
        )
        other = _mk(spark, [(101, 10, 120.0)], "oid long, okey int, price double")
        q = """SELECT id, fkey, bal FROM f WHERE fkey NOT IN
               (SELECT okey FROM o WHERE o.price > f.bal)"""
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(q)
            .target(str(tmp_path / "nullk"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        app.bootstrap()
        # id=1: S = {10} (120 > 5) non-empty -> excluded;
        # id=2: S = {} (120 < 1000) -> NULL NOT IN () -> kept
        got = {r["id"] for r in app.read().collect()}
        assert got == {2}
        fact.createOrReplaceTempView("f")
        other.createOrReplaceTempView("o")
        assert {r["id"] for r in spark.sql(q).collect()} == {2}


class TestCorrExprTheta:
    def test_expression_sides(self):
        s = match_corr_semijoin_shape(
            """SELECT c_id, c_key, c_bal FROM cust c WHERE c_key NOT IN
               (SELECT o_key FROM ord o
                WHERE o.o_price + 1 > c.c_bal * 100)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None
        assert s.corr == (("o_price + 1", ">", "c_bal * 100"),)

    def test_mixed_scope_side_refuses(self):
        # one comparison side mixing both tables' columns cannot be
        # split into (inner_expr, op, outer_expr)
        assert (
            match_corr_semijoin_shape(
                """SELECT c_id, c_key, c_bal FROM cust c WHERE c_key IN
                   (SELECT o_key FROM ord o
                    WHERE o.o_price + c.c_bal > 100)""",
                {"cust", "ord"},
                COLS,
            )
            is None
        )

    def test_expr_theta_converges(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact = _mk(spark, TestCorrSemiJoinMV.FACT, "id long, fkey int, bal double")
        other = _mk(spark, TestCorrSemiJoinMV.OTHER, "oid long, okey int, price double")
        q = """SELECT id, fkey, bal FROM f WHERE fkey NOT IN
               (SELECT okey FROM o WHERE o.price > f.bal * 2)"""
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(q)
            .target(str(tmp_path / "expr"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalCorrSemiJoinMV"
        app.bootstrap()
        b = _ch(
            other.filter(F.col("oid") == 105).withColumn("price", F.lit(90.0)),
            OP_UPDATE,
        )
        app.refresh({"o": b}, batch_id=1)
        cur_o = other.join(b.select("oid").distinct(), "oid", "left_anti").unionByName(
            b.drop(OP_COL, SEQ_COL)
        )
        fact.createOrReplaceTempView("f")
        cur_o.createOrReplaceTempView("o")
        exp = spark.sql(q)
        got = app.read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


class TestThetaExists:
    def test_matcher_theta_exists(self):
        from tiflink_spark.planner import match_corr_exists_shape

        s = match_corr_exists_shape(
            """SELECT c_id, c_key, c_bal FROM cust c WHERE NOT EXISTS
               (SELECT 1 FROM ord o
                WHERE o.o_key = c.c_key AND o.o_price > c.c_bal * 2)""",
            {"cust", "ord"},
            COLS,
        )
        assert s is not None and s.exists_form is True and s.anti is True
        assert s.fact_key is None and s.other_key is None
        assert set(s.corr) == {
            ("o_key", "=", "c_key"),
            ("o_price", ">", "c_bal * 2"),
        }

    def test_matcher_refuses_uncorrelated_exists(self):
        from tiflink_spark.planner import match_corr_exists_shape

        # constant-per-row EXISTS (inner-local only) is degenerate
        assert (
            match_corr_exists_shape(
                """SELECT c_id, c_key, c_bal FROM cust WHERE EXISTS
                   (SELECT 1 FROM ord WHERE o_price > 50)""",
                {"cust", "ord"},
                COLS,
            )
            is None
        )

    @pytest.mark.parametrize(
        "tag,q",
        [
            (
                "exists_theta",
                """SELECT id, fkey, bal FROM f WHERE EXISTS
                   (SELECT 1 FROM o WHERE o.price > f.bal)""",
            ),
            pytest.param(
                "not_exists_eq_theta",
                """SELECT id, fkey, bal FROM f WHERE NOT EXISTS
                   (SELECT 1 FROM o
                    WHERE o.okey = f.fkey AND o.price > f.bal)""",
                marks=pytest.mark.slow,
            ),
        ],
    )
    def test_converges(self, spark, tmp_path, tag, q):
        from tiflink_spark.app import MVApp

        fact = _mk(spark, TestCorrSemiJoinMV.FACT, "id long, fkey int, bal double")
        other = _mk(spark, TestCorrSemiJoinMV.OTHER, "oid long, okey int, price double")
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(q)
            .target(str(tmp_path / tag))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalCorrSemiJoinMV", tag
        assert app._mv.exists_mode is True
        app.bootstrap()
        b1 = _ch(
            other.filter(F.col("oid") == 105).withColumn("price", F.lit(90.0)),
            OP_UPDATE,
        )
        b2 = _ch(
            fact.filter(F.col("id") == 4).withColumn("bal", F.lit(500.0)),
            OP_UPDATE,
        )
        b3 = _ch(other.filter(F.col("oid").isin(101, 104)), OP_DELETE)
        cur_f, cur_o = fact, other
        for i, (tbl, b) in enumerate([("o", b1), ("f", b2), ("o", b3)], 1):
            app.refresh({tbl: b}, batch_id=i)
            key = "oid" if tbl == "o" else "id"
            adds = b.filter(F.col(OP_COL) != OP_DELETE).drop(OP_COL, SEQ_COL)
            if tbl == "o":
                cur_o = cur_o.join(b.select(key).distinct(), key, "left_anti").unionByName(adds)
            else:
                cur_f = cur_f.join(b.select(key).distinct(), key, "left_anti").unionByName(adds)
            cur_f.createOrReplaceTempView("f")
            cur_o.createOrReplaceTempView("o")
            exp = spark.sql(q)
            got = app.read()
            assert got.exceptAll(exp).count() == 0, f"{tag} batch {i}"
            assert exp.exceptAll(got).count() == 0, f"{tag} batch {i}"

    def test_pure_equality_exists_keeps_presence_route(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        fact = _mk(spark, TestCorrSemiJoinMV.FACT, "id long, fkey int, bal double")
        other = _mk(spark, TestCorrSemiJoinMV.OTHER, "oid long, okey int, price double")
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(
                """SELECT id, fkey, bal FROM f WHERE EXISTS
                   (SELECT 1 FROM o WHERE o.okey = f.fkey)"""
            )
            .target(str(tmp_path / "eqonly"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        # the cheaper presence-state route must keep claiming this
        assert app.maintenance_strategy == "IncrementalSemiJoinMV"


class TestSingleInequalityDecomposition:
    """The pure single-inequality θ shape evaluates membership from
    inner-side extremes (one linear aggregate + an equi join) instead
    of the |rows|×|other| pair join — pinned after the pair-join form
    degenerated to a 300s broadcast-build timeout at sf0.1 under wide
    churn. These tests hold the decomposition bit-equal to the pair
    join on NULL-heavy frames (NULL keys, NULL θ values, both sides)
    for every op × mode, and pin the no-nested-loop plan shape."""

    # fkey NULL / bal NULL / bal extremes; okey NULL / price NULL / dup keys
    FACT = [
        (1, 10, 100.0), (2, 20, 50.0), (3, None, 75.0),
        (4, 40, None), (5, 50, 200.0), (6, 99, -1.0),
    ]
    OTHER = [
        (101, 10, 120.0), (102, 20, 30.0), (103, None, 90.0),
        (104, 40, 5.0), (105, 99, 500.0), (106, 10, None),
        (107, None, None), (108, 20, 80.0),
    ]

    def _mv(self, spark, tmp_path, op, *, anti, exists_mode, tag):
        from tiflink_spark.mv import IncrementalCorrSemiJoinMV

        fact = _mk(spark, self.FACT, "id long, fkey int, bal double")
        other = _mk(spark, self.OTHER, "oid long, okey int, price double")
        kw = (
            dict(fact_key=None, other_key=None, exists_mode=True)
            if exists_mode
            else dict(fact_key="fkey", other_key="okey")
        )
        mv = IncrementalCorrSemiJoinMV(
            spark, fact, ["id"], other, ["oid"],
            corr=[("price", op, "bal")],
            out_cols=["id", "fkey", "bal"],
            stores=StoreSet(spark, str(tmp_path / tag), 2),
            anti=anti, shuffle_partitions=2, **kw,
        )
        return mv, fact, other

    @pytest.mark.parametrize("op", ["<", "<=", ">", ">="])
    @pytest.mark.parametrize(
        "anti,exists_mode", [(False, False), (True, False), (False, True), (True, True)]
    )
    def test_matches_pair_join_on_null_heavy_frames(
        self, spark, tmp_path, monkeypatch, op, anti, exists_mode
    ):
        tag = f"{op}{anti}{exists_mode}"
        mv, fact, other = self._mv(
            spark, tmp_path, op, anti=anti, exists_mode=exists_mode, tag=tag
        )
        oeval = mv._inner_eval(other)
        fast = mv._member_rows(fact, oeval, hint=True)
        assert mv._ineq_1d() is not None
        monkeypatch.setattr(mv, "_ineq_1d", lambda: None)  # force the pair join
        slow = mv._member_rows(fact, oeval, hint=True)
        cols = ["id", "fkey", "bal", "__member"]
        got = {tuple(r) for r in fast.select(*cols).collect()}
        exp = {tuple(r) for r in slow.select(*cols).collect()}
        assert got == exp, f"{tag}: {sorted(got ^ exp)}"

    def test_empty_inner_side(self, spark, tmp_path, monkeypatch):
        mv, fact, other = self._mv(
            spark, tmp_path, ">", anti=True, exists_mode=False, tag="empty"
        )
        oeval = mv._inner_eval(other.filter(F.lit(False)))
        fast = mv._member_rows(fact, oeval, hint=True)
        # NOT IN over an empty set keeps every row (nonempty bit 0)
        assert fast.filter(~F.col("__member")).count() == 0
        monkeypatch.setattr(mv, "_ineq_1d", lambda: None)
        slow = mv._member_rows(fact, oeval, hint=True)
        assert (
            {tuple(r) for r in fast.select("id", "__member").collect()}
            == {tuple(r) for r in slow.select("id", "__member").collect()}
        )

    def test_member_plan_joins_extremes_not_pairs(self, spark, tmp_path):
        import io
        from contextlib import redirect_stdout

        mv, fact, other = self._mv(
            spark, tmp_path, ">", anti=True, exists_mode=False, tag="plan"
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            mv._member_rows(fact, mv._inner_eval(other), hint=True).explain(
                "formatted"
            )
        plan = buf.getvalue()
        # the per-key extremes attach through an EQUI join ...
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
        # ... and the only nested loop is the single-row global-stats
        # cross attach — NOT a |rows|x|other| pair join
        assert plan.count("BroadcastNestedLoopJoin") == 2, plan  # tree + details
        assert "BroadcastNestedLoopJoin Cross BuildRight" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_mixed_equality_keeps_pair_join_path(self, spark, tmp_path):
        from tiflink_spark.mv import IncrementalCorrSemiJoinMV

        fact = _mk(spark, self.FACT, "id long, fkey int, bal double")
        other = _mk(spark, self.OTHER, "oid long, okey int, price double")
        mv = IncrementalCorrSemiJoinMV(
            spark, fact, ["id"], other, ["oid"],
            fact_key="fkey", other_key="okey",
            corr=[("okey", "=", "fkey"), ("price", ">", "bal")],
            out_cols=["id"], stores=StoreSet(spark, str(tmp_path / "mixed"), 2),
            anti=False, shuffle_partitions=2,
        )
        assert mv._ineq_1d() is None
