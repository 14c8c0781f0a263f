"""Theta-correlated SCALAR aggregate subqueries (round 10).

The reference's flagship shape (TiFlinkExample.java:10-16) widened
past its single fk = pk equality: with theta terms the per-row
aggregate set S(d) cannot decorrelate to a keyed GROUP BY, so
IncrementalCorrScalarAggMV evaluates the aggregate exactly per dirty
dim row over one theta join. Spark's own optimizer REFUSES to execute
these queries (non-equality correlated predicates), so the expected
values come from DuckDB — the engine exceeds Spark SQL's surface here,
matching Flink/Calcite/DuckDB semantics.

Also pins the round-10 flagship NULL-FK fix: a NULL fact FK matches no
dim row, and previously crashed the fk-keyed aggregate state store.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_UPDATE, SEQ_COL
from tiflink_spark.planner import match_corr_scalar_shape
from tiflink_spark.sqlast import parse_scalar_subquery
from tiflink_spark.store import StoreSet

COLS = {
    "c": ["id", "dkey", "bal"],
    "o": ["oid", "okey", "price"],
}
PKS = {"c": ["id"], "o": ["oid"]}


class TestScalarSubqueryAst:
    def test_parses_general_inner(self):
        r = parse_scalar_subquery(
            """SELECT id, bal, (SELECT sum(o.price) FROM o
               WHERE o.okey = c.dkey AND o.price > c.bal) AS s FROM c"""
        )
        assert r is not None
        assert (r.fact, r.dim, r.agg, r.alias) == ("o", "c", "sum", "s")
        assert "o.price > c.bal" in r.inner

    def test_aliases_optional(self):
        r = parse_scalar_subquery(
            "SELECT id, (SELECT count(*) FROM o WHERE o.price > c.bal) AS n FROM c"
        )
        assert r is not None and r.fact_alias is None and r.dim_alias is None


class TestCorrScalarMatcher:
    def test_theta_count(self):
        s = match_corr_scalar_shape(
            "SELECT id, dkey, bal, (SELECT count(*) FROM o WHERE o.price > c.bal) AS n FROM c",
            {"c", "o"},
            PKS,
            COLS,
        )
        assert s is not None
        assert s.akind == "count" and s.acol is None
        assert s.corr == (("price", ">", "bal"),)

    def test_agg_col_resolves(self):
        s = match_corr_scalar_shape(
            """SELECT id, dkey, bal, (SELECT min(o.price) FROM o
               WHERE o.okey = c.dkey AND o.price > c.bal) AS m FROM c""",
            {"c", "o"},
            PKS,
            COLS,
        )
        assert s is not None and s.acol == "price" and s.akind == "min"
        assert set(s.corr) == {("okey", "=", "dkey"), ("price", ">", "bal")}

    def test_uncorrelated_refuses(self):
        assert (
            match_corr_scalar_shape(
                "SELECT id, dkey, bal, (SELECT count(*) FROM o WHERE price > 5) AS n FROM c",
                {"c", "o"},
                PKS,
                COLS,
            )
            is None
        )

    def test_alias_colliding_with_select_refuses(self):
        assert (
            match_corr_scalar_shape(
                "SELECT id, dkey, bal, (SELECT count(*) FROM o WHERE o.price > c.bal) AS bal FROM c",
                {"c", "o"},
                PKS,
                COLS,
            )
            is None
        )


def _duck(q, cur_d, cur_f):
    con = duckdb.connect()
    con.register("c", cur_d.toPandas())
    con.register("o", cur_f.toPandas())
    return con.execute(q).df()


def _same(got_df, exp_pd):
    cols = list(got_df.columns)
    g = got_df.toPandas()[cols].sort_values(cols).reset_index(drop=True).astype(str)
    e = exp_pd[cols].sort_values(cols).reset_index(drop=True).astype(str)
    return g.equals(e)


def _ch(df, op):
    return df.withColumn(OP_COL, F.lit(op)).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )


DIM = [(1, 10, 100.0), (2, 20, 50.0), (3, None, 75.0), (4, 40, 10.0), (5, 50, 200.0)]
FACT = [(101, 10, 120.0), (102, 20, 30.0), (103, None, 90.0), (104, 10, 5.0), (105, 99, 500.0)]


class TestCorrScalarMV:
    @pytest.mark.parametrize(
        "tag,q",
        [
            (
                "cnt",
                "SELECT id, dkey, bal, (SELECT count(*) FROM o WHERE o.price > c.bal) AS n FROM c",
            ),
            pytest.param(
                "sum_eq_theta",
                """SELECT id, dkey, bal, (SELECT sum(o.price) FROM o
                   WHERE o.okey = c.dkey AND o.price > c.bal * 0.1) AS s FROM c""",
                marks=pytest.mark.slow,
            ),
            pytest.param(
                "min",
                "SELECT id, dkey, bal, (SELECT min(price) FROM o WHERE o.price > c.bal) AS m FROM c",
                marks=pytest.mark.slow,
            ),
        ],
    )
    def test_converges_vs_duckdb(self, spark, tmp_path, tag, q):
        from tiflink_spark.app import MVApp

        dim = spark.createDataFrame(DIM, "id long, dkey int, bal double")
        fact = spark.createDataFrame(FACT, "oid long, okey int, price double")
        app = (
            MVApp.builder(spark)
            .source("c", dim, pk=["id"])
            .source("o", fact, pk=["oid"])
            .query(q)
            .target(str(tmp_path / tag))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalCorrScalarAggMV", tag
        app.bootstrap()
        assert _same(app.read(), _duck(q, dim, fact)), f"{tag} bootstrap"
        b1 = _ch(
            fact.filter(F.col("oid") == 105).withColumn("price", F.lit(60.0)),
            OP_UPDATE,
        )
        b2 = _ch(
            dim.filter(F.col("id") == 5).withColumn("bal", F.lit(10.0)), OP_UPDATE
        )
        b3 = _ch(fact.filter(F.col("oid").isin(101, 103)), OP_DELETE)
        b4 = _ch(dim.filter(F.col("id") == 2), OP_DELETE)
        cur_d, cur_f = dim, fact
        for i, (tbl, b) in enumerate(
            [("o", b1), ("c", b2), ("o", b3), ("c", b4)], 1
        ):
            app.refresh({tbl: b}, batch_id=i)
            key = "oid" if tbl == "o" else "id"
            adds = b.filter(F.col(OP_COL) != OP_DELETE).drop(OP_COL, SEQ_COL)
            if tbl == "o":
                cur_f = cur_f.join(b.select(key).distinct(), key, "left_anti").unionByName(adds)
            else:
                cur_d = cur_d.join(b.select(key).distinct(), key, "left_anti").unionByName(adds)
            assert _same(app.read(), _duck(q, cur_d, cur_f)), f"{tag} batch {i}"

    def test_replay_idempotent(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        dim = spark.createDataFrame(DIM, "id long, dkey int, bal double")
        fact = spark.createDataFrame(FACT, "oid long, okey int, price double")
        q = "SELECT id, dkey, bal, (SELECT count(*) FROM o WHERE o.price > c.bal) AS n FROM c"
        app = (
            MVApp.builder(spark)
            .source("c", dim, pk=["id"])
            .source("o", fact, pk=["oid"])
            .query(q)
            .target(str(tmp_path / "rep"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        app.bootstrap()
        b = _ch(
            fact.filter(F.col("oid") == 101).withColumn("price", F.lit(1.0)),
            OP_UPDATE,
        )
        assert app.refresh({"o": b}, batch_id=1) is True
        assert app.refresh({"o": b}, batch_id=1) is False
        assert _same(
            app.read(),
            _duck(
                q,
                dim,
                fact.filter(F.col("oid") != 101).unionByName(
                    b.drop(OP_COL, SEQ_COL)
                ),
            ),
        )


class TestFlagshipNullFk:
    def test_null_fact_fk_no_longer_crashes(self, spark, tmp_path):
        """A NULL fact FK equality-matches no dim row; before round 10
        it crashed the fk-keyed aggregate state store at bootstrap."""
        from tiflink_spark.app import MVApp

        dim = spark.createDataFrame(DIM, "id long, dkey int, bal double")
        fact = spark.createDataFrame(FACT, "oid long, okey int, price double")
        q = "SELECT id, dkey, bal, (SELECT count(*) FROM o o2 WHERE o2.okey = c2.id) AS n FROM c c2"
        app = (
            MVApp.builder(spark)
            .source("c", dim, pk=["id"])
            .source("o", fact, pk=["oid"])
            .query(q)
            .target(str(tmp_path / "nullfk"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalAggMV"
        app.bootstrap()
        assert _same(app.read(), _duck(q, dim, fact))
        # a row UPDATING its fk to NULL retracts from its old group
        b = _ch(
            fact.filter(F.col("oid") == 101).withColumn("okey", F.lit(None).cast("int")),
            OP_UPDATE,
        )
        app.refresh({"o": b}, batch_id=1)
        cur_f = fact.filter(F.col("oid") != 101).unionByName(b.drop(OP_COL, SEQ_COL))
        assert _same(app.read(), _duck(q, dim, cur_f))


class TestCorrStreamingLifecycle:
    def test_theta_scalar_via_readstream(self, spark, tmp_path):
        """The corr routes plug into the real readStream→foreachBatch
        CDC lifecycle exactly like every other two-sided route (the
        (fact, other) dispatch): drain a parquet changelog stream and
        land on the DuckDB answer."""
        from tiflink_spark.app import MVApp

        dim = spark.createDataFrame(DIM, "id long, dkey int, bal double")
        fact = spark.createDataFrame(FACT, "oid long, okey int, price double")
        q = "SELECT id, dkey, bal, (SELECT count(*) FROM o WHERE o.price > c.bal) AS n FROM c"
        app = (
            MVApp.builder(spark)
            .source("c", dim, pk=["id"])
            .source("o", fact, pk=["oid"])
            .query(q)
            .target(str(tmp_path / "stream"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalCorrScalarAggMV"
        app.bootstrap()
        changes = _ch(
            fact.filter(F.col("oid").isin(101, 105)).withColumn(
                "price", F.col("price") / 10
            ),
            OP_UPDATE,
        )
        chlog = tmp_path / "chlog"
        changes.coalesce(1).write.parquet(str(chlog))
        app.start_streaming(
            {"o": str(chlog)}, checkpoint_dir=str(tmp_path / "ckpt")
        )
        cur_f = fact.join(
            changes.select("oid").distinct(), "oid", "left_anti"
        ).unionByName(changes.drop(OP_COL, SEQ_COL))
        assert _same(app.read(), _duck(q, dim, cur_f))


class TestScalarSingleInequalityDecomposition:
    """The pure single-inequality scalar-agg shape evaluates the
    correlated aggregate from PREFIX aggregates over the ie-sorted
    value domain (one hash aggregate + one value-domain window + one
    equi join) instead of the |rows|x|fact| pair join — the scalar-agg
    sibling of the r10 NOT-IN decomposition, closing the last latent
    quadratic route. Held bit-equal to the pair join on NULL-heavy
    frames for every monotone op x aggregate kind, with the plan
    pinned join-free of nested loops."""

    # dkey NULL / bal NULL / duplicate bal; price NULL / aval NULL
    DIM = [
        (1, 10, 100.0), (2, 20, 50.0), (3, None, 75.0),
        (4, 40, None), (5, 50, 200.0), (6, 99, 50.0), (7, 60, -10.0),
    ]
    # (oid, okey, price[=ie], qty[=aval, int])
    FACT = [
        (101, 10, 120.0, 4), (102, 20, 30.0, 2), (103, None, 90.0, None),
        (104, 40, 5.0, 7), (105, 99, 500.0, 1), (106, 10, None, 9),
        (107, None, 50.0, 3), (108, 20, 50.0, 5),
    ]

    def _mv(self, spark, tmp_path, op, akind, acol, tag):
        from tiflink_spark.mv import IncrementalCorrScalarAggMV
        from tests.test_mv_corrsemijoin import _mk

        dim = _mk(spark, self.DIM, "id long, dkey int, bal double")
        fact = _mk(
            spark, self.FACT, "oid long, okey int, price double, qty long"
        )
        mv = IncrementalCorrScalarAggMV(
            spark, dim, ["id"], fact, ["oid"],
            akind=akind, acol=acol, alias="a",
            corr=[("price", op, "bal")],
            out_cols=["id", "dkey", "bal"],
            stores=StoreSet(spark, str(tmp_path / tag), 2),
            shuffle_partitions=2,
        )
        return mv, dim, fact

    @pytest.mark.parametrize("op", ["<", "<=", ">", ">="])
    @pytest.mark.parametrize(
        "akind,acol",
        [("count", None), ("count", "qty"), ("sum", "qty"),
         ("min", "qty"), ("max", "qty"), ("avg", "qty")],
    )
    def test_matches_pair_join_on_null_heavy_frames(
        self, spark, tmp_path, monkeypatch, op, akind, acol
    ):
        tag = f"{op}{akind}{acol}"
        mv, dim, fact = self._mv(spark, tmp_path, op, akind, acol, tag)
        feval = mv._fact_eval(fact)
        assert mv._ineq_1d() is not None
        fast = mv._valued_rows(dim, feval, hint=True)
        monkeypatch.setattr(mv, "_ineq_1d", lambda: None)  # force pair join
        slow = mv._valued_rows(dim, feval, hint=True)
        cols = ["id", "dkey", "bal", "a"]
        got = {tuple(r) for r in fast.select(*cols).collect()}
        exp = {tuple(r) for r in slow.select(*cols).collect()}
        assert got == exp, f"{tag}: {sorted(got ^ exp, key=str)}"

    def test_double_sum_within_float_tolerance(
        self, spark, tmp_path, monkeypatch
    ):
        # double sums reassociate across the prefix partials — equal
        # within ulps of the pair join's flat accumulation
        mv, dim, fact = self._mv(spark, tmp_path, "<", "sum", "price", "dsum")
        feval = mv._fact_eval(fact)
        fast = {r["id"]: r["a"] for r in mv._valued_rows(dim, feval, hint=True).collect()}
        monkeypatch.setattr(mv, "_ineq_1d", lambda: None)
        slow = {r["id"]: r["a"] for r in mv._valued_rows(dim, feval, hint=True).collect()}
        assert set(fast) == set(slow)
        for k in fast:
            a, b = fast[k], slow[k]
            if a is None or b is None:
                assert a == b, (k, a, b)
            else:
                assert abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)), (k, a, b)

    def test_empty_inner_side(self, spark, tmp_path, monkeypatch):
        mv, dim, fact = self._mv(spark, tmp_path, ">", "sum", "qty", "empty")
        feval = mv._fact_eval(fact.filter(F.lit(False)))
        rows = {r["id"]: r["a"] for r in mv._valued_rows(dim, feval, hint=True).collect()}
        assert set(rows.values()) == {None}  # SUM over empty S is NULL
        mv2, dim2, fact2 = self._mv(spark, tmp_path, ">", "count", None, "empty2")
        feval2 = mv2._fact_eval(fact2.filter(F.lit(False)))
        rows2 = {r["id"]: r["a"] for r in mv2._valued_rows(dim2, feval2, hint=True).collect()}
        assert set(rows2.values()) == {0}  # COUNT over empty S is 0

    def test_plan_has_no_pair_join(self, spark, tmp_path):
        import io
        from contextlib import redirect_stdout

        mv, dim, fact = self._mv(spark, tmp_path, "<", "sum", "qty", "plan")
        buf = io.StringIO()
        with redirect_stdout(buf):
            mv._valued_rows(dim, mv._fact_eval(fact), hint=True).explain(
                "formatted"
            )
        plan = buf.getvalue()
        # prefix aggregates attach through an EQUI join on the probe
        # value; no |rows|x|fact| nested loop anywhere
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "Window" in plan, plan

    def test_mixed_equality_and_decimal_keep_pair_join(self, spark, tmp_path):
        from tiflink_spark.mv import IncrementalCorrScalarAggMV
        from tests.test_mv_corrsemijoin import _mk

        dim = _mk(spark, self.DIM, "id long, dkey int, bal double")
        fact = _mk(
            spark, self.FACT, "oid long, okey int, price double, qty long"
        )
        mixed = IncrementalCorrScalarAggMV(
            spark, dim, ["id"], fact, ["oid"],
            akind="sum", acol="qty", alias="a",
            corr=[("okey", "=", "dkey"), ("price", ">", "bal")],
            out_cols=["id"], stores=StoreSet(spark, str(tmp_path / "mixed"), 2),
            shuffle_partitions=2,
        )
        assert mixed._ineq_1d() is None
        dec = _mk(
            spark,
            [(1, 10.0, None)],
            "oid long, price double, amt decimal(10,2)",
        )
        dmv = IncrementalCorrScalarAggMV(
            spark, dim, ["id"], dec, ["oid"],
            akind="sum", acol="amt", alias="a",
            corr=[("price", "<", "bal")],
            out_cols=["id"], stores=StoreSet(spark, str(tmp_path / "dec"), 2),
            shuffle_partitions=2,
        )
        assert dmv._ineq_1d() is None  # decimal sum stays on the pair join
        # min/max reassociate exactly for ANY orderable type
        dmx = IncrementalCorrScalarAggMV(
            spark, dim, ["id"], dec, ["oid"],
            akind="max", acol="amt", alias="a",
            corr=[("price", "<", "bal")],
            out_cols=["id"], stores=StoreSet(spark, str(tmp_path / "decmx"), 2),
            shuffle_partitions=2,
        )
        assert dmx._ineq_1d() is not None

    def test_mismatched_operand_types_keep_pair_join(self, spark, tmp_path):
        """A string ie against a numeric oe unions to string (lexicographic
        order: '100' < '95.0'), while the pair join compares numerically —
        the prefix path must fail closed to the pair join."""
        from tiflink_spark.mv import IncrementalCorrScalarAggMV
        from tests.test_mv_corrsemijoin import _mk

        dim = _mk(spark, [(1, 10, 95.0), (2, 20, 5.0)], "id long, dkey int, bal double")
        fact = _mk(
            spark, [(101, 10, "9"), (102, 20, "10"), (103, 10, "100")],
            "oid long, okey int, price string",
        )

        def mv(tag, fact_df):
            return IncrementalCorrScalarAggMV(
                spark, dim, ["id"], fact_df, ["oid"],
                akind="count", acol=None, alias="a",
                corr=[("price", "<", "bal")], out_cols=["id"],
                stores=StoreSet(spark, str(tmp_path / tag), 2), shuffle_partitions=2,
            )

        strv = mv("str", fact)
        assert strv._ineq_1d() is None
        got = {r["id"]: r["a"] for r in strv._valued_rows(dim, strv._fact_eval(fact), hint=True).collect()}
        assert got == {1: 2, 2: 0}
        # mixed NUMERIC operand types still take the prefix path
        intv = mv("int", fact.withColumn("price", F.col("price").cast("int")))
        assert intv._ineq_1d() is not None
