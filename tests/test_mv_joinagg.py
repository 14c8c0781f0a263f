"""Join+agg incremental maintenance: planner matching + convergence.

The canonical star-join aggregate (SELECT keys, aggs FROM fact JOIN dim
ON fact.fk = dim.pk GROUP BY keys) is the shape the reference gets
incrementally from Flink's update-mode planner (TiFlinkApp.java:270);
these tests pin the matcher's accept/reject envelope and prove
IncrementalJoinAggMV converges to the batch answer under two-sided
churn, including replay idempotence.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.planner import match_join_agg_shape
from tiflink_spark.store import StoreSet

COLS = {
    "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
    "customer": ["c_custkey", "c_name", "c_nationkey"],
}
PKS = {"orders": ["o_orderkey"], "customer": ["c_custkey"]}


class TestJoinAggMatcher:
    def test_qualified_on_form(self):
        s = match_join_agg_shape(
            """SELECT c.c_nationkey, count(*) AS n, sum(o.o_totalprice) AS total
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY c.c_nationkey""",
            set(COLS),
            COLS,
            PKS,
        )
        assert s is not None
        assert s.fact == "orders" and len(s.dims) == 1
        assert s.dims[0].dim == "customer"
        assert (s.dims[0].parent_col, s.dims[0].dim_pk) == ("o_custkey", "c_custkey")
        assert s.group_keys == ("c_nationkey",)

    def test_bare_names_and_reversed_tables(self):
        # dim listed first; bare column references resolve by schema.
        s = match_join_agg_shape(
            """SELECT c_nationkey, count(*) AS n
               FROM customer JOIN orders ON c_custkey = o_custkey
               GROUP BY c_nationkey""",
            set(COLS),
            COLS,
            PKS,
        )
        assert s is not None and s.fact == "orders" and s.dims[0].dim == "customer"

    def test_expression_aggregate_and_where(self):
        s = match_join_agg_shape(
            """SELECT c_nationkey, sum(o_totalprice * 2) AS dbl
               FROM orders JOIN customer ON o_custkey = c_custkey
               WHERE o_totalprice > 100
               GROUP BY c_nationkey""",
            set(COLS),
            COLS,
            PKS,
        )
        assert s is not None
        assert s.measures[0].col == "o_totalprice * 2"
        assert s.where == "o_totalprice > 100"
        assert "o_totalprice" in s.fact_cols

    def test_where_string_literal_and_function(self):
        # String literals must not register as unknown identifiers, and
        # function calls are admitted by their call syntax — the TPC-H
        # Q3/Q5 dim-selection pattern (WHERE c_mktsegment = 'BUILDING').
        cols = {**COLS, "customer": COLS["customer"] + ["c_mktsegment"]}
        s = match_join_agg_shape(
            """SELECT c_nationkey, sum(o_totalprice) AS s
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               WHERE c.c_mktsegment = 'BUILDING' AND substr(c.c_name, 1, 3) <> 'xyz'
               GROUP BY c_nationkey""",
            set(cols),
            cols,
            PKS,
        )
        assert s is not None
        assert "c_mktsegment = 'BUILDING'" in s.where
        assert "c_mktsegment" in s.dims[0].dim_cols

    @pytest.mark.parametrize(
        "query",
        [
            # M:N join (neither side's column is its PK)
            """SELECT c_nationkey, count(*) AS n FROM orders o
               JOIN customer c ON o.o_totalprice = c.c_nationkey
               GROUP BY c_nationkey""",
            # non-deterministic WHERE
            """SELECT c_nationkey, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               WHERE rand() < 0.5 GROUP BY c_nationkey""",
            # unknown column in aggregate
            """SELECT c_nationkey, sum(nope) AS s
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_nationkey""",
            # subquery in WHERE
            """SELECT c_nationkey, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               WHERE o_totalprice > (SELECT 1) GROUP BY c_nationkey""",
            # measure alias collides with group key
            """SELECT c_nationkey, count(*) AS c_nationkey
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_nationkey""",
            # no aggregates
            """SELECT c_nationkey FROM orders JOIN customer
               ON o_custkey = c_custkey GROUP BY c_nationkey""",
        ],
    )
    def test_rejects(self, query):
        assert match_join_agg_shape(query, set(COLS), COLS, PKS) is None

    def test_qualified_ambiguous_keyword_column_falls_back(self):
        # both tables carry a column named `date` (an _EXPR_KEYWORDS
        # word). A qualified f.date reference must NOT dequalify to
        # bare `date` — it would slip through the row-local sweep as a
        # keyword without being carried into J, turning a valid query
        # into a bootstrap AnalysisException. The matcher must return
        # None (safe recompute fallback) instead.
        cols = {
            "fact": ["f_id", "f_dk", "f_val", "date"],
            "dim": ["d_dk", "d_name", "date"],
        }
        pks = {"fact": ["f_id"], "dim": ["d_dk"]}
        q = """SELECT d.d_name, sum(f.f_val) AS s
               FROM fact f JOIN dim d ON f.f_dk = d.d_dk
               WHERE f.date > DATE '1995-01-01' GROUP BY d.d_name"""
        assert match_join_agg_shape(q, set(cols), cols, pks) is None
        # unambiguous qualified keyword-named column still routes
        cols2 = {
            "fact": ["f_id", "f_dk", "f_val", "date"],
            "dim": ["d_dk", "d_name"],
        }
        s = match_join_agg_shape(
            """SELECT d.d_name, sum(f.f_val) AS s
               FROM fact f JOIN dim d ON f.f_dk = d.d_dk
               WHERE f.date > DATE '1995-01-01' GROUP BY d.d_name""",
            set(cols2),
            cols2,
            pks,
        )
        assert s is not None and "date" in s.fact_cols

    def test_snowflake_chain(self):
        cols = {
            "lineitem": ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"],
            "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
            "customer": ["c_custkey", "c_name", "c_nationkey"],
        }
        pks = {
            "lineitem": ["l_orderkey", "l_linenumber"],
            "orders": ["o_orderkey"],
            "customer": ["c_custkey"],
        }
        s = match_join_agg_shape(
            """SELECT c.c_nationkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
               FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY c.c_nationkey""",
            set(cols),
            cols,
            pks,
        )
        assert s is not None and s.fact == "lineitem"
        assert [(d.dim, d.parent, d.parent_col, d.dim_pk) for d in s.dims] == [
            ("orders", "lineitem", "l_orderkey", "o_orderkey"),
            ("customer", "orders", "o_custkey", "c_custkey"),
        ]
        # the snowflake parent carries its child-referencing column in J
        assert "o_custkey" in s.dims[0].dim_cols

    def test_star_two_dims(self):
        cols = {
            "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"],
            "part": ["p_partkey", "p_brand"],
            "supplier": ["s_suppkey", "s_name"],
        }
        pks = {
            "lineitem": ["l_orderkey", "l_linenumber"],
            "part": ["p_partkey"],
            "supplier": ["s_suppkey"],
        }
        s = match_join_agg_shape(
            """SELECT p_brand, s_name, sum(l_quantity) AS qty
               FROM lineitem
                 JOIN part ON l_partkey = p_partkey
                 JOIN supplier ON l_suppkey = s_suppkey
               GROUP BY p_brand, s_name""",
            set(cols),
            cols,
            pks,
        )
        assert s is not None and s.fact == "lineitem"
        assert {d.dim for d in s.dims} == {"part", "supplier"}
        assert all(d.parent == "lineitem" for d in s.dims)

    def test_having_alias_form(self):
        s = match_join_agg_shape(
            """SELECT c_nationkey, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_nationkey HAVING n > 5""",
            set(COLS),
            COLS,
            PKS,
        )
        assert s is not None and s.having == "n > 5"
        # aggregate-call HAVING rewrites to measure aliases: reuse of a
        # visible measure, plus a HIDDEN measure for a novel aggregate
        # (its argument column must ride into the joined relation).
        s = match_join_agg_shape(
            """SELECT c_nationkey, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_nationkey
               HAVING count(*) > 5 AND sum(o_totalprice) > 100""",
            set(COLS),
            COLS,
            PKS,
        )
        assert s is not None and s.having == "n > 5 AND __hav0 > 100"
        assert [mm.alias for mm in s.measures] == ["n", "__hav0"]
        assert "o_totalprice" in s.fact_cols
        # qualified aggregate arguments dequalify like select measures
        s = match_join_agg_shape(
            """SELECT c_nationkey, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_nationkey HAVING max(orders.o_totalprice) > 9""",
            set(COLS),
            COLS,
            PKS,
        )
        assert s is not None and s.having == "__hav0 > 9"
        # non-deterministic aggregate arguments still fall back
        assert (
            match_join_agg_shape(
                """SELECT c_nationkey, count(*) AS n
                   FROM orders JOIN customer ON o_custkey = c_custkey
                   GROUP BY c_nationkey HAVING max(rand()) > 0.5""",
                set(COLS),
                COLS,
                PKS,
            )
            is None
        )

    def test_left_join_how_and_key_rules(self):
        cols = {**COLS, "orders": COLS["orders"] + ["o_orderpriority"]}
        s = match_join_agg_shape(
            """SELECT o_orderpriority, count(*) AS n, count(c_name) AS matched
               FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY o_orderpriority""",
            set(cols),
            cols,
            PKS,
        )
        assert s is not None and s.dims[0].how == "left"
        # a LEFT JOIN can only orient with the joined table nullable:
        # dim-first LEFT JOIN fact must NOT match (orders would have to
        # become the dim, but the SQL makes orders the preserved side)
        assert (
            match_join_agg_shape(
                """SELECT c_nationkey, count(*) AS n
                   FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                   GROUP BY c_nationkey""",
                set(COLS),
                COLS,
                PKS,
            )
            is None
        )
        # group key from a LEFT dim would put NULLs in the MV PK
        assert (
            match_join_agg_shape(
                """SELECT c_nationkey, count(*) AS n
                   FROM orders LEFT JOIN customer ON o_custkey = c_custkey
                   GROUP BY c_nationkey""",
                set(COLS),
                COLS,
                PKS,
            )
            is None
        )

    def test_mn_edge_in_chain_rejected(self):
        cols = {
            "lineitem": ["l_orderkey", "l_linenumber", "l_quantity"],
            "orders": ["o_orderkey", "o_custkey"],
            "customer": ["c_custkey", "c_nationkey"],
        }
        pks = {
            "lineitem": ["l_orderkey", "l_linenumber"],
            "orders": ["o_orderkey"],
            "customer": ["c_custkey"],
        }
        # customer joined on a NON-PK column → M:N edge → no orientation
        q = """SELECT c_nationkey, sum(l_quantity) AS qty
               FROM lineitem
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_nationkey
               GROUP BY c_nationkey"""
        assert match_join_agg_shape(q, set(cols), cols, pks) is None

    def test_ambiguous_bare_column_rejected(self):
        cols = {
            "a": ["id", "k", "v"],
            "b": ["bid", "k", "w"],  # 'k' lives in both tables
        }
        pks = {"a": ["id"], "b": ["bid"]}
        q = """SELECT k, count(*) AS n FROM a JOIN b ON a.v = b.bid GROUP BY k"""
        assert match_join_agg_shape(q, set(cols), cols, pks) is None
        # ... and qualified references to an ambiguous-name key too
        # (the joined relation stores bare names, provenance would be lost)
        q2 = """SELECT a.k, count(*) AS n FROM a JOIN b ON a.v = b.bid GROUP BY a.k"""
        assert match_join_agg_shape(q2, set(cols), cols, pks) is None


@pytest.fixture(scope="module")
def tables(spark):
    from tiflink_spark.session import load_tables

    return load_tables(spark, "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def joinagg_app(spark, tables):
    from tiflink_spark.app import MVApp

    work = tempfile.mkdtemp(prefix="ja_test_")
    app = (
        MVApp.builder(spark)
        .source("orders_jat", tables["orders"], pk=["o_orderkey"])
        .source("customer_jat", tables["customer"], pk=["c_custkey"])
        .query(
            """SELECT c.c_nationkey, count(*) AS n_orders,
                      sum(o.o_totalprice) AS total_raw,
                      min(o.o_totalprice) AS min_price
               FROM orders_jat o JOIN customer_jat c
                 ON o.o_custkey = c.c_custkey
               GROUP BY c.c_nationkey"""
        )
        .target(work)
        .num_buckets(4)
        .shuffle_partitions(8)
        .build()
    )
    yield app, tables
    shutil.rmtree(work, ignore_errors=True)


BIG = 20_000_000


class TestJoinAggConvergence:
    @pytest.mark.slow
    def test_routed_and_converges_two_sided(self, joinagg_app, spark):
        app, t = joinagg_app
        assert app.maintenance_mode == "incremental"
        assert app.maintenance_strategy == "IncrementalJoinAggMV"
        app.bootstrap()

        orders, cust = t["orders"], t["customer"]
        b1 = (
            orders.filter(F.col("o_orderkey") % 50 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            cust.filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            orders.filter(F.col("o_orderkey") % 9 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_jat": b1}, batch_id=1)
        app.refresh({"customer_jat": b2}, batch_id=2)
        app.refresh({"orders_jat": b3}, batch_id=3)

        # replay idempotence: an already-committed batch is a no-op
        assert app.refresh({"orders_jat": b3}, batch_id=3) is False

        final_orders = orders.filter(F.col("o_orderkey") % 9 != 0).unionByName(
            orders.filter(F.col("o_orderkey") % 50 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + BIG
            )
        )
        final_cust = cust.filter(F.col("c_custkey") % 10 != 4).withColumn(
            "c_nationkey",
            F.when(
                F.col("c_custkey") % 10 == 3, (F.col("c_nationkey") + 7) % 25
            ).otherwise(F.col("c_nationkey")),
        )
        exp = (
            final_orders.alias("o")
            .join(final_cust.alias("c"), F.col("o.o_custkey") == F.col("c.c_custkey"))
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_totalprice").alias("total_raw"),
                F.min("o_totalprice").alias("min_price"),
            )
        )
        got = {r["c_nationkey"]: r.asDict() for r in app.read().collect()}
        want = {r["c_nationkey"]: r.asDict() for r in exp.collect()}
        assert set(got) == set(want)
        for k, w in want.items():
            g = got[k]
            assert g["n_orders"] == w["n_orders"], k
            assert g["min_price"] == w["min_price"], k
            assert abs(g["total_raw"] - w["total_raw"]) < 1e-6 * max(
                1.0, abs(w["total_raw"])
            ), k

    def test_read_column_order_matches_query(self, joinagg_app):
        app, _ = joinagg_app
        # idempotent (batch-0 guard): a no-op when the sibling slow
        # convergence test already bootstrapped the shared fixture, and
        # the bootstrap when the default tier runs without it
        app.bootstrap()
        assert app.read().columns == [
            "c_nationkey",
            "n_orders",
            "total_raw",
            "min_price",
        ]


class TestLeftJoinAggConvergence:
    def test_left_join_converges_under_dim_churn(self, spark, tables):
        """fact LEFT JOIN dim: unmatched fact rows stay in the view
        with NULL dim columns; dim deletes move rows from matched to
        unmatched (count(c_name) drops, count(*) holds)."""
        from tiflink_spark.app import MVApp

        t = tables
        work = tempfile.mkdtemp(prefix="ja_left_")
        try:
            app = (
                MVApp.builder(spark)
                .source("ord_lj", t["orders"], pk=["o_orderkey"])
                .source("cust_lj", t["customer"], pk=["c_custkey"])
                .query(
                    """SELECT o_orderpriority, count(*) AS n_all,
                              count(c_name) AS n_matched,
                              sum(o_totalprice) AS total
                       FROM ord_lj o LEFT JOIN cust_lj c
                         ON o.o_custkey = c.c_custkey
                       GROUP BY o_orderpriority"""
                )
                .target(work)
                .num_buckets(4)
                .shuffle_partitions(8)
                .build()
            )
            assert app.maintenance_strategy == "IncrementalJoinAggMV"
            app.bootstrap()

            # delete a third of the customers: their orders must NOT
            # leave the view, only lose their dim columns
            b1 = (
                t["customer"].filter(F.col("c_custkey") % 3 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({"cust_lj": b1}, batch_id=1)
            # fact churn on top
            b2 = (
                t["orders"].filter(F.col("o_orderkey") % 8 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({"ord_lj": b2}, batch_id=2)

            final_ord = t["orders"].filter(F.col("o_orderkey") % 8 != 0)
            final_cust = t["customer"].filter(F.col("c_custkey") % 3 != 0)
            exp = (
                final_ord.join(
                    final_cust,
                    final_ord["o_custkey"] == final_cust["c_custkey"],
                    "left",
                )
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_all"),
                    F.count("c_name").alias("n_matched"),
                    F.sum("o_totalprice").alias("total"),
                )
            )
            got = {r["o_orderpriority"]: r.asDict() for r in app.read().collect()}
            want = {r["o_orderpriority"]: r.asDict() for r in exp.collect()}
            assert set(got) == set(want)
            for k, w in want.items():
                assert got[k]["n_all"] == w["n_all"], k
                assert got[k]["n_matched"] == w["n_matched"], k
                assert got[k]["n_matched"] < got[k]["n_all"]  # some unmatched
                assert abs(got[k]["total"] - w["total"]) < 1e-6 * max(
                    1.0, abs(w["total"])
                ), k
        finally:
            shutil.rmtree(work, ignore_errors=True)


class TestSnowflakeConvergence:
    @pytest.mark.slow
    def test_three_table_chain_converges(self, spark, tables):
        """orders → customer → nation: a true snowflake chain (the leaf
        dim is two hops from the fact), churned on ALL THREE tables.
        Leaf-dim dirt must propagate through the middle dim to reach
        the fact rows it moves."""
        from tiflink_spark.app import MVApp

        t = tables
        ords = t["orders"]
        work = tempfile.mkdtemp(prefix="ja_snow_")
        try:
            app = (
                MVApp.builder(spark)
                .source("ord_sn", ords, pk=["o_orderkey"])
                .source("cust_sn", t["customer"], pk=["c_custkey"])
                .source("nat_sn", t["nation"], pk=["n_nationkey"])
                .query(
                    """SELECT n.n_name,
                              count(*) AS n_orders,
                              sum(o.o_totalprice) AS total
                       FROM ord_sn o
                         JOIN cust_sn c ON o.o_custkey = c.c_custkey
                         JOIN nat_sn n ON c.c_nationkey = n.n_nationkey
                       GROUP BY n.n_name"""
                )
                .target(work)
                .num_buckets(4)
                .shuffle_partitions(8)
                .build()
            )
            assert app.maintenance_strategy == "IncrementalJoinAggMV"
            app.bootstrap()

            # b1: fact churn (deletes + price updates + custkey moves)
            b1 = (
                ords.filter(F.col("o_orderkey") % 9 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .unionByName(
                    ords.filter(
                        (F.col("o_orderkey") % 9 != 0) & (F.col("o_orderkey") % 4 == 0)
                    )
                    .withColumn("o_totalprice", F.col("o_totalprice") + 10)
                    .withColumn(OP_COL, F.lit(OP_UPDATE))
                )
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({"ord_sn": b1}, batch_id=1)

            # b2: MIDDLE-dim churn — customers switch nations / disappear
            b2 = (
                t["customer"].filter(F.col("c_custkey") % 10 == 3)
                .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
                .unionByName(
                    t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                        OP_COL, F.lit(OP_DELETE)
                    )
                )
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({"cust_sn": b2}, batch_id=2)

            # b3: LEAF-dim churn — nation renames (whole groups re-key)
            # plus one nation delete (its customers' orders leave J);
            # dirt reaches the fact only through the customer hop
            b3 = (
                t["nation"].filter(F.col("n_nationkey") % 3 == 0)
                .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_X")))
                .withColumn(OP_COL, F.lit(OP_UPDATE))
                .unionByName(
                    t["nation"].filter(F.col("n_nationkey") == 7).withColumn(
                        OP_COL, F.lit(OP_DELETE)
                    )
                )
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({"nat_sn": b3}, batch_id=3)

            final_ord = (
                ords.filter(F.col("o_orderkey") % 9 != 0)
                .withColumn(
                    "o_totalprice",
                    F.when(
                        F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") + 10
                    ).otherwise(F.col("o_totalprice")),
                )
            )
            final_cust = t["customer"].filter(F.col("c_custkey") % 10 != 4).withColumn(
                "c_nationkey",
                F.when(
                    F.col("c_custkey") % 10 == 3, (F.col("c_nationkey") + 7) % 25
                ).otherwise(F.col("c_nationkey")),
            )
            final_nat = t["nation"].filter(F.col("n_nationkey") != 7).withColumn(
                "n_name",
                F.when(
                    F.col("n_nationkey") % 3 == 0,
                    F.concat(F.col("n_name"), F.lit("_X")),
                ).otherwise(F.col("n_name")),
            )
            exp = (
                final_ord.join(
                    final_cust, final_ord["o_custkey"] == final_cust["c_custkey"]
                )
                .join(final_nat, final_cust["c_nationkey"] == final_nat["n_nationkey"])
                .groupBy("n_name")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum("o_totalprice").alias("total"),
                )
            )
            got = {r["n_name"]: r.asDict() for r in app.read().collect()}
            want = {r["n_name"]: r.asDict() for r in exp.collect()}
            assert set(got) == set(want)
            for k, w in want.items():
                assert got[k]["n_orders"] == w["n_orders"], k
                assert abs(got[k]["total"] - w["total"]) < 1e-6 * max(
                    1.0, abs(w["total"])
                ), k
        finally:
            shutil.rmtree(work, ignore_errors=True)


class TestJoinAggRandomizedConvergence:
    """Randomized two-sided changelogs + simulated crash replays:
    the incremental join-aggregate must converge to the batch answer
    of the final states regardless of interleaving — the property the
    reference's consistency machinery exists to guarantee
    (README.md:18-22, roll-forward FlinkTikvProducer.java:211-230)."""

    @pytest.mark.slow
    @pytest.mark.parametrize("seed", [7, 23])
    def test_two_sided_random_churn_with_crash_replay(self, spark, tmp_path, seed):
        import random

        from tiflink_spark.mv import IncrementalJoinAggMV
        from tiflink_spark.incremental import Measure
        from tiflink_spark.planner import DimJoin

        rng = random.Random(seed)
        N_FACT, N_DIM, N_ATTR = 50, 12, 5

        fact_state = {
            k: (rng.randrange(N_DIM), round(rng.uniform(0, 100), 2))
            for k in range(N_FACT)
        }
        dim_state = {dk: rng.randrange(N_ATTR) for dk in range(N_DIM - 3)}

        fact_df = spark.createDataFrame(
            [(k, fk, v) for k, (fk, v) in fact_state.items()], "k long, fk long, v double"
        )
        dim_df = spark.createDataFrame(
            [(dk, a) for dk, a in dim_state.items()], "dk long, attr long"
        )
        mv = IncrementalJoinAggMV(
            spark,
            fact_name="f",
            fact=fact_df,
            fact_pk=["k"],
            dims=[
                DimJoin(dim="d", dim_pk="dk", parent="f", parent_col="fk",
                        dim_cols=("attr",))
            ],
            dim_dfs={"d": dim_df},
            group_keys=["attr"],
            measures=[
                Measure("count", None, "n"),
                Measure("sum", "v", "total"),
                Measure("min", "v", "vmin"),
            ],
            fact_cols=["v"],
            stores=StoreSet(spark, str(tmp_path / "ja_rand"), 4),
            shuffle_partitions=4,
        )
        mv.bootstrap()

        for i in range(1, 5):
            side = rng.choice(["f", "d", "both"])
            changes = {}
            if side in ("f", "both"):
                rows = []
                for seq in range(15):
                    k = rng.randrange(N_FACT + 10)
                    op = rng.choice([OP_INSERT, OP_UPDATE, OP_UPDATE, OP_DELETE])
                    fk, v = rng.randrange(N_DIM), round(rng.uniform(0, 100), 2)
                    if op == OP_DELETE:
                        rows.append((k, None, None, OP_DELETE, seq))
                        fact_state.pop(k, None)
                    else:
                        rows.append((k, fk, v, op, seq))
                        fact_state[k] = (fk, v)
                changes["f"] = spark.createDataFrame(
                    rows, f"k long, fk long, v double, {OP_COL} string, {SEQ_COL} long"
                )
            if side in ("d", "both"):
                rows = []
                for seq in range(5):
                    dk = rng.randrange(N_DIM)
                    op = rng.choice([OP_UPDATE, OP_UPDATE, OP_DELETE])
                    a = rng.randrange(N_ATTR)
                    if op == OP_DELETE:
                        rows.append((dk, None, OP_DELETE, seq))
                        dim_state.pop(dk, None)
                    else:
                        rows.append((dk, a, op, seq))
                        dim_state[dk] = a
                changes["d"] = spark.createDataFrame(
                    rows, f"dk long, attr long, {OP_COL} string, {SEQ_COL} long"
                )
            # every second batch simulates a crash AFTER the source-store
            # merges committed but BEFORE the MV committed: pre-merge the
            # stores under the same batch_id, then run the full refresh
            # (replay) — idempotent merges + versioned retraction must
            # land on the same state
            if i % 2 == 0:
                if "f" in changes:
                    mv.fact_store.merge(changes["f"], batch_id=i)
                if "d" in changes:
                    mv.dim_stores["d"].merge(changes["d"], batch_id=i)
            mv.refresh(changes, batch_id=i)

        # expected: batch aggregate over the joined final states
        groups: dict[int, list[float]] = {}
        for k, (fk, v) in fact_state.items():
            if fk in dim_state:
                groups.setdefault(dim_state[fk], []).append(v)
        want = {
            a: (len(vs), round(sum(vs), 2), min(vs)) for a, vs in groups.items()
        }
        got = {
            r["attr"]: (r["n"], round(r["total"], 2), r["vmin"])
            for r in mv.read().collect()
        }
        assert got == want


class TestComputedKeyAndFilterMatcher:
    """Planner-only: derived (expression) group keys and FILTER-clause
    measures in the join-agg shape (plus FILTER in the single-table
    shape), added in round 3."""

    COLS_TS = {
        "orders": ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"],
        "customer": ["c_custkey", "c_name", "c_nationkey"],
    }
    PKS_TS = {"orders": ["o_orderkey"], "customer": ["c_custkey"]}

    def test_derived_key_alias_form(self):
        s = match_join_agg_shape(
            """SELECT c_nationkey, date_trunc('month', o_orderdate) AS month,
                      count(*) AS n
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY c_nationkey, month""",
            set(self.COLS_TS), self.COLS_TS, self.PKS_TS,
        )
        assert s is not None
        assert s.group_keys == ("c_nationkey", "month")
        assert s.key_exprs == (("month", "date_trunc('month', o_orderdate)"),)
        assert "o_orderdate" in s.fact_cols  # expression input rides in J

    def test_derived_key_expression_text_form(self):
        s = match_join_agg_shape(
            """SELECT date_trunc('month', o.o_orderdate) AS month, count(*) AS n
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY date_trunc('month', o.o_orderdate)""",
            set(self.COLS_TS), self.COLS_TS, self.PKS_TS,
        )
        assert s is not None and s.key_exprs[0][0] == "month"

    def test_derived_key_rejections(self):
        # alias shadowing a real column would corrupt the J relation
        assert match_join_agg_shape(
            """SELECT date_trunc('month', o_orderdate) AS o_orderstatus, count(*) AS n
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY o_orderstatus""",
            set(self.COLS_TS), self.COLS_TS, self.PKS_TS,
        ) is None
        # non-deterministic key expression
        assert match_join_agg_shape(
            """SELECT round(rand() * 10) AS bucket, count(*) AS n
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY bucket""",
            set(self.COLS_TS), self.COLS_TS, self.PKS_TS,
        ) is None
        # expression input owned by a LEFT dim -> NULL-able key, reject
        assert match_join_agg_shape(
            """SELECT upper(c_name) AS cn, count(*) AS n
               FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY cn""",
            set(self.COLS_TS), self.COLS_TS, self.PKS_TS,
        ) is None

    def test_filter_measure_join_agg(self):
        s = match_join_agg_shape(
            """SELECT c_nationkey, count(*) AS n,
                      sum(o.o_totalprice) FILTER (WHERE o.o_orderstatus = 'F') AS rev_f
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY c_nationkey""",
            set(self.COLS_TS), self.COLS_TS, self.PKS_TS,
        )
        assert s is not None
        m = dict((mm.alias, mm) for mm in s.measures)["rev_f"]
        assert m.kind == "sum" and "CASE WHEN" in m.col
        assert "o_orderstatus" in s.fact_cols  # predicate input rides in J

    def test_filter_measure_single_table(self):
        from tiflink_spark.planner import match_agg_shape

        cols = {"orders": self.COLS_TS["orders"]}
        s = match_agg_shape(
            """SELECT o_custkey,
                      count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                      avg(o_totalprice) FILTER (WHERE o_totalprice > 10) AS big_avg
               FROM orders GROUP BY o_custkey""",
            {"orders"}, cols,
        )
        assert s is not None
        kinds = {mm.alias: mm.kind for mm in s.measures}
        assert kinds == {"n_f": "count", "big_avg": "avg"}
        # DISTINCT + FILTER and non-row-local predicates fall back
        assert match_agg_shape(
            """SELECT o_custkey, count(*) FILTER (WHERE rand() < 0.5) AS x
               FROM orders GROUP BY o_custkey""",
            {"orders"}, cols,
        ) is None

    def test_distinct_expression_and_filter_forms(self):
        from tiflink_spark.planner import match_agg_shape

        cols = {"orders": self.COLS_TS["orders"]}
        # COUNT(DISTINCT expr)
        s = match_agg_shape(
            """SELECT o_custkey, count(DISTINCT upper(o_orderstatus)) AS ds
               FROM orders GROUP BY o_custkey""",
            {"orders"}, cols,
        )
        assert s is not None and s.measures[0].kind == "count_distinct"
        # COUNT(DISTINCT x) FILTER (WHERE p) -> distinct over CASE form
        s2 = match_agg_shape(
            """SELECT o_custkey,
                      count(DISTINCT o_orderstatus) FILTER (WHERE o_totalprice > 1) AS x
               FROM orders GROUP BY o_custkey""",
            {"orders"}, cols,
        )
        assert s2 is not None and "CASE WHEN" in s2.measures[0].col
        # SUM(DISTINCT) now rides the dirty-group recompute path
        s3 = match_agg_shape(
            """SELECT o_custkey, sum(DISTINCT o_totalprice) AS x
               FROM orders GROUP BY o_custkey""",
            {"orders"}, cols,
        )
        assert s3 is not None and s3.measures[0].kind == "sum_distinct"
        # stddev(DISTINCT) has no maintenance story — fallback
        assert match_agg_shape(
            """SELECT o_custkey, stddev(DISTINCT o_totalprice) AS x
               FROM orders GROUP BY o_custkey""",
            {"orders"}, cols,
        ) is None

    def test_having_with_filter_aggregate(self):
        from tiflink_spark.planner import match_agg_shape

        cols = {"orders": self.COLS_TS["orders"]}
        s = match_agg_shape(
            """SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
               HAVING count(*) FILTER (WHERE o_orderstatus = 'F') > 2""",
            {"orders"}, cols,
        )
        assert s is not None
        assert s.having == "__hav0 > 2"
        hidden = [m for m in s.measures if m.alias == "__hav0"]
        assert hidden and "CASE WHEN" in hidden[0].col


class TestComputedKeyConvergence:
    def test_join_rollup_converges(self, spark, tables):
        """Star-join rollup with a derived month key converges to the
        batch answer under fact churn + dim churn (nation moves)."""
        from tiflink_spark.app import MVApp

        t = tables
        work = tempfile.mkdtemp(prefix="jr_test_")
        try:
            app = (
                MVApp.builder(spark)
                .source("orders_jrt", t["orders"], pk=["o_orderkey"])
                .source("customer_jrt", t["customer"], pk=["c_custkey"])
                .query(
                    """SELECT c.c_nationkey,
                              date_trunc('month', o.o_orderdate) AS month,
                              count(*) AS n,
                              sum(o.o_totalprice) AS rev
                       FROM orders_jrt o JOIN customer_jrt c
                         ON o.o_custkey = c.c_custkey
                       GROUP BY c.c_nationkey, month"""
                )
                .target(work)
                .num_buckets(4)
                .shuffle_partitions(8)
                .build()
            )
            assert app.maintenance_strategy == "IncrementalJoinAggMV"
            app.bootstrap()
            orders, cust = t["orders"], t["customer"]
            b1 = (
                orders.filter(F.col("o_orderkey") % 9 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            b2 = (
                cust.filter(F.col("c_custkey") % 10 == 3)
                .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({"orders_jrt": b1}, batch_id=1)
            app.refresh({"customer_jrt": b2}, batch_id=2)

            final_orders = orders.filter(F.col("o_orderkey") % 9 != 0)
            final_cust = cust.withColumn(
                "c_nationkey",
                F.when(
                    F.col("c_custkey") % 10 == 3, (F.col("c_nationkey") + 7) % 25
                ).otherwise(F.col("c_nationkey")),
            )
            exp = (
                final_orders.join(
                    final_cust, final_orders.o_custkey == final_cust.c_custkey
                )
                .groupBy("c_nationkey", F.date_trunc("month", "o_orderdate").alias("month"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("rev"))
            )
            got = {(r["c_nationkey"], r["month"]): r.asDict() for r in app.read().collect()}
            want = {(r["c_nationkey"], r["month"]): r.asDict() for r in exp.collect()}
            assert set(got) == set(want)
            for k, w in want.items():
                assert got[k]["n"] == w["n"], k
                assert abs(got[k]["rev"] - w["rev"]) < 1e-6 * max(1.0, abs(w["rev"])), k
            assert app.read().columns == ["c_nationkey", "month", "n", "rev"]
        finally:
            shutil.rmtree(work, ignore_errors=True)


class TestCompositeKeyDims:
    def test_matcher_accepts_composite_pk_edge(self):
        cols = {
            "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"],
            "partsupp": ["ps_partkey", "ps_suppkey", "ps_supplycost"],
        }
        pks = {"lineitem": ["l_orderkey", "l_linenumber"], "partsupp": ["ps_partkey", "ps_suppkey"]}
        s = match_join_agg_shape(
            """SELECT ps.ps_suppkey, sum(l.l_quantity * ps.ps_supplycost) AS cost
               FROM lineitem l JOIN partsupp ps
                 ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
               GROUP BY ps.ps_suppkey""",
            set(cols), cols, pks,
        )
        assert s is not None and s.fact == "lineitem"
        assert s.dims[0].pk_cols == ("ps_partkey", "ps_suppkey")
        assert s.dims[0].ref_cols == ("l_partkey", "l_suppkey")
        # a PARTIAL composite key (one of two PK columns) must not orient
        assert match_join_agg_shape(
            """SELECT ps_suppkey, count(*) AS n
               FROM lineitem JOIN partsupp ON l_partkey = ps_partkey
               GROUP BY ps_suppkey""",
            set(cols), cols, pks,
        ) is None

    def test_composite_dim_converges_two_sided(self, spark, tmp_path):
        """fact ⋈ composite-PK dim under fact churn AND dim churn that
        renames/deletes composite keys — J re-derivation must prune and
        propagate on the full key pair."""
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(k, k % 5 + 1, k % 3 + 1, float(k + 1)) for k in range(40)],
            "fid long, pk1 long, pk2 long, qty double",
        )
        dim = spark.createDataFrame(
            [(p, s, float(p * 10 + s)) for p in range(1, 6) for s in range(1, 4)],
            "dp long, ds long, cost double",
        )
        app = (
            MVApp.builder(spark)
            .source("fct", fact, pk=["fid"])
            .source("dm", dim, pk=["dp", "ds"])
            .query(
                """SELECT dm.ds, count(*) AS n, sum(fct.qty * dm.cost) AS total
                   FROM fct JOIN dm ON fct.pk1 = dm.dp AND fct.pk2 = dm.ds
                   GROUP BY dm.ds"""
            )
            .target(str(tmp_path / "ck"))
            .num_buckets(4)
            .shuffle_partitions(4)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalJoinAggMV"
        app.bootstrap()

        # dim churn: re-cost (1,1); delete (2,2) entirely (its fact rows
        # leave the inner join); fact churn: new rows + deletes
        dch = (
            spark.createDataFrame(
                [(1, 1, 999.0, OP_UPDATE), (2, 2, 0.0, OP_DELETE)],
                "dp long, ds long, cost double, __op string",
            ).withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        fch = (
            spark.createDataFrame(
                [(100, 1, 1, 50.0, OP_INSERT), (0, 0, 0, 0.0, OP_DELETE),
                 (7, 2, 2, 3.0, OP_UPDATE)],
                "fid long, pk1 long, pk2 long, qty double, __op string",
            ).withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"dm": dch}, batch_id=1)
        app.refresh({"fct": fch}, batch_id=2)

        # batch truth
        frows = {k: (k % 5 + 1, k % 3 + 1, float(k + 1)) for k in range(40)}
        del frows[0]
        frows[100] = (1, 1, 50.0)
        frows[7] = (2, 2, 3.0)
        drows = {(p, s): float(p * 10 + s) for p in range(1, 6) for s in range(1, 4)}
        drows[(1, 1)] = 999.0
        del drows[(2, 2)]
        expect = {}
        for p1, p2, q in frows.values():
            if (p1, p2) in drows:
                n, tot = expect.get(p2, (0, 0.0))
                expect[p2] = (n + 1, tot + q * drows[(p1, p2)])
        got = {r.ds: (r.n, round(r.total, 6)) for r in app.read().collect()}
        assert got == {k: (n, round(t, 6)) for k, (n, t) in expect.items()}


class TestJoinProjection:
    def test_matcher_envelope(self):
        from tiflink_spark.planner import match_join_projection_shape

        cols = {
            "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
            "customer": ["c_custkey", "c_name", "c_nationkey"],
        }
        pks = {"orders": ["o_orderkey"], "customer": ["c_custkey"]}
        s = match_join_projection_shape(
            """SELECT o.o_orderkey, o.o_totalprice, c.c_name,
                      upper(c.c_name) AS cu
               FROM orders o LEFT JOIN customer c
                 ON o.o_custkey = c.c_custkey""",
            set(cols), cols, pks,
        )
        assert s is not None and s.fact == "orders"
        assert s.dims[0].how == "left"
        assert s.out_cols == ("o_orderkey", "o_totalprice", "c_name", "cu")
        assert dict(s.key_exprs)["cu"] == "upper(c_name)"
        # fact PK absent from the select -> no target key -> reject
        assert match_join_projection_shape(
            "SELECT c_name FROM orders JOIN customer ON o_custkey = c_custkey",
            set(cols), cols, pks,
        ) is None
        # aggregates / GROUP BY are the other shape
        assert match_join_projection_shape(
            """SELECT o_orderkey, count(*) AS n FROM orders
               JOIN customer ON o_custkey = c_custkey GROUP BY o_orderkey""",
            set(cols), cols, pks,
        ) is None

    def test_enrichment_converges_three_sided(self, spark, tmp_path):
        """orders ⟕ customer ⟕ nation (snowflake, LEFT both hops) under
        churn on all three tables: customer deletes NULL out their
        orders' name columns (LEFT semantics), nation renames rewrite
        reachable rows two hops away, order churn flows through."""
        from tiflink_spark.app import MVApp

        orders = spark.createDataFrame(
            [(k, k % 7 + 1, float(k * 10)) for k in range(30)],
            "o_id long, o_ck long, o_price double",
        )
        cust = spark.createDataFrame(
            [(c, f"c{c}", c % 3 + 1) for c in range(1, 8)],
            "c_ck long, c_name string, c_nk long",
        )
        nat = spark.createDataFrame(
            [(n, f"n{n}") for n in range(1, 4)], "n_nk long, n_name string"
        )
        q = """SELECT o.o_id, o.o_price, c.c_name, n.n_name
               FROM ord_en o
               LEFT JOIN cust_en c ON o.o_ck = c.c_ck
               LEFT JOIN nat_en n ON c.c_nk = n.n_nk
               WHERE o.o_price > 20"""
        app = (
            MVApp.builder(spark)
            .source("ord_en", orders, pk=["o_id"])
            .source("cust_en", cust, pk=["c_ck"])
            .source("nat_en", nat, pk=["n_nk"])
            .query(q)
            .target(str(tmp_path / "en"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalJoinProjectionMV"
        app.bootstrap()
        b1 = (
            cust.filter(F.col("c_ck") % 3 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            nat.filter(F.col("n_nk") == 2)
            .withColumn("n_name", F.lit("renamed"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            orders.filter(F.col("o_id") % 4 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"cust_en": b1}, batch_id=1)
        app.refresh({"nat_en": b2}, batch_id=2)
        app.refresh({"ord_en": b3}, batch_id=3)
        app.refresh({"ord_en": b3}, batch_id=3)  # replay no-op

        fo = orders.filter(F.col("o_id") % 4 != 0)
        fc = cust.filter(F.col("c_ck") % 3 != 0)
        fn = nat.withColumn(
            "n_name",
            F.when(F.col("n_nk") == 2, "renamed").otherwise(F.col("n_name")),
        )
        fo.createOrReplaceTempView("ord_en")
        fc.createOrReplaceTempView("cust_en")
        fn.createOrReplaceTempView("nat_en")
        got = sorted(tuple(r) for r in app.read().collect())
        exp = sorted(tuple(r) for r in spark.sql(q).collect())
        assert got == exp


def test_mn_join_agg_cascades_with_held_key(spark, tmp_path):
    """An M:N join (neither side joins through its PK) + aggregate has
    no direct incremental route, but the NESTED spelling cascades —
    inner IncrementalJoinMV (keyed by both PKs) feeding an outer
    aggregate via store diffs — PROVIDED the inner select carries a
    join-key column (the join MV prunes dirty keys through it)."""
    from tiflink_spark.app import MVApp

    a = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(20)], "aid long, tag long, av double"
    )
    b = spark.createDataFrame(
        [(j, j % 4, f"s{j % 3}") for j in range(10)],
        "bid long, btag long, grp string",
    )
    q = """SELECT grp, count(*) AS n, sum(av) AS s FROM (
             SELECT aid, bid, tag, av, grp FROM mna JOIN mnb ON tag = btag
           ) j GROUP BY grp"""
    app = (
        MVApp.builder(spark)
        .source("mna", a, pk=["aid"])
        .source("mnb", b, pk=["bid"])
        .query(q)
        .target(str(tmp_path / "mn"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "CascadeMV"
    app.bootstrap()
    ch = (
        spark.createDataFrame([(3, 1, 100.0)], "aid long, tag long, av double")
        .withColumn(OP_COL, F.lit(OP_UPDATE))
        .withColumn(SEQ_COL, F.lit(0))
    )
    chb = (
        spark.createDataFrame([(2, 0, "x")], "bid long, btag long, grp string")
        .withColumn(OP_COL, F.lit(OP_DELETE))
        .withColumn(SEQ_COL, F.lit(0))
    )
    app.refresh({"mna": ch}, batch_id=1)
    app.refresh({"mnb": chb}, batch_id=2)
    fa = a.filter(F.col("aid") != 3).unionByName(
        spark.createDataFrame([(3, 1, 100.0)], "aid long, tag long, av double")
    )
    fb = b.filter(F.col("bid") != 2)
    fa.createOrReplaceTempView("mna")
    fb.createOrReplaceTempView("mnb")
    got = sorted(tuple(r) for r in app.read().collect())
    exp = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == exp
