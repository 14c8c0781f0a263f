"""The stateless projection route and the query-normalization pass.

The projection/filter view is Flink's stateless Calc node — the
simplest shape the reference maintains by delegation
(TiFlinkApp.java:270). These tests pin the matcher's accept/reject
envelope, prove IncrementalProjectionMV converges to the batch answer
under churn that crosses the filter boundary (with replay idempotence),
and pin the semantics-preserving rewrites in planner.normalize_query
(CTE inlining, GROUP BY ordinals, RIGHT→LEFT join, bare ORDER BY).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.planner import (
    match_projection_shape,
    normalize_query,
)

COLS = {"orders": ["o_orderkey", "o_custkey", "o_totalprice", "o_status"]}
PKS = {"orders": ["o_orderkey"]}


class TestProjectionMatcher:
    def test_star_and_where(self):
        s = match_projection_shape(
            "SELECT * FROM orders WHERE o_totalprice > 100",
            set(COLS), COLS, PKS,
        )
        assert s is not None
        assert [o for o, _ in s.items] == COLS["orders"]
        assert s.pk_out == ("o_orderkey",)
        assert s.where == "o_totalprice > 100"

    def test_expressions_and_renamed_pk(self):
        s = match_projection_shape(
            """SELECT o.o_orderkey AS id, upper(o.o_status) AS st,
                      o_totalprice * 1.1 AS gross
               FROM orders o""",
            set(COLS), COLS, PKS,
        )
        assert s is not None
        assert s.pk_out == ("id",)
        assert dict(s.items)["st"] == "upper(o_status)"

    @pytest.mark.parametrize(
        "query",
        [
            "SELECT DISTINCT o_custkey FROM orders",
            "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey",
            "SELECT o_custkey FROM orders",  # PK not selected
            "SELECT rank() OVER (ORDER BY o_totalprice) AS r, o_orderkey FROM orders",
            "SELECT o_orderkey FROM orders WHERE rand() < 0.5",
            "SELECT o_orderkey FROM orders ORDER BY o_totalprice LIMIT 5",
            "SELECT o_orderkey, nope FROM orders",
            "SELECT o_orderkey AS a, o_custkey AS a FROM orders",  # dup out
            "SELECT max(o_totalprice) AS m, o_orderkey FROM orders",
            "SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT 1)",
        ],
    )
    def test_rejects(self, query):
        assert match_projection_shape(query, set(COLS), COLS, PKS) is None


class TestNormalizeQuery:
    def test_strip_bare_order_by(self):
        q = "SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY n DESC"
        assert normalize_query(q).rstrip() == "SELECT a, count(*) AS n FROM t GROUP BY a"

    def test_order_by_with_limit_kept(self):
        q = "SELECT a FROM t ORDER BY a LIMIT 5"
        assert normalize_query(q) == q

    def test_nested_order_by_untouched(self):
        q = "SELECT a, (SELECT max(x) FROM u ORDER BY x) AS m FROM t"
        assert normalize_query(q) == q

    def test_order_by_in_string_untouched(self):
        q = "SELECT a FROM t WHERE b = 'ORDER BY x'"
        assert normalize_query(q) == q

    def test_groupby_ordinals(self):
        # ordinals resolve to the item's EXPRESSION, never its alias:
        # GROUP BY names resolve against source columns before select
        # aliases, so the alias spelling is wrong when it shadows one
        q = "SELECT coalesce(a, 'X') AS k, b, count(*) AS n FROM t GROUP BY 1, 2"
        assert "GROUP BY coalesce(a, 'X'), b" in normalize_query(q)

    def test_groupby_ordinal_alias_shadows_source_column(self):
        # SELECT abs(x) AS x ... GROUP BY 1: emitting the alias would
        # regroup by the RAW column x (wrong result); the expression
        # form is always the positional grouping
        q = "SELECT abs(x) AS x, count(*) AS n FROM t GROUP BY 1"
        assert "GROUP BY abs(x)" in normalize_query(q)

    def test_groupby_ordinals_keep_comma_literals(self):
        # a comma inside a string literal is not an item separator
        q = "SELECT g || ',' AS k, count(*) AS n FROM t GROUP BY 1"
        assert normalize_query(q) == "SELECT g || ',' AS k, count(*) AS n FROM t GROUP BY g || ','"
        q2 = "SELECT 'x,y' AS tag, g, count(*) AS n FROM t GROUP BY 1, 2"
        assert normalize_query(q2).endswith("GROUP BY 'x,y', g")
        q3 = "SELECT g, 'a,b' AS t FROM t ORDER BY 2 LIMIT 3"
        assert normalize_query(q3) == "SELECT g, 'a,b' AS t FROM t ORDER BY t LIMIT 3"

    def test_ordinals_untouched_when_the_tokenizer_bails(self):
        q = 'SELECT "a,b" AS k, count(*) AS n FROM t GROUP BY 1'
        assert normalize_query(q) == q
        q2 = 'SELECT g, "a,b" AS k FROM t ORDER BY 2 LIMIT 1'
        assert normalize_query(q2) == q2

    @pytest.mark.parametrize(
        "query",
        [
            "SELECT g || ',' AS k, count(*) AS n FROM t_ord GROUP BY 1",
            "SELECT 'x,y' AS tag, g, count(*) AS n FROM t_ord GROUP BY 1, 2",
        ],
    )
    def test_comma_literal_ordinal_views_build_and_read(self, spark, tmp_path, query):
        # the rewritten text is also what recompute runs: it must stay
        # a valid query with the same answer
        from tiflink_spark.app import MVApp

        df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id int, g string")
        app = (
            MVApp.builder(spark)
            .source("t_ord", df, pk=["id"])
            .query(query)
            .target(str(tmp_path / "mv"))
            .num_buckets(2)
            .build()
            .bootstrap()
        )
        df.createOrReplaceTempView("t_ord")
        assert sorted(app.read().collect()) == sorted(spark.sql(query).collect())

    def test_order_by_offset_fetch_kept(self):
        # standalone OFFSET / FETCH FIRST restrict the row set — the
        # bare-ORDER-BY strip must leave them intact
        q = "SELECT a FROM t ORDER BY a OFFSET 5"
        assert normalize_query(q) == q
        q2 = "SELECT a FROM t ORDER BY a FETCH FIRST 3 ROWS ONLY"
        assert normalize_query(q2) == q2

    def test_rollup_ordinals_untouched(self):
        q = "SELECT a, count(*) AS n FROM t GROUP BY ROLLUP(a)"
        assert normalize_query(q) == q

    def test_orderby_ordinals(self):
        q = "SELECT a, b FROM t ORDER BY 2 DESC LIMIT 5"
        assert normalize_query(q) == "SELECT a, b FROM t ORDER BY b DESC LIMIT 5"
        q2 = "SELECT a, sum(x) AS s FROM t GROUP BY 1 ORDER BY 2 DESC LIMIT 3"
        assert normalize_query(q2).endswith("GROUP BY a ORDER BY s DESC LIMIT 3")
        # out-of-range ordinal: leave the query to the fallback
        q3 = "SELECT a FROM t ORDER BY 9 LIMIT 2"
        assert normalize_query(q3) == q3

    def test_comma_join_rewrite(self):
        sc = {
            "customer": ["c_custkey", "c_name", "c_mktsegment", "c_nationkey"],
            "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
            "lineitem": ["l_orderkey", "l_linenumber", "l_extendedprice"],
        }
        q = ("SELECT o.o_orderkey, sum(l.l_extendedprice) AS rev "
             "FROM customer c, orders o, lineitem l "
             "WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey "
             "AND l.l_orderkey = o.o_orderkey GROUP BY o.o_orderkey")
        n = normalize_query(q, sc)
        assert "JOIN orders o ON c.c_custkey = o.o_custkey" in n
        assert "JOIN lineitem l ON l.l_orderkey = o.o_orderkey" in n
        assert "WHERE c.c_mktsegment = 'BUILDING'" in n
        # no predicate between the pair -> true cross join -> untouched
        q2 = "SELECT c_custkey FROM customer, orders WHERE c_custkey > 5"
        assert normalize_query(q2, sc) == q2
        # top-level OR must not be torn into conjuncts
        q3 = ("SELECT c_custkey FROM customer, orders "
              "WHERE c_custkey = o_custkey OR c_custkey = 1")
        assert normalize_query(q3, sc) == q3
        # without schemas the rewrite is skipped entirely
        assert normalize_query(q) == q
        # a subquery whose body holds GROUP BY: the tokenizer's depth-0
        # clause split keeps it intact INSIDE the WHERE, so the rewrite
        # now proceeds (the old regex extraction tore at the inner
        # GROUP BY and had to bail; this pinned that bail until r6)
        q4 = ("SELECT c_custkey FROM customer, orders "
              "WHERE c_custkey = o_custkey AND c_custkey IN "
              "(SELECT o_custkey FROM orders GROUP BY o_custkey)")
        n4 = normalize_query(q4, sc)
        assert "JOIN orders ON c_custkey = o_custkey" in n4
        assert (
            "WHERE c_custkey IN (SELECT o_custkey FROM orders GROUP BY o_custkey)"
            in n4
        )
        # string literal containing a comma/keyword stays inert
        q5 = ("SELECT c_custkey, o_orderkey FROM customer, orders "
              "WHERE c_custkey = o_custkey AND c_name <> 'GROUP, BY'")
        n5 = normalize_query(q5, sc)
        assert "JOIN orders ON c_custkey = o_custkey" in n5
        assert "'GROUP, BY'" in n5
        # a literal with interior whitespace+keyword used to tear the
        # regex where-slice mid-string (balance-guard bail); the
        # tokenizer treats the string as one token, so the rewrite now
        # proceeds with the literal intact (r6)
        q6 = ("SELECT c_custkey FROM customer, orders "
              "WHERE c_custkey = o_custkey AND c_name <> 'a GROUP b'")
        n6 = normalize_query(q6, sc)
        assert "JOIN orders ON c_custkey = o_custkey" in n6
        assert "WHERE c_name <> 'a GROUP b'" in n6

    def test_on_predicate_hoist(self):
        # constant/filter conjuncts leave an INNER ON for WHERE (the
        # two commute on inner joins); LEFT ONs stay untouched
        q = ("SELECT c_nationkey, count(*) AS n FROM orders o JOIN customer c "
             "ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING' "
             "GROUP BY c_nationkey")
        n = normalize_query(q)
        assert "ON o.o_custkey = c.c_custkey WHERE (c.c_mktsegment = 'BUILDING')" in n
        q2 = ("SELECT o.o_orderkey FROM orders o LEFT JOIN customer c "
              "ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'AUTO'")
        assert normalize_query(q2) == q2
        # an existing WHERE receives the hoisted conjunct up front
        q3 = ("SELECT a FROM t JOIN u ON t.k = u.k AND u.v > 5 WHERE t.x > 1")
        assert "WHERE (u.v > 5) AND t.x > 1" in normalize_query(q3)
        # an ON that is ONLY a filter (no equality) must not be emptied
        q4 = "SELECT a FROM t JOIN u ON u.v > 5"
        assert normalize_query(q4) == q4

    def test_right_join_swap(self):
        q = ("SELECT o.o_orderkey, c.c_name FROM customer c "
             "RIGHT JOIN orders o ON o.o_custkey = c.c_custkey "
             "WHERE c.c_name IS NOT NULL")
        n = normalize_query(q)
        assert "LEFT JOIN customer c" in n and "FROM orders o" in n
        assert n.endswith("WHERE c.c_name IS NOT NULL")

    def test_single_cte_inlined(self):
        q = ("WITH big AS (SELECT * FROM orders WHERE o_totalprice > 100) "
             "SELECT o_custkey, count(*) AS n FROM big GROUP BY o_custkey")
        n = normalize_query(q)
        assert n.startswith("SELECT o_custkey")
        assert "FROM ( SELECT * FROM orders WHERE o_totalprice > 100 ) big" in n

    def test_cte_pipeline_inlined(self):
        q = ("WITH p AS (SELECT * FROM orders WHERE o_totalprice > 100), "
             "a AS (SELECT o_custkey, count(*) AS n FROM p GROUP BY o_custkey) "
             "SELECT o_custkey, n FROM a WHERE n > 2")
        n = normalize_query(q)
        assert n.startswith("SELECT o_custkey, n FROM ( SELECT o_custkey")
        assert "FROM ( SELECT * FROM orders WHERE o_totalprice > 100 ) p" in n

    def test_cte_with_user_alias(self):
        # FROM paid p — the user alias replaces the CTE name as the
        # derived-table alias so p.* references keep resolving
        q = ("WITH paid AS (SELECT * FROM orders WHERE o_totalprice > 1000) "
             "SELECT p.o_custkey FROM paid p WHERE p.o_custkey > 5")
        n = normalize_query(q)
        assert ") p WHERE p.o_custkey > 5" in n
        assert "paid p" not in n

    def test_setop_ordinals_untouched(self):
        # two top-level SELECTs: an ordinal would resolve against the
        # wrong branch's select list — both passes must bail
        q = ("SELECT a, n FROM t1 INTERSECT "
             "SELECT x, count(*) AS n2 FROM t2 GROUP BY 1")
        assert normalize_query(q) == q
        q2 = "SELECT a, b FROM t1 UNION SELECT c, d FROM t2 ORDER BY 2 LIMIT 5"
        assert normalize_query(q2) == q2

    def test_right_join_star_untouched(self):
        # SELECT * expands in join order; swapping would reorder the
        # output schema — bail. Multiplication stars are not stars.
        q = "SELECT * FROM a RIGHT JOIN b ON a.k = b.k"
        assert normalize_query(q) == q
        q2 = "SELECT a.k, b.v * 2 AS d FROM a RIGHT JOIN b ON a.k = b.k"
        assert "LEFT JOIN" in normalize_query(q2)

    @pytest.mark.parametrize(
        "query",
        [
            'SELECT *, "x" AS tag FROM a RIGHT JOIN b ON a.ak = b.bk',
            "SELECT `a`.*, b.v FROM a RIGHT JOIN b ON a.ak = b.bk",
        ],
    )
    def test_right_join_untouched_when_the_tokenizer_bails(self, query):
        # a select list the tokenizer rejects may hide a star: no swap
        assert normalize_query(query) == query

    def test_cte_list_with_unreferenced_member_untouched(self):
        q = ("WITH a AS (SELECT 1 AS x), b AS (SELECT 2 AS y) "
             "SELECT x FROM a")
        assert normalize_query(q) == q  # b unreferenced — bail

    def test_cte_joined_untouched(self):
        q = ("WITH a AS (SELECT * FROM t) "
             "SELECT * FROM a JOIN u ON a.k = u.k")
        assert normalize_query(q) == q


def _batch(spark, rows, op_col=True):
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_status string, __op string"
    )
    return df.withColumn(SEQ_COL, F.monotonically_increasing_id())


class TestProjectionConvergence:
    def test_filter_boundary_churn_with_replay(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        rng = random.Random(7)
        state = {
            k: (k % 5 + 1, float(rng.randrange(50, 300)), rng.choice("OFP"))
            for k in range(40)
        }
        fact = spark.createDataFrame(
            [(k, c, p, s) for k, (c, p, s) in state.items()],
            "o_orderkey long, o_custkey long, o_totalprice double, o_status string",
        )
        app = (
            MVApp.builder(spark)
            .source("orders_pj", fact, pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey AS id, o_custkey,
                          round(o_totalprice * 1.1, 2) AS gross
                   FROM orders_pj WHERE o_totalprice >= 100 AND o_status <> 'P'"""
            )
            .target(str(tmp_path / "proj"))
            .num_buckets(4)
            .shuffle_partitions(4)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalProjectionMV"
        assert app.maintenance_mode == "incremental"
        assert app.mv_pk == ["id"]
        app.bootstrap()

        for i in range(1, 5):
            rows = []
            for _ in range(12):
                k = rng.randrange(50)
                if k in state and rng.random() < 0.3:
                    del state[k]
                    rows.append((k, 0, 0.0, "O", OP_DELETE))
                else:
                    # updates crossing the price/status boundary in both
                    # directions — the stateless filter rule's demote path
                    v = (k % 5 + 1, float(rng.randrange(50, 300)), rng.choice("OFP"))
                    op = OP_UPDATE if k in state else OP_INSERT
                    state[k] = v
                    rows.append((k, *v, op))
            app.refresh({"orders_pj": _batch(spark, rows)}, batch_id=i)
            if i == 2:  # crash replay: the same batch twice must be a no-op
                app.refresh({"orders_pj": _batch(spark, rows)}, batch_id=i)

        expect = sorted(
            (k, c, round(p * 1.1, 2))
            for k, (c, p, s) in state.items()
            if p >= 100 and s != "P"
        )
        got = sorted(tuple(r) for r in app.read().collect())
        assert got == expect

    def test_cte_filter_agg_cascades(self, spark, tmp_path):
        """WITH x AS (filter) SELECT agg FROM x — normalize_query
        inlines the CTE, the cascade pairs a projection inner with an
        aggregate outer, and the result converges under churn."""
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(k, k % 3 + 1, float(100 + k)) for k in range(30)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).withColumn("o_status", F.lit("O"))
        app = (
            MVApp.builder(spark)
            .source("orders_ct", fact, pk=["o_orderkey"])
            .query(
                """WITH paid AS (
                       SELECT * FROM orders_ct WHERE o_totalprice >= 110
                   )
                   SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total
                   FROM paid GROUP BY o_custkey"""
            )
            .target(str(tmp_path / "cte"))
            .num_buckets(4)
            .shuffle_partitions(4)
            .build()
        )
        assert app.maintenance_strategy.startswith("CascadeMV")
        app.bootstrap()
        # push some rows across the filter boundary and delete others
        ch = _batch(
            spark,
            [(5, 2, 90.0, "O", OP_UPDATE),   # leaves the filter
             (3, 1, 500.0, "O", OP_UPDATE),  # stays, new value
             (29, 3, 0.0, "O", OP_DELETE),
             (100, 1, 250.0, "O", OP_INSERT)],
        )
        app.refresh({"orders_ct": ch}, batch_id=1)
        rows = {k: (c, p) for k, c, p in
                [(k, k % 3 + 1, float(100 + k)) for k in range(30)]}
        rows[3] = (1, 500.0)
        del rows[5], rows[29]
        rows[100] = (1, 250.0)
        expect = {}
        for k, (c, p) in rows.items():
            if p >= 110:
                n, t = expect.get(c, (0, 0.0))
                expect[c] = (n + 1, t + p)
        got = {r["o_custkey"]: (r["n"], r["total"]) for r in app.read().collect()}
        assert got == expect

    @pytest.mark.slow
    def test_multi_cte_pipeline_cascades(self, spark, tmp_path):
        """WITH filter, WITH agg, SELECT filtered-agg — a 3-level
        pipeline: projection inner, aggregate middle, projection outer,
        all incremental, converging under filter-boundary churn."""
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(k, k % 4 + 1, float(50 + 10 * k)) for k in range(40)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        )
        app = (
            MVApp.builder(spark)
            .source("orders_mc", fact, pk=["o_orderkey"])
            .query(
                """WITH paid AS (
                       SELECT * FROM orders_mc WHERE o_totalprice > 100
                   ),
                   agg AS (
                       SELECT o_custkey, count(*) AS n FROM paid
                       GROUP BY o_custkey
                   )
                   SELECT o_custkey, n FROM agg WHERE n > 3"""
            )
            .target(str(tmp_path / "mcte"))
            .num_buckets(4)
            .shuffle_partitions(4)
            .build()
        )
        assert app.maintenance_strategy == "CascadeMV"
        assert "IncrementalProjectionMV" in str(app.describe())
        app.bootstrap()
        # deletes shrink groups below the n>3 bound; price-rises pull
        # previously-filtered rows into the paid view
        ch = (
            fact.filter(F.col("o_orderkey") % 4 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                fact.filter(F.col("o_orderkey") % 4 == 1)
                .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_mc": ch}, batch_id=1)
        final = {}
        for k in range(40):
            if k % 4 == 0:
                continue
            p = 50.0 + 10 * k + (1000 if k % 4 == 1 else 0)
            if p > 100:
                c = k % 4 + 1
                final[c] = final.get(c, 0) + 1
        expect = sorted((c, n) for c, n in final.items() if n > 3)
        got = sorted(tuple(r) for r in app.read().collect())
        assert got == expect

    def test_validate_pks_catches_false_keys(self, spark, tmp_path):
        """validate_pks() fails bootstrap loudly on a duplicate or NULL
        declared PK — the silent-corruption hazard a database's own
        constraint would have prevented (the composite-key gate's
        original bug was exactly this, in the raw testdata)."""
        from tiflink_spark.app import MVApp

        dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string")
        app = (
            MVApp.builder(spark)
            .source("dup_t", dup, pk=["k"])
            .query("SELECT k, v FROM dup_t")
            .target(str(tmp_path / "vd"))
            .num_buckets(2)
            .validate_pks()
            .build()
        )
        with pytest.raises(ValueError, match="not unique on declared PK"):
            app.bootstrap()

        nulls = spark.createDataFrame([(None, "a"), (2, "b")], "k long, v string")
        app2 = (
            MVApp.builder(spark)
            .source("null_t", nulls, pk=["k"])
            .query("SELECT k, v FROM null_t")
            .target(str(tmp_path / "vn"))
            .num_buckets(2)
            .validate_pks()
            .build()
        )
        with pytest.raises(ValueError, match="NULL in"):
            app2.bootstrap()

        # a clean source passes and bootstraps normally
        ok = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        app3 = (
            MVApp.builder(spark)
            .source("ok_t", ok, pk=["k"])
            .query("SELECT k, v FROM ok_t")
            .target(str(tmp_path / "vo"))
            .num_buckets(2)
            .validate_pks()
            .build()
        )
        app3.bootstrap()
        assert app3.read().count() == 2

    @pytest.mark.slow
    def test_union_inner_cascades_with_bag_semantics(self, spark, tmp_path):
        """A UNION ALL inner advertises an overclaimed PK (unique per
        branch only); an outer keying by it would collapse cross-branch
        duplicates under churn — the wrong-result scenario this test
        red-fences. The cascade now routes by consuming the inner's
        HIDDEN uniqueness carrier (the branch tag completes the true
        compound key), so bag semantics flow through: the duplicated
        key (2, 'y') counts once per branch, before and after churn."""
        from tiflink_spark.app import MVApp

        t1 = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
        t2 = spark.createDataFrame([(2, "y"), (3, "y")], "k long, v string")
        app = (
            MVApp.builder(spark)
            .source("t1", t1, pk=["k"])
            .source("t2", t2, pk=["k"])
            .query(
                """SELECT v, count(*) AS n FROM (
                     SELECT k, v FROM t1 UNION ALL SELECT k, v FROM t2
                   ) u GROUP BY v"""
            )
            .target(str(tmp_path / "uc"))
            .num_buckets(4)
            .shuffle_partitions(4)
            .build()
        )
        assert app.maintenance_strategy == "CascadeMV"
        assert app._mv.inner.maintenance_strategy == "IncrementalUnionMV"
        app.bootstrap()
        # bag check at rest: y once in t1, twice in t2 -> 3 (collapse
        # on the overclaimed key k would count (2,'y') once -> 2)
        got0 = sorted(tuple(r) for r in app.read().collect())
        assert got0 == [("x", 1), ("y", 3)]
        # churn ONE branch's copy of the duplicated key: the other
        # branch's copy must survive (collapse would drop it)
        ch = (
            spark.createDataFrame([(2, "z")], "k long, v string")
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.lit(0))
        )
        app.refresh({"t1": ch}, batch_id=1)
        got = sorted(tuple(r) for r in app.read().collect())
        assert got == [("x", 1), ("y", 2), ("z", 1)]
        # crash replay: no-op
        app.refresh({"t1": ch}, batch_id=1)
        got = sorted(tuple(r) for r in app.read().collect())
        assert got == [("x", 1), ("y", 2), ("z", 1)]
        # delete the OTHER branch's copy: y drops to 1 (from t2's (3,y))
        d = (
            spark.createDataFrame([(2, "y")], "k long, v string")
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.lit(0))
        )
        app.refresh({"t2": d}, batch_id=2)
        got = sorted(tuple(r) for r in app.read().collect())
        assert got == [("x", 1), ("y", 1), ("z", 1)]
