"""Randomized-churn convergence for the round-3 semi/anti-join and
OVER-window maintenance routes, including simulated crash replays:
whatever the interleaving, the incremental view must converge to the
batch answer of the final states — the property the reference's
consistency machinery exists to guarantee (README.md:18-22,
roll-forward FlinkTikvProducer.java:211-230).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.store import StoreSet


class TestSemiJoinRandomizedConvergence:
    @pytest.mark.slow
    @pytest.mark.parametrize("anti", [False, True])
    def test_two_sided_random_churn_with_crash_replay(self, spark, tmp_path, anti):
        import random

        from tiflink_spark.mv import IncrementalSemiJoinMV

        rng = random.Random(31 if anti else 13)
        N_FACT, N_KEYS = 40, 8

        fact_state = {k: rng.randrange(N_KEYS) for k in range(N_FACT)}
        # a few NULL-keyed fact rows: never in the semi view, always in
        # the anti view, and untouched by other-side churn
        fact_state[N_FACT] = None
        fact_state[N_FACT + 1] = None
        other_state = {ok: rng.randrange(N_KEYS) for ok in range(6)}

        fact_df = spark.createDataFrame(
            [(k, fk) for k, fk in fact_state.items()], "k long, fk long"
        )
        other_df = spark.createDataFrame(
            [(ok, kv) for ok, kv in other_state.items()], "ok long, kv long"
        )
        mv = IncrementalSemiJoinMV(
            spark,
            fact=fact_df,
            fact_pk=["k"],
            other=other_df,
            other_pk=["ok"],
            fact_key="fk",
            other_key="kv",
            out_cols=["k", "fk"],
            stores=StoreSet(spark, str(tmp_path / "sj_rand"), 4),
            anti=anti,
            shuffle_partitions=4,
        )
        mv.bootstrap()

        for i in range(1, 5):
            side = rng.choice(["f", "o", "both"])
            fc = oc = None
            if side in ("f", "both"):
                rows = []
                for seq in range(10):
                    k = rng.randrange(N_FACT + 12)
                    op = rng.choice([OP_INSERT, OP_UPDATE, OP_DELETE])
                    if op == OP_DELETE:
                        rows.append((k, None, OP_DELETE, seq))
                        fact_state.pop(k, None)
                    else:
                        fk = rng.choice([None, *range(N_KEYS)])
                        rows.append((k, fk, op, seq))
                        fact_state[k] = fk
                fc = spark.createDataFrame(
                    rows, f"k long, fk long, {OP_COL} string, {SEQ_COL} long"
                )
            if side in ("o", "both"):
                rows = []
                for seq in range(4):
                    ok = rng.randrange(8)
                    op = rng.choice([OP_UPDATE, OP_UPDATE, OP_DELETE])
                    if op == OP_DELETE:
                        rows.append((ok, None, OP_DELETE, seq))
                        other_state.pop(ok, None)
                    else:
                        kv = rng.randrange(N_KEYS)
                        rows.append((ok, kv, op, seq))
                        other_state[ok] = kv
                oc = spark.createDataFrame(
                    rows, f"ok long, kv long, {OP_COL} string, {SEQ_COL} long"
                )
            # every second batch: crash after the source merges, before
            # the target commit — the replay must land on the same state
            if i % 2 == 0:
                if fc is not None:
                    mv.fact_store.merge(fc, batch_id=i)
                if oc is not None:
                    mv.other_store.merge(oc, batch_id=i)
            mv.refresh(fc, oc, batch_id=i)

        present = set(other_state.values())
        if anti:
            want = {
                (k, fk) for k, fk in fact_state.items() if fk is None or fk not in present
            }
        else:
            want = {
                (k, fk)
                for k, fk in fact_state.items()
                if fk is not None and fk in present
            }
        got = {(r.k, r.fk) for r in mv.read().collect()}
        assert got == want


class TestWindowRandomizedConvergence:
    @pytest.mark.slow
    def test_random_churn_with_crash_replay(self, spark, tmp_path):
        import random

        from tiflink_spark.mv import IncrementalWindowMV

        rng = random.Random(42)
        N, N_GRP = 45, 6

        state = {
            k: (rng.choice([None, *range(N_GRP)]), round(rng.uniform(0, 50), 2))
            for k in range(N)
        }
        fact_df = spark.createDataFrame(
            [(k, g, v) for k, (g, v) in state.items()], "k long, g long, v double"
        )
        items = [
            "k",
            "g",
            "v",
            "sum(v) OVER (PARTITION BY g ORDER BY v) AS rs",
            "rank() OVER (PARTITION BY g ORDER BY v DESC) AS rnk",
            "row_number() OVER (PARTITION BY g ORDER BY v DESC, k) AS rn",
        ]
        mv = IncrementalWindowMV(
            spark,
            fact=fact_df,
            fact_pk=["k"],
            group_key="g",
            select_items=items,
            stores=StoreSet(spark, str(tmp_path / "w_rand"), 4),
            shuffle_partitions=4,
        )
        mv.bootstrap()

        for i in range(1, 5):
            rows = []
            for seq in range(12):
                k = rng.randrange(N + 15)
                op = rng.choice([OP_INSERT, OP_UPDATE, OP_UPDATE, OP_DELETE])
                if op == OP_DELETE:
                    rows.append((k, None, None, OP_DELETE, seq))
                    state.pop(k, None)
                else:
                    g = rng.choice([None, *range(N_GRP)])
                    v = round(rng.uniform(0, 50), 2)
                    rows.append((k, g, v, op, seq))
                    state[k] = (g, v)
            ch = spark.createDataFrame(
                rows, f"k long, g long, v double, {OP_COL} string, {SEQ_COL} long"
            )
            if i % 2 == 0:  # crash replay: fact pre-merged, then refresh
                mv.fact_store.merge(ch, batch_id=i)
            mv.refresh(ch, batch_id=i)

        final = spark.createDataFrame(
            [(k, g, v) for k, (g, v) in state.items()], "k long, g long, v double"
        )
        want = {tuple(r) for r in final.selectExpr(*items).collect()}
        got = {tuple(r) for r in mv.read().collect()}
        assert got == want


class TestNullAwareNotIn:
    def test_matcher_and_dispatch_guard(self, spark, tmp_path):
        from tiflink_spark.planner import match_semijoin_shape

        cols = {"f": ["id", "fk"], "o": ["ok", "nm"]}
        s = match_semijoin_shape(
            "SELECT id, fk FROM f WHERE fk NOT IN (SELECT ok FROM o)",
            {"f", "o"}, cols,
        )
        assert s is not None and s.anti and s.null_aware
        # NOT EXISTS keeps the plain (non-null-aware) anti semantics
        s2 = match_semijoin_shape(
            "SELECT id, fk FROM f WHERE NOT EXISTS "
            "(SELECT 1 FROM o WHERE o.ok = f.fk)",
            {"f", "o"}, cols,
        )
        assert s2 is not None and s2.anti and not s2.null_aware
        # a non-PK (nullable) inner column also routes: the MV keeps
        # the inner's null-presence bit explicitly (r6; was recompute)
        from tiflink_spark.app import MVApp

        f = spark.createDataFrame([(1, "a")], "id long, nm string")
        o = spark.createDataFrame([(1, "a")], "ok long, nm2 string")
        app = (
            MVApp.builder(spark)
            .source("f_g", f, pk=["id"])
            .source("o_g", o, pk=["ok"])
            .query("SELECT id, nm FROM f_g WHERE nm NOT IN (SELECT nm2 FROM o_g)")
            .target(str(tmp_path / "g"))
            .num_buckets(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalSemiJoinMV"

    @pytest.mark.slow
    def test_not_in_nonpk_inner_null_flips(self, spark, tmp_path):
        """NOT IN over a NON-PK nullable inner column: an inner NULL's
        appearance empties the view (x NOT IN (…, NULL) is never
        true), its disappearance restores it, and repeated inner
        values retract only when the LAST row holding them leaves.
        Every state is checked against Spark SQL on the same data."""
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 10), (4, None), (5, 30)], "id long, fk long"
        )
        # value 10 held by TWO inner rows; ref_nat is not the PK
        other = spark.createDataFrame(
            [(100, 10), (101, 10), (102, 20)], "ok long, val long"
        )
        q = "SELECT id, fk FROM f_nn WHERE fk NOT IN (SELECT val FROM o_nn)"
        app = (
            MVApp.builder(spark)
            .source("f_nn", fact, pk=["id"])
            .source("o_nn", other, pk=["ok"])
            .query(q)
            .target(str(tmp_path / "nn"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalSemiJoinMV"
        app.bootstrap()

        def check(other_now):
            other_now.createOrReplaceTempView("o_now")
            exp = sorted(
                (r.id, r.fk)
                for r in spark.sql(q.replace("FROM o_nn", "FROM o_now")).collect()
            )
            got = sorted((r.id, r.fk) for r in app.read().collect())
            assert got == exp

        fact.createOrReplaceTempView("f_nn")
        check(other)
        # B1: a NULL inner value appears -> view empties
        b1 = spark.createDataFrame([(103, None)], "ok long, val long").withColumn(
            OP_COL, F.lit(OP_INSERT)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_nn": b1}, batch_id=1)
        other1 = other.unionByName(
            spark.createDataFrame([(103, None)], "ok long, val long")
        )
        assert app.read().limit(1).count() == 0
        check(other1)
        # B2: the NULL row flips to a value -> view returns
        b2 = spark.createDataFrame([(103, 40)], "ok long, val long").withColumn(
            OP_COL, F.lit(OP_UPDATE)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_nn": b2}, batch_id=2)
        other2 = other.unionByName(
            spark.createDataFrame([(103, 40)], "ok long, val long")
        )
        check(other2)
        app.refresh({"o_nn": b2}, batch_id=2)  # crash replay: no-op
        check(other2)
        # B3: delete ONE of the two rows holding 10 -> 10 still present
        b3 = spark.createDataFrame([(100, 10)], "ok long, val long").withColumn(
            OP_COL, F.lit(OP_DELETE)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_nn": b3}, batch_id=3)
        other3 = other2.filter(F.col("ok") != 100)
        check(other3)
        # B4: delete the LAST row holding 10 -> its fact rows enter
        b4 = spark.createDataFrame([(101, 10)], "ok long, val long").withColumn(
            OP_COL, F.lit(OP_DELETE)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_nn": b4}, batch_id=4)
        other4 = other3.filter(F.col("ok") != 101)
        check(other4)

    def test_not_in_converges_with_empty_set_flips(self, spark, tmp_path):
        """NOT IN's null-aware rules under churn: a NULL outer key is
        in the view ONLY while the inner set is empty; the flip in
        either direction re-evaluates the NULL-key rows; replaying the
        flip batch is a no-op."""
        from tiflink_spark.app import MVApp

        fact = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 10), (4, None), (5, 30)], "id long, fk long"
        )
        other = spark.createDataFrame([(10, "a"), (20, "b")], "ok long, nm string")
        app = (
            MVApp.builder(spark)
            .source("f_ni", fact, pk=["id"])
            .source("o_ni", other, pk=["ok"])
            .query("SELECT id, fk FROM f_ni WHERE fk NOT IN (SELECT ok FROM o_ni)")
            .target(str(tmp_path / "ni"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalSemiJoinMV"
        app.bootstrap()

        def ids():
            return sorted(r.id for r in app.read().collect())

        assert ids() == [5]  # NULL fk excluded while inner non-empty
        d10 = spark.createDataFrame([(10, "a")], "ok long, nm string").withColumn(
            OP_COL, F.lit(OP_DELETE)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_ni": d10}, batch_id=1)
        assert ids() == [1, 3, 5]
        d20 = spark.createDataFrame([(20, "b")], "ok long, nm string").withColumn(
            OP_COL, F.lit(OP_DELETE)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_ni": d20}, batch_id=2)
        assert ids() == [1, 2, 3, 4, 5]  # empty inner admits NULL fk
        app.refresh({"o_ni": d20}, batch_id=2)  # crash replay: no-op
        assert ids() == [1, 2, 3, 4, 5]
        i30 = spark.createDataFrame([(30, "c")], "ok long, nm string").withColumn(
            OP_COL, F.lit(OP_INSERT)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"o_ni": i30}, batch_id=3)
        assert ids() == [1, 2, 3]  # 5 matches again, NULL leaves too
        newnull = spark.createDataFrame([(6, None)], "id long, fk long").withColumn(
            OP_COL, F.lit(OP_INSERT)
        ).withColumn(SEQ_COL, F.lit(0))
        app.refresh({"f_ni": newnull}, batch_id=4)
        assert ids() == [1, 2, 3]  # NULL insert stays out while non-empty


class TestWindowSkewGuard:
    def test_hot_partition_warns_and_stays_exact(self, spark, tmp_path):
        """One PARTITION BY key holding 50% of rows: the refresh must
        raise the documented skew warning (a window partition is one
        task's sort — salting would change OVER semantics) while the
        result stays exactly the batch answer."""
        import warnings as _w

        from tiflink_spark.mv import IncrementalWindowMV

        rows = [(k, 0 if k < 50 else k % 10 + 1, float(k)) for k in range(100)]
        fact = spark.createDataFrame(rows, "k long, g long, v double")
        items = [
            "k",
            "g",
            "v",
            "rank() OVER (PARTITION BY g ORDER BY v DESC) AS rnk",
        ]
        mv = IncrementalWindowMV(
            spark,
            fact=fact,
            fact_pk=["k"],
            group_key="g",
            select_items=items,
            stores=StoreSet(spark, str(tmp_path / "w_skew"), 2),
            shuffle_partitions=2,
            skew_warn_rows=30,  # 50-row hot partition crosses it
        )
        mv.bootstrap()
        ch = spark.createDataFrame(
            [(200, 0, 999.0, OP_INSERT, 0)],
            f"k long, g long, v double, {OP_COL} string, {SEQ_COL} long",
        )
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            mv.refresh(ch, batch_id=1)
        assert mv.last_skew_warning is not None
        assert "g=0" in mv.last_skew_warning
        assert any("re-sorts the whole partition" in str(w.message) for w in caught)
        final = fact.unionByName(
            spark.createDataFrame([(200, 0, 999.0)], "k long, g long, v double")
        )
        want = {tuple(r) for r in final.selectExpr(*items).collect()}
        got = {tuple(r) for r in mv.read().collect()}
        assert got == want

    def test_cold_partitions_stay_silent(self, spark, tmp_path):
        from tiflink_spark.mv import IncrementalWindowMV

        fact = spark.createDataFrame(
            [(k, k % 10, float(k)) for k in range(100)], "k long, g long, v double"
        )
        mv = IncrementalWindowMV(
            spark,
            fact=fact,
            fact_pk=["k"],
            group_key="g",
            select_items=["k", "g", "rank() OVER (PARTITION BY g ORDER BY v) AS r"],
            stores=StoreSet(spark, str(tmp_path / "w_cold"), 2),
            shuffle_partitions=2,
            skew_warn_rows=30,
        )
        mv.bootstrap()
        ch = spark.createDataFrame(
            [(300, 3, 5.0, OP_INSERT, 0)],
            f"k long, g long, v double, {OP_COL} string, {SEQ_COL} long",
        )
        mv.refresh(ch, batch_id=1)
        assert mv.last_skew_warning is None


class TestWindowDomainStrategy:
    """The skew-proof two-pass plan for peer-uniform window functions:
    groupBy(g, o) pre-aggregate (hash-distributed over the pair — a
    hot g cannot pin one task) -> window over the DOMAIN rows (sort
    cost = distinct order values, not row count) -> null-safe join
    back. Must equal Spark's own window semantics exactly."""

    ITEMS = [
        "k",
        "g",
        "v",
        "rank() OVER (PARTITION BY g ORDER BY v) AS rnk",
        "dense_rank() OVER (PARTITION BY g ORDER BY v) AS drnk",
        "sum(v) OVER (PARTITION BY g ORDER BY v) AS rs",
        "count(*) OVER (PARTITION BY g ORDER BY v) AS rc",
        "avg(v) OVER (PARTITION BY g ORDER BY v) AS ra",
    ]

    def _canon(self, df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    def test_converges_under_churn_with_nulls(self, spark, tmp_path):
        import random

        from tiflink_spark.mv import IncrementalWindowMV

        rng = random.Random(7)
        state = {
            k: (rng.choice([None, 0, 1, 2]), rng.choice([None, float(rng.randrange(8))]))
            for k in range(60)
        }
        df = spark.createDataFrame(
            [(k, g, v) for k, (g, v) in state.items()], "k long, g int, v double"
        )
        mv = IncrementalWindowMV(
            spark,
            fact=df,
            fact_pk=["k"],
            group_key="g",
            select_items=self.ITEMS,
            stores=StoreSet(spark, str(tmp_path / "wdom"), 2),
            shuffle_partitions=4,
            strategy="domain",
        )
        mv.bootstrap()
        for i in range(1, 4):
            rows = []
            for seq in range(10):
                k = rng.randrange(80)
                op = rng.choice([OP_INSERT, OP_UPDATE, OP_DELETE])
                if op == OP_DELETE:
                    rows.append((k, None, None, OP_DELETE, seq))
                    state.pop(k, None)
                else:
                    g = rng.choice([None, 0, 1, 2])
                    v = rng.choice([None, float(rng.randrange(8))])
                    rows.append((k, g, v, op, seq))
                    state[k] = (g, v)
            ch = spark.createDataFrame(
                rows, f"k long, g int, v double, {OP_COL} string, {SEQ_COL} long"
            )
            mv.refresh(ch, batch_id=i)
        final = spark.createDataFrame(
            [(k, g, v) for k, (g, v) in state.items()], "k long, g int, v double"
        )
        assert self._canon(mv.read()) == self._canon(final.selectExpr(*self.ITEMS))

    def test_per_row_functions_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from tiflink_spark.mv import IncrementalWindowMV

        df = spark.createDataFrame([(1, 1, 1.0)], "k long, g int, v double")
        with _pytest.raises(ValueError, match="per-row"):
            IncrementalWindowMV(
                spark,
                fact=df,
                fact_pk=["k"],
                group_key="g",
                select_items=[
                    "k",
                    "row_number() OVER (PARTITION BY g ORDER BY v, k) AS rn",
                ],
                stores=StoreSet(spark, str(tmp_path / "wrej")),
                strategy="domain",
            )


@pytest.mark.slow
def test_mvapp_window_strategy_knob(spark, tmp_path):
    """window_strategy('domain') reaches the auto-routed window MV via
    the public builder, and converges identically to the sort path."""
    from tiflink_spark.app import MVApp

    src = spark.createDataFrame(
        [(k, k % 3, float(k % 7)) for k in range(40)], "k long, g long, v double"
    )
    q = ("SELECT k, g, rank() OVER (PARTITION BY g ORDER BY v) AS rnk, "
         "sum(v) OVER (PARTITION BY g ORDER BY v) AS rs FROM wsrc")
    app = (
        MVApp.builder(spark)
        .source("wsrc", src, pk=["k"])
        .query(q)
        .target(str(tmp_path / "wknob"))
        .window_strategy("domain")
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalWindowMV"
    assert app._mv.strategy == "domain"
    app.bootstrap()
    ch = spark.createDataFrame(
        [(100, 1, 3.5, OP_INSERT, 0)],
        f"k long, g long, v double, {OP_COL} string, {SEQ_COL} long",
    )
    app.refresh({"wsrc": ch}, batch_id=1)
    final = src.unionByName(
        spark.createDataFrame([(100, 1, 3.5)], "k long, g long, v double")
    )
    final.createOrReplaceTempView("wsrc_f")
    exp = {tuple(r) for r in spark.sql(q.replace("FROM wsrc", "FROM wsrc_f")).collect()}
    got = {tuple(r) for r in app.read().collect()}
    assert got == exp


def test_window_composite_partition_converges(spark, tmp_path):
    """PARTITION BY two columns: the dirty-group domain is the key
    TUPLE (null-safe on every column), and only touched (g1, g2)
    partitions recompute. Includes a NULL partition value and a
    partition-moving update."""
    from tiflink_spark.app import MVApp

    fact = spark.createDataFrame(
        [(1, 10, "a", 5.0), (2, 10, "a", 3.0), (3, 10, "b", 2.0),
         (4, None, "a", 7.0), (5, 20, "a", 1.0), (6, 20, "b", 9.0)],
        "id long, g1 int, g2 string, v double",
    )
    q = (
        "SELECT id, g1, g2, v, "
        "sum(v) OVER (PARTITION BY g1, g2 ORDER BY v) AS rs, "
        "row_number() OVER (PARTITION BY g1, g2 ORDER BY v DESC, id) AS rn "
        "FROM f_cw"
    )
    app = (
        MVApp.builder(spark)
        .source("f_cw", fact, pk=["id"])
        .query(q)
        .target(str(tmp_path / "cw"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalWindowMV"
    app.bootstrap()

    def check(fact_now):
        fact_now.createOrReplaceTempView("f_cw_now")
        exp = {tuple(r) for r in spark.sql(q.replace("FROM f_cw", "FROM f_cw_now")).collect()}
        got = {tuple(r) for r in app.read().collect()}
        assert got == exp

    check(fact)
    # move row 2 across partitions (10,a)->(20,b), insert into the NULL
    # partition, delete row 5; replay for idempotence
    b1 = spark.createDataFrame(
        [(2, 20, "b", 3.0, "+U", 0), (7, None, "a", 4.0, "+I", 1),
         (5, None, None, None, "-D", 2)],
        "id long, g1 int, g2 string, v double, __op string, __seq long",
    )
    app.refresh({"f_cw": b1}, batch_id=1)
    fact1 = spark.createDataFrame(
        [(1, 10, "a", 5.0), (2, 20, "b", 3.0), (3, 10, "b", 2.0),
         (4, None, "a", 7.0), (6, 20, "b", 9.0), (7, None, "a", 4.0)],
        "id long, g1 int, g2 string, v double",
    )
    check(fact1)
    assert app.refresh({"f_cw": b1}, batch_id=1) is False
    check(fact1)


def test_exists_composite_key_converges(spark, tmp_path):
    """EXISTS correlated on TWO columns (composite-key existence):
    presence is the (k1, k2) tuple — a row matching on only one column
    is NOT present — and other-side churn re-evaluates exactly the
    fact rows holding a dirty tuple."""
    from tiflink_spark.app import MVApp

    fact = spark.createDataFrame(
        [(1, 10, "x"), (2, 10, "y"), (3, 20, "x"), (4, None, "x"), (5, 30, "z")],
        "id long, a long, b string",
    )
    other = spark.createDataFrame(
        [(100, 10, "x"), (101, 20, "y")], "ok long, k1 long, k2 string"
    )
    q = (
        "SELECT id, a, b FROM f_ce WHERE EXISTS "
        "(SELECT 1 FROM o_ce WHERE o_ce.k1 = f_ce.a AND o_ce.k2 = f_ce.b)"
    )
    app = (
        MVApp.builder(spark)
        .source("f_ce", fact, pk=["id"])
        .source("o_ce", other, pk=["ok"])
        .query(q)
        .target(str(tmp_path / "ce"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalSemiJoinMV"
    app.bootstrap()

    def ids():
        return sorted(r.id for r in app.read().collect())

    # only (10, x) matches: row 1 (row 2 is (10, y), row 3 is (20, x))
    assert ids() == [1]
    # other gains (20, x): row 3 enters
    b1 = spark.createDataFrame([(102, 20, "x")], "ok long, k1 long, k2 string").withColumn(
        OP_COL, F.lit(OP_INSERT)
    ).withColumn(SEQ_COL, F.lit(0))
    app.refresh({"o_ce": b1}, batch_id=1)
    assert ids() == [1, 3]
    # the (10, x) row's k2 moves to 'y': row 1 leaves, row 2 enters
    b2 = spark.createDataFrame([(100, 10, "y")], "ok long, k1 long, k2 string").withColumn(
        OP_COL, F.lit(OP_UPDATE)
    ).withColumn(SEQ_COL, F.lit(0))
    app.refresh({"o_ce": b2}, batch_id=2)
    assert ids() == [2, 3]
    app.refresh({"o_ce": b2}, batch_id=2)  # crash replay: no-op
    assert ids() == [2, 3]
    # fact-side: NULL-in-tuple never matches; a new matching row enters
    b3 = spark.createDataFrame(
        [(6, 20, "x", "+I", 0), (7, None, "y", "+I", 1)],
        "id long, a long, b string, __op string, __seq long",
    )
    app.refresh({"f_ce": b3}, batch_id=3)
    assert ids() == [2, 3, 6]
