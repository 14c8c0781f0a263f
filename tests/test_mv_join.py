"""IncrementalJoinMV: two-sided random changelogs converge to the
batch join after every micro-batch."""

import random

from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.mv import IncrementalJoinMV
from tiflink_spark.store import StoreSet

import pytest

N_L, N_R, N_K = 40, 12, 8


def _chg(df, op):
    return df.withColumn(OP_COL, F.lit(op)).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )


def _rand_changes(rng, side):
    rows = []
    for seq in range(15):
        if side == "l":
            pk = rng.randrange(N_L)
            op = rng.choice([OP_INSERT, OP_UPDATE, OP_DELETE])
            if op == OP_DELETE:
                rows.append((pk, None, None, OP_DELETE, seq))
            else:
                rows.append((pk, rng.randrange(N_K), float(rng.randrange(100)), op, seq))
        else:
            pk = rng.randrange(N_R)
            op = rng.choice([OP_UPDATE, OP_UPDATE, OP_DELETE])
            if op == OP_DELETE:
                rows.append((pk, None, OP_DELETE, seq))
            else:
                rows.append((pk, f"name{rng.randrange(50)}", op, seq))
    return rows


@pytest.mark.slow
def test_join_mv_converges_on_two_sided_changelogs(spark, tmp_path):
    rng = random.Random(4242)
    left0 = spark.createDataFrame(
        [(i, i % N_K, float(i)) for i in range(0, N_L, 2)], "lid int, k int, v double"
    )
    right0 = spark.createDataFrame(
        [(i, f"name{i}") for i in range(0, N_R, 2)], "k int, name string"
    )
    # right is keyed BY the join key here (dim-like); pk == join key.
    mv = IncrementalJoinMV(
        spark,
        left=left0,
        left_pk=["lid"],
        right=right0,
        right_pk=["k"],
        join_key="k",
        out_cols=["lid", "k", "v", "name"],
        stores=StoreSet(spark, str(tmp_path / "jmv"), 4),
    )
    mv.bootstrap()

    for i in range(1, 4):
        lc = spark.createDataFrame(
            _rand_changes(rng, "l"), f"lid int, k int, v double, {OP_COL} string, {SEQ_COL} long"
        )
        rc = spark.createDataFrame(
            _rand_changes(rng, "r"), f"k int, name string, {OP_COL} string, {SEQ_COL} long"
        )
        mv.refresh(lc, rc, batch_id=i)
        expected = {
            (r.lid, r.k, r.v, r.name)
            for r in mv.left_store.read()
            .join(mv.right_store.read(), "k")
            .select("lid", "k", "v", "name")
            .collect()
        }
        got = {(r.lid, r.k, r.v, r.name) for r in mv.read().collect()}
        assert got == expected, f"join MV diverged after batch {i}"

    # replay idempotence
    snapshot = {tuple(r) for r in mv.read().collect()}
    assert mv.refresh(lc, rc, batch_id=3) is False
    assert {tuple(r) for r in mv.read().collect()} == snapshot


class TestThetaJoinMV:
    """Non-equi (interval/theta) join maintenance: dirty-PK recompute
    over both post-merge states, per-batch dirty side broadcast."""

    def test_matcher_envelope(self):
        from tiflink_spark.planner import match_theta_join_shape

        cols = {
            "ev": ["eid", "val"],
            "bands": ["bid", "lo", "hi", "label"],
        }
        pks = {"ev": ["eid"], "bands": ["bid"]}
        s = match_theta_join_shape(
            "SELECT eid, val, bid, label FROM ev JOIN bands "
            "ON val >= lo AND val < hi",
            set(cols), cols, pks,
        )
        assert s is not None and (s.left, s.right) == ("ev", "bands")
        assert s.predicate == "val >= lo AND val < hi"
        # WHERE folds into the predicate
        s2 = match_theta_join_shape(
            "SELECT eid, val, bid, label FROM ev e JOIN bands b "
            "ON e.val BETWEEN b.lo AND b.hi WHERE b.label <> 'X'",
            set(cols), cols, pks,
        )
        assert s2 is not None and "AND (label <> 'X')" in s2.predicate
        # rejects: missing PK in select, shared column names, no PKs,
        # subquery predicate, third table in ON
        assert match_theta_join_shape(
            "SELECT val, bid FROM ev JOIN bands ON val >= lo",
            set(cols), cols, pks,
        ) is None
        shared = {"ev": ["eid", "v"], "bands": ["bid", "v"]}
        assert match_theta_join_shape(
            "SELECT eid, bid FROM ev JOIN bands ON ev.v >= bands.v",
            set(shared), shared, pks,
        ) is None
        assert match_theta_join_shape(
            "SELECT eid, val, bid, label FROM ev JOIN bands "
            "ON val >= (SELECT min(lo) FROM bands)",
            set(cols), cols, pks,
        ) is None
        assert match_theta_join_shape(
            "SELECT eid, val, bid, label FROM ev JOIN bands "
            "ON val >= lo JOIN other ON 1 = 1",
            set(cols), cols, pks,
        ) is None

    def test_converges_under_two_sided_churn(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        ev = spark.createDataFrame(
            [(i, float(i % 40)) for i in range(50)], "eid long, val double"
        )
        bands = spark.createDataFrame(
            [(1, 0.0, 12.0, "low"), (2, 10.0, 26.0, "mid"), (3, 24.0, 40.0, "high")],
            "bid long, lo double, hi double, label string",
        )
        app = (
            MVApp.builder(spark)
            .source("tev", ev, pk=["eid"])
            .source("tbands", bands, pk=["bid"])
            .query(
                "SELECT eid, val, bid, label FROM tev JOIN tbands "
                "ON val >= lo AND val < hi"
            )
            .target(str(tmp_path / "theta"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalThetaJoinMV"
        assert app.mv_pk == ["eid", "bid"]
        app.bootstrap()
        # value moves across bands; band deleted; band range shrinks;
        # event inserted; replay
        u = (
            ev.filter("eid % 10 = 0")
            .withColumn("val", F.col("val") + 15.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"tev": u}, batch_id=1)
        bd = (
            bands.filter("bid = 2")
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"tbands": bd}, batch_id=2)
        ins = (
            spark.createDataFrame([(100, 5.0), (101, 33.0)], "eid long, val double")
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"tev": ins}, batch_id=3)
        app.refresh({"tev": ins}, batch_id=3)  # replay

        fe = ev.withColumn(
            "val",
            F.when(F.col("eid") % 10 == 0, F.col("val") + 15.0).otherwise(F.col("val")),
        ).unionByName(
            spark.createDataFrame([(100, 5.0), (101, 33.0)], "eid long, val double")
        )
        fb = bands.filter("bid != 2")
        exp = {
            (r.eid, r.val, r.bid, r.label)
            for r in fe.join(
                F.broadcast(fb), on=F.expr("val >= lo AND val < hi")
            ).select("eid", "val", "bid", "label").collect()
        }
        got = {(r.eid, r.val, r.bid, r.label) for r in app.read().collect()}
        assert got == exp


def test_comma_spelled_interval_join_routes_to_theta(spark, tmp_path):
    """The comma spelling of an interval join — ``FROM ev, bands WHERE
    val >= lo AND val < hi`` — normalizes to the ON form and routes to
    IncrementalThetaJoinMV."""
    from tiflink_spark.app import MVApp

    ev = spark.createDataFrame(
        [(i, float(i % 30)) for i in range(30)], "eid long, val double"
    )
    bands = spark.createDataFrame(
        [(1, 0.0, 15.0, "a"), (2, 15.0, 30.0, "b")],
        "bid long, lo double, hi double, label string",
    )
    app = (
        MVApp.builder(spark)
        .source("cev", ev, pk=["eid"])
        .source("cbands", bands, pk=["bid"])
        .query(
            "SELECT eid, val, bid, label FROM cev, cbands "
            "WHERE val >= lo AND val < hi"
        )
        .target(str(tmp_path / "ctheta"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalThetaJoinMV"
    app.bootstrap()
    d = (
        ev.filter("eid % 3 = 0")
        .withColumn(OP_COL, F.lit(OP_DELETE))
        .withColumn(SEQ_COL, F.monotonically_increasing_id())
    )
    app.refresh({"cev": d}, batch_id=1)
    fe = ev.filter("eid % 3 != 0")
    exp = {
        (r.eid, r.bid)
        for r in fe.join(F.broadcast(bands), on=F.expr("val >= lo AND val < hi"))
        .select("eid", "bid")
        .collect()
    }
    got = {(r.eid, r.bid) for r in app.read().collect()}
    assert got == exp


class TestFullOuterJoinMV:
    """FULL OUTER equi-join view: both sides preserved, a side's
    arrival retracts the other's NULL-extended row (VERDICT r4 #6)."""

    Q = """SELECT o_id, o_fk, o_val, c_id, c_name
           FROM ords FULL OUTER JOIN custs ON o_fk = c_id"""

    def _sources(self, spark):
        ords = spark.createDataFrame(
            [(1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, None, "d")],
            "o_id int, o_fk int, o_val string",
        )
        custs = spark.createDataFrame(
            [(10, "ten"), (30, "thirty")], "c_id int, c_name string"
        )
        return ords, custs

    def test_matcher(self, spark):
        from tiflink_spark.planner import match_full_outer_shape

        cols = {
            "ords": ["o_id", "o_fk", "o_val"],
            "custs": ["c_id", "c_name"],
        }
        pks = {"ords": ["o_id"], "custs": ["c_id"]}
        s = match_full_outer_shape(self.Q, {"ords", "custs"}, cols, pks)
        assert s is not None
        assert (s.fact, s.dim, s.fact_fks, s.dim_keys) == (
            "ords", "custs", ("o_fk",), ("c_id",)
        )
        # row-local WHERE over the OUTPUT routes (round 7: the
        # stateless target-side filter) and is carried on the shape
        sw = match_full_outer_shape(
            self.Q + " WHERE o_val = 'a'", {"ords", "custs"}, cols, pks
        )
        assert sw is not None and sw.where == "o_val = 'a'"
        # ...but a predicate off the select list still refuses
        assert (
            match_full_outer_shape(
                self.Q.replace(", o_val", "") + " WHERE o_val = 'a'",
                {"ords", "custs"},
                cols,
                pks,
            )
            is None
        )
        # ...as does a non-deterministic one
        assert (
            match_full_outer_shape(
                self.Q + " WHERE rand() < 0.5", {"ords", "custs"}, cols, pks
            )
            is None
        )
        # select list missing the dim key -> no route
        q2 = """SELECT o_id, o_fk, o_val, c_name
                FROM ords FULL OUTER JOIN custs ON o_fk = c_id"""
        assert match_full_outer_shape(q2, {"ords", "custs"}, cols, pks) is None

    def _expected(self, spark, ords, custs):
        ords.createOrReplaceTempView("ords_exp")
        custs.createOrReplaceTempView("custs_exp")
        return spark.sql(self.Q.replace("ords", "ords_exp").replace("custs", "custs_exp"))

    def _check(self, app, spark, ords, custs):
        got = app.read()
        exp = self._expected(spark, ords, custs)
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    @pytest.mark.slow
    def test_converges_two_sided_churn(self, spark, tmp_path):
        from tiflink_spark.app import MVApp

        ords, custs = self._sources(spark)
        app = (
            MVApp.builder(spark)
            .source("ords", ords, pk=["o_id"])
            .source("custs", custs, pk=["c_id"])
            .query(self.Q)
            .target(str(tmp_path / "fo"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalFullOuterJoinMV"
        assert app.pk_is_unique is False
        app.bootstrap()
        self._check(app, spark, ords, custs)

        # 1. dim arrival for key 20: c-only row joins, d-side NULL row
        #    for 20's fact rows un-NULLs... and cust 30 stays dim-only
        c_ins = spark.createDataFrame([(20, "twenty")], "c_id int, c_name string")
        app.refresh({"custs": _chg(c_ins, OP_INSERT)}, batch_id=1)
        custs1 = custs.unionByName(c_ins)
        self._check(app, spark, ords, custs1)

        # 2. fact arrival referencing dim-only key 30: retracts d:30
        o_ins = spark.createDataFrame([(5, 30, "e")], "o_id int, o_fk int, o_val string")
        app.refresh({"ords": _chg(o_ins, OP_INSERT)}, batch_id=2)
        ords2 = ords.unionByName(o_ins)
        self._check(app, spark, ords2, custs1)

        # 3. last fact row on key 20 moves to 10: d:20 must REAPPEAR
        o_mv = spark.createDataFrame([(3, 10, "c")], "o_id int, o_fk int, o_val string")
        app.refresh({"ords": _chg(o_mv, OP_UPDATE)}, batch_id=3)
        from pyspark.sql import functions as F
        ords3 = ords2.withColumn(
            "o_fk", F.when(F.col("o_id") == 3, 10).otherwise(F.col("o_fk"))
        )
        self._check(app, spark, ords3, custs1)

        # 4. dim delete 10: its matched fact rows re-NULL, both sides churn
        c_del = spark.createDataFrame([(10, "ten")], "c_id int, c_name string")
        o_del = spark.createDataFrame([(4, None, "d")], "o_id int, o_fk int, o_val string")
        app.refresh(
            {"custs": _chg(c_del, OP_DELETE), "ords": _chg(o_del, OP_DELETE)},
            batch_id=4,
        )
        ords4 = ords3.filter(F.col("o_id") != 4)
        custs4 = custs1.filter(F.col("c_id") != 10)
        self._check(app, spark, ords4, custs4)

        # 5. crash replay of batch 4: no-op
        app.refresh(
            {"custs": _chg(c_del, OP_DELETE), "ords": _chg(o_del, OP_DELETE)},
            batch_id=4,
        )
        self._check(app, spark, ords4, custs4)


class TestFullOuterWhereMV:
    """FULL OUTER + row-local WHERE (round 7): SQL's WHERE runs after
    the join, so the route filters each recomputed slice before the
    diff — rows flip in/out of the view as churn moves them across the
    predicate, on both preserved sides, including via NULL-extension
    (a dim delete re-NULLs c_id, flipping its fact rows w.r.t. a
    predicate over c_id)."""

    Q = """SELECT o_id, o_fk, o_amt, c_id, c_name
           FROM ords FULL OUTER JOIN custs ON o_fk = c_id
           WHERE coalesce(o_amt, 100) >= 50 AND coalesce(c_id, 99) <> 30"""

    def _sources(self, spark):
        ords = spark.createDataFrame(
            [(1, 10, 80), (2, 10, 20), (3, 20, 60), (4, 30, 70), (5, None, 55)],
            "o_id int, o_fk int, o_amt int",
        )
        custs = spark.createDataFrame(
            [(10, "ten"), (30, "thirty"), (40, "forty")],
            "c_id int, c_name string",
        )
        return ords, custs

    def _check(self, app, spark, ords, custs):
        ords.createOrReplaceTempView("ords_exp")
        custs.createOrReplaceTempView("custs_exp")
        exp = spark.sql(
            self.Q.replace("ords", "ords_exp").replace("custs", "custs_exp")
        )
        got = app.read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    @pytest.mark.slow
    def test_converges_predicate_flips_both_sides(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from tiflink_spark.app import MVApp

        ords, custs = self._sources(spark)
        app = (
            MVApp.builder(spark)
            .source("ords", ords, pk=["o_id"])
            .source("custs", custs, pk=["c_id"])
            .query(self.Q)
            .target(str(tmp_path / "fow"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalFullOuterJoinMV"
        app.bootstrap()
        # bootstrap already exercises every predicate arm: o2 fails the
        # amount bar, o4 fails via its matched c_id=30, dim-only c:40
        # passes both coalesces
        self._check(app, spark, ords, custs)

        # 1. amount-flip updates: o2 climbs over the bar, o1 drops under
        o_upd = spark.createDataFrame(
            [(1, 10, 10), (2, 10, 90)], "o_id int, o_fk int, o_amt int"
        )
        app.refresh({"ords": _chg(o_upd, OP_UPDATE)}, batch_id=1)
        amt = F.when(F.col("o_id") == 1, 10).when(F.col("o_id") == 2, 90)
        ords1 = ords.withColumn("o_amt", F.coalesce(amt, F.col("o_amt")))
        self._check(app, spark, ords1, custs)

        # 2. dim delete 30: o4 re-NULLs and flips INTO the view
        #    (coalesce(c_id,99)<>30 now passes); d:30 itself was never
        #    in the view and must not reappear
        c_del = spark.createDataFrame([(30, "thirty")], "c_id int, c_name string")
        app.refresh({"custs": _chg(c_del, OP_DELETE)}, batch_id=2)
        custs2 = custs.filter(F.col("c_id") != 30)
        self._check(app, spark, ords1, custs2)

        # 3. last fact row on 20 leaves: d:20... there is no cust 20, so
        #    nothing; but cust 10 losing BOTH facts leaves a passing
        #    dim-only row. Delete o1+o2 (both on 10).
        o_del = spark.createDataFrame(
            [(1, 10, 10), (2, 10, 90)], "o_id int, o_fk int, o_amt int"
        )
        app.refresh({"ords": _chg(o_del, OP_DELETE)}, batch_id=3)
        ords3 = ords1.filter(~F.col("o_id").isin(1, 2))
        self._check(app, spark, ords3, custs2)

        # 4. crash replay: no-op
        app.refresh({"ords": _chg(o_del, OP_DELETE)}, batch_id=3)
        self._check(app, spark, ords3, custs2)


class TestFullOuterCompositeKeyMV:
    """FULL OUTER against a COMPOSITE-PK dim: the ON is a conjunction
    of equalities covering the dim's full declared key (VERDICT r5 #5).
    WHERE remains an explicit refusal — a post-join filter silently
    drops preserved NULL-extended rows."""

    Q = """SELECT o_id, o_hi, o_lo, o_val, c_hi, c_lo, c_name
           FROM ords FULL OUTER JOIN custs
             ON o_hi = c_hi AND o_lo = c_lo"""

    COLS = {
        "ords": ["o_id", "o_hi", "o_lo", "o_val"],
        "custs": ["c_hi", "c_lo", "c_name"],
    }
    PKS = {"ords": ["o_id"], "custs": ["c_hi", "c_lo"]}

    def test_matcher(self, spark):
        from tiflink_spark.planner import match_full_outer_shape

        s = match_full_outer_shape(self.Q, {"ords", "custs"}, self.COLS, self.PKS)
        assert s is not None
        assert (s.fact, s.dim) == ("ords", "custs")
        assert (s.fact_fks, s.dim_keys) == (("o_hi", "o_lo"), ("c_hi", "c_lo"))
        # PARTIAL dim key (only one of two PK columns) -> no route
        q_partial = """SELECT o_id, o_hi, o_val, c_hi, c_name
                       FROM ords FULL OUTER JOIN custs ON o_hi = c_hi"""
        assert (
            match_full_outer_shape(q_partial, {"ords", "custs"}, self.COLS, self.PKS)
            is None
        )
        # row-local WHERE over the output routes (round 7)
        sw = match_full_outer_shape(
            self.Q + " WHERE o_val = 'a'", {"ords", "custs"}, self.COLS, self.PKS
        )
        assert sw is not None and sw.where == "o_val = 'a'"
        # non-equality conjunct -> no route
        q_theta = self.Q.replace("AND o_lo = c_lo", "AND o_lo < c_lo")
        assert (
            match_full_outer_shape(q_theta, {"ords", "custs"}, self.COLS, self.PKS)
            is None
        )

    @pytest.mark.slow
    def test_converges_two_sided_churn(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from tiflink_spark.app import MVApp

        ords = spark.createDataFrame(
            [(1, 1, 0, "a"), (2, 1, 0, "b"), (3, 2, 0, "c"), (4, None, 0, "d")],
            "o_id int, o_hi int, o_lo int, o_val string",
        )
        custs = spark.createDataFrame(
            [(1, 0, "ten"), (3, 0, "thirty")], "c_hi int, c_lo int, c_name string"
        )
        app = (
            MVApp.builder(spark)
            .source("ords", ords, pk=["o_id"])
            .source("custs", custs, pk=["c_hi", "c_lo"])
            .query(self.Q)
            .target(str(tmp_path / "foc"))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalFullOuterJoinMV"
        app.bootstrap()

        def check(ords_now, custs_now):
            ords_now.createOrReplaceTempView("ords_e")
            custs_now.createOrReplaceTempView("custs_e")
            exp = spark.sql(
                self.Q.replace("ords", "ords_e").replace("custs", "custs_e")
            )
            got = app.read()
            assert got.exceptAll(exp).count() == 0
            assert exp.exceptAll(got).count() == 0

        check(ords, custs)
        # dim arrival on (2,0): fact row 3 un-NULLs; (3,0) stays dim-only
        c_ins = spark.createDataFrame([(2, 0, "twenty")], "c_hi int, c_lo int, c_name string")
        app.refresh({"custs": _chg(c_ins, OP_INSERT)}, batch_id=1)
        custs1 = custs.unionByName(c_ins)
        check(ords, custs1)
        # fact arrival referencing dim-only (3,0): retracts d:(3,0)
        o_ins = spark.createDataFrame([(5, 3, 0, "e")], "o_id int, o_hi int, o_lo int, o_val string")
        app.refresh({"ords": _chg(o_ins, OP_INSERT)}, batch_id=2)
        ords2 = ords.unionByName(o_ins)
        check(ords2, custs1)
        # last fact row on (2,0) moves to (1,0): d:(2,0) must reappear
        o_mv = spark.createDataFrame([(3, 1, 0, "c")], "o_id int, o_hi int, o_lo int, o_val string")
        app.refresh({"ords": _chg(o_mv, OP_UPDATE)}, batch_id=3)
        ords3 = ords2.withColumn(
            "o_hi", F.when(F.col("o_id") == 3, 1).otherwise(F.col("o_hi"))
        )
        check(ords3, custs1)
        # dim delete (1,0) + fact delete of the NULL-fk row, then replay
        c_del = spark.createDataFrame([(1, 0, "ten")], "c_hi int, c_lo int, c_name string")
        o_del = spark.createDataFrame([(4, None, 0, "d")], "o_id int, o_hi int, o_lo int, o_val string")
        app.refresh(
            {"custs": _chg(c_del, OP_DELETE), "ords": _chg(o_del, OP_DELETE)},
            batch_id=4,
        )
        ords4 = ords3.filter(F.col("o_id") != 4)
        custs4 = custs1.filter(~((F.col("c_hi") == 1) & (F.col("c_lo") == 0)))
        check(ords4, custs4)
        app.refresh(
            {"custs": _chg(c_del, OP_DELETE), "ords": _chg(o_del, OP_DELETE)},
            batch_id=4,
        )
        check(ords4, custs4)


def test_cascade_over_full_outer_inner(spark, tmp_path):
    """Nested aggregate over a FULL OUTER join view routes as
    CascadeMV: the bag view's true key is the synthetic row identity
    (__rowid), which cascade_relation exposes — the same hidden-carrier
    contract as UNION ALL and grouping-sets inners. Dim-only rows
    appearing/retracting flow through the outer aggregate."""
    from pyspark.sql import functions as F
    from tiflink_spark.app import MVApp
    from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, SEQ_COL

    ords = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, None, "d")],
        "o_id int, o_fk int, o_val string",
    )
    custs = spark.createDataFrame([(10, "ten"), (30, "thirty")], "c_id int, c_name string")
    q = """SELECT coalesce(c_name, '(none)') AS nm, count(*) AS n FROM (
             SELECT o_id, o_fk, o_val, c_id, c_name
             FROM ords FULL OUTER JOIN custs ON o_fk = c_id
           ) j GROUP BY coalesce(c_name, '(none)')"""
    app = (
        MVApp.builder(spark)
        .source("ords", ords, pk=["o_id"])
        .source("custs", custs, pk=["c_id"])
        .query(q)
        .target(str(tmp_path / "focasc"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "CascadeMV"
    assert app._mv.inner.maintenance_strategy == "IncrementalFullOuterJoinMV"
    app.bootstrap()

    def check(o, c):
        o.createOrReplaceTempView("ords_e")
        c.createOrReplaceTempView("custs_e")
        exp = sorted(
            tuple(r)
            for r in spark.sql(
                q.replace("ords", "ords_e").replace("custs", "custs_e")
            ).collect()
        )
        assert sorted(tuple(r) for r in app.read().collect()) == exp

    check(ords, custs)
    # cust 30 gains its first order: its dim-only row (identity d:30)
    # retracts and a matched row (identity f:5) takes its place in the
    # 'thirty' bucket — same count, different underlying identity, so
    # this exercises the -D/+I pair flowing through the outer state
    b1 = spark.createDataFrame([(5, 30, "e")], "o_id int, o_fk int, o_val string").withColumn(
        OP_COL, F.lit(OP_INSERT)
    ).withColumn(SEQ_COL, F.lit(0))
    app.refresh({"ords": b1}, batch_id=1)
    o2 = ords.unionByName(
        spark.createDataFrame([(5, 30, "e")], "o_id int, o_fk int, o_val string")
    )
    check(o2, custs)
    # cust 10 deleted: its two matched rows re-NULL into '(none)'
    b2 = spark.createDataFrame([(10, "ten")], "c_id int, c_name string").withColumn(
        OP_COL, F.lit(OP_DELETE)
    ).withColumn(SEQ_COL, F.lit(0))
    app.refresh({"custs": b2}, batch_id=2)
    c2 = custs.filter("c_id != 10")
    check(o2, c2)
    assert app.refresh({"custs": b2}, batch_id=2) is False
    check(o2, c2)
