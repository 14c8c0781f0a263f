"""The engine's core property (SURVEY §5.3/§5.4): for randomized
changelog permutations, the incrementally-maintained MV converges to
the batch recompute after every batch, and replaying any batch
(crash-recovery redelivery) changes nothing.

Mirrors what the reference's consistency machinery guarantees
(README.md:18-22; roll-forward recovery FlinkTikvProducer.java:211-230).
"""

import random

import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.incremental import Measure
from tiflink_spark.mv import IncrementalAggMV
from tiflink_spark.store import StoreSet

N_KEYS = 60
N_GROUPS = 7


def _random_batches(rng: random.Random, n_batches: int = 4, per_batch: int = 25):
    """Random insert/update/delete scripts over integer keys, tracking
    the expected final table state in plain Python."""
    state: dict[int, tuple[int, float]] = {}
    batches = []
    for _ in range(n_batches):
        rows = []
        for seq in range(per_batch):
            k = rng.randrange(N_KEYS)
            op = rng.choice([OP_INSERT, OP_UPDATE, OP_UPDATE, OP_DELETE])
            g = rng.randrange(N_GROUPS)
            v = round(rng.uniform(0, 100), 2)
            if op == OP_DELETE:
                rows.append((k, None, None, OP_DELETE, seq))
            else:
                rows.append((k, g, v, op, seq))
        batches.append(rows)
        for k, g, v, op, _seq in rows:
            if op == OP_DELETE:
                state.pop(k, None)
            else:
                state[k] = (g, v)
    return batches, state


def _expected_mv(state):
    groups: dict[int, list[float]] = {}
    for _k, (g, v) in state.items():
        groups.setdefault(g, []).append(v)
    return {
        g: (len(vs), round(sum(vs), 2), min(vs), max(vs)) for g, vs in groups.items()
    }


@pytest.mark.parametrize(
    "seed",
    [7, pytest.param(42, marks=pytest.mark.slow),
     pytest.param(1234, marks=pytest.mark.slow)],
)
def test_incremental_equals_batch_on_random_changelogs(spark, tmp_path, seed):
    rng = random.Random(seed)
    batches, final_state = _random_batches(rng)

    fact0 = spark.createDataFrame(
        [(k, k % N_GROUPS, float(k)) for k in range(0, N_KEYS, 3)],
        "k int, g int, v double",
    )
    # replay bootstrap rows through the tracker too
    tracked = {k: (k % N_GROUPS, float(k)) for k in range(0, N_KEYS, 3)}
    for rows in batches:
        for k, g, v, op, _seq in rows:
            if op == OP_DELETE:
                tracked.pop(k, None)
            else:
                tracked[k] = (g, v)

    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[
            Measure("count", None, "n"),
            Measure("sum", "v", "sv"),
            Measure("min", "v", "mn"),
            Measure("max", "v", "mx"),
            Measure("count_distinct", "v", "nd"),
        ],
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
    )
    mv.bootstrap()

    for i, rows in enumerate(batches, start=1):
        changes = spark.createDataFrame(
            rows, f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"
        )
        mv.refresh(changes, batch_id=i)
        # after EVERY batch: MV == batch recompute over the live fact state
        fact_now = mv.fact_store.read()
        expected = {
            (r.g, r.n, round(r.sv, 2), r.mn, r.mx, r.nd)
            for r in fact_now.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sv"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
                F.count_distinct("v").alias("nd"),
            )
            .collect()
        }
        got = {(r.g, r.n, round(r.sv, 2), r.mn, r.mx, r.nd) for r in mv.read().collect()}
        assert got == expected, f"divergence after batch {i} (seed {seed})"

    # and the final fact state matches the python tracker
    got_state = {(r.k, r.g, r.v) for r in mv.fact_store.read().collect()}
    assert got_state == {(k, g, v) for k, (g, v) in tracked.items()}


def test_replaying_a_batch_is_idempotent(spark, tmp_path):
    rng = random.Random(99)
    batches, _ = _random_batches(rng, n_batches=2)
    fact0 = spark.createDataFrame([(k, 0, 1.0) for k in range(5)], "k int, g int, v double")
    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[Measure("count", None, "n")],
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
    )
    mv.bootstrap()
    dfs = [
        spark.createDataFrame(rows, f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long")
        for rows in batches
    ]
    mv.refresh(dfs[0], batch_id=1)
    snapshot = {(r.g, r.n) for r in mv.read().collect()}
    assert mv.refresh(dfs[0], batch_id=1) is False  # full replay
    assert {(r.g, r.n) for r in mv.read().collect()} == snapshot
    mv.refresh(dfs[1], batch_id=2)


def test_crash_between_state_and_mv_commit_recovers(spark, tmp_path):
    """Crash point: fact AND state stores committed batch 1 but the
    target did not. The replay must NOT apply the delta to the state a
    second time (state-store time travel on replay)."""
    fact0 = spark.createDataFrame(
        [(1, 0, 10.0), (2, 0, 20.0)], "k int, g int, v double"
    )
    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[Measure("count", None, "n"), Measure("sum", "v", "sv")],
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
    )
    mv.bootstrap()
    changes = spark.createDataFrame(
        [(9, 0, 5.0, OP_INSERT, 0)],
        f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long",
    )
    # "crash": fact + state saw the batch, the target did not
    mv.fact_store.merge(changes, batch_id=1)
    from tiflink_spark.incremental import aggregate_state

    state1 = aggregate_state(mv.fact_store.read(), ["g"], mv.measures)
    from tiflink_spark.changelog import OP_UPDATE as _U

    sc = state1.withColumn(OP_COL, F.lit(_U)).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )
    mv.state_store.merge(sc, batch_id=1)
    # recovery replay of the whole batch
    assert mv.refresh(changes, batch_id=1) is True
    got = {(r.g, r.n, r.sv) for r in mv.read().collect()}
    assert got == {(0, 3, 35.0)}  # NOT 4/40 (double-applied delta)


def test_sum_of_all_null_group_stays_null(spark, tmp_path):
    fact0 = spark.createDataFrame(
        [(1, 0, None), (2, 0, None), (3, 1, 7.0)], "k int, g int, v double"
    )
    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[Measure("sum", "v", "sv")],
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
    )
    mv.bootstrap()
    changes = spark.createDataFrame(
        [(4, 0, None, OP_INSERT, 0)], f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"
    )
    mv.refresh(changes, batch_id=1)
    got = {(r.g, r.sv) for r in mv.read().collect()}
    assert got == {(0, None), (1, 7.0)}  # SUM of all-NULL group is NULL, not 0


def test_dim_churn_updates_mv(spark, tmp_path):
    """Dimension inserts/renames/deletes flow into the MV (work ∝
    changed dim keys), including a batch that changes BOTH sides."""
    fact0 = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 20, 3.0)], "k int, g int, v double"
    )
    dim0 = spark.createDataFrame([(10, "ten"), (20, "twenty")], "g int, name string")
    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[Measure("count", None, "n")],
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
        dim=dim0,
        dim_key="g",
        dim_cols=["name"],
    )
    mv.bootstrap()
    assert {(r.g, r.name, r.n) for r in mv.read().collect()} == {
        (10, "ten", 2),
        (20, "twenty", 1),
    }

    # batch 1: rename dim 10, delete dim 20, insert dim 30 (no facts yet)
    dimc = spark.createDataFrame(
        [
            (10, "TEN", OP_UPDATE, 0),
            (20, None, OP_DELETE, 1),
            (30, "thirty", OP_INSERT, 2),
        ],
        f"g int, name string, {OP_COL} string, {SEQ_COL} long",
    )
    mv.refresh(None, batch_id=1, dim_changes=dimc)
    assert {(r.g, r.name, r.n) for r in mv.read().collect()} == {
        (10, "TEN", 2),
        (30, "thirty", 0),
    }

    # batch 2: BOTH sides — fact moves into group 30, dim renames 30
    factc = spark.createDataFrame(
        [(3, 30, 3.5, OP_UPDATE, 0)], f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"
    )
    dimc2 = spark.createDataFrame(
        [(30, "XXX", OP_UPDATE, 0)], f"g int, name string, {OP_COL} string, {SEQ_COL} long"
    )
    mv.refresh(factc, batch_id=2, dim_changes=dimc2)
    assert {(r.g, r.name, r.n) for r in mv.read().collect()} == {
        (10, "TEN", 2),
        (30, "XXX", 1),
    }


def test_crash_between_fact_and_mv_commit_recovers(spark, tmp_path):
    """Simulate the worst crash point: the fact store committed batch 1
    but the MV/state stores did not. A replay of refresh(batch 1) must
    still converge (time-travel to the pre-batch fact snapshot for
    retractions — reference analog: roll-forward, FlinkTikvProducer.java:211-230)."""
    fact0 = spark.createDataFrame(
        [(1, 0, 10.0), (2, 1, 20.0), (3, 0, 30.0)], "k int, g int, v double"
    )
    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[Measure("count", None, "n"), Measure("sum", "v", "sv")],
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
    )
    mv.bootstrap()
    changes = spark.createDataFrame(
        [(1, 1, 11.0, OP_UPDATE, 0), (3, None, None, OP_DELETE, 1), (9, 1, 9.0, OP_INSERT, 2)],
        f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long",
    )
    # "crash": only the fact store saw the batch
    mv.fact_store.merge(changes, batch_id=1)
    # recovery: driver replays the whole refresh for batch 1
    assert mv.refresh(changes, batch_id=1) is True
    # g0 emptied (k1 moved to g1, k3 deleted) -> its MV row is deleted.
    got = {(r.g, r.n, r.sv) for r in mv.read().collect()}
    assert got == {(1, 3, 40.0)}


@pytest.mark.parametrize(
    "seed", [pytest.param(7, marks=pytest.mark.slow), 1234]
)
def test_topk_mv_converges_on_random_changelogs(spark, tmp_path, seed):
    """Top-k is non-invertible: deletes inside the top-k must promote
    successors, group-moves must re-rank both groups, and shrunk groups
    must drop orphaned rank slots. Assert MV == batch re-rank after
    EVERY random batch."""
    from tiflink_spark.mv import IncrementalTopKMV

    K = 3
    rng = random.Random(seed)
    batches, _ = _random_batches(rng)

    fact0 = spark.createDataFrame(
        [(k, k % N_GROUPS, float(k)) for k in range(0, N_KEYS, 3)],
        "k int, g int, v double",
    )
    mv = IncrementalTopKMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        order_col="v",
        out_cols=["k", "v"],
        k=K,
        stores=StoreSet(spark, str(tmp_path / "mv"), 4),
    )
    mv.bootstrap()

    def expected_topk(state):
        out = set()
        groups: dict[int, list[tuple[float, int]]] = {}
        for k, (g, v) in state.items():
            groups.setdefault(g, []).append((v, k))
        for g, rows in groups.items():
            rows.sort(key=lambda t: (-t[0], t[1]))
            for rank, (v, k) in enumerate(rows[:K], start=1):
                out.add((g, rank, k, v))
        return out

    tracked = {k: (k % N_GROUPS, float(k)) for k in range(0, N_KEYS, 3)}
    for i, rows in enumerate(batches, start=1):
        changes = spark.createDataFrame(
            rows, f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"
        )
        mv.refresh(changes, batch_id=i)
        for k, g, v, op, _seq in rows:
            if op == OP_DELETE:
                tracked.pop(k, None)
            else:
                tracked[k] = (g, v)
        got = {(r.g, r.rank, r.k, r.v) for r in mv.read().collect()}
        assert got == expected_topk(tracked), f"divergence after batch {i} (seed {seed})"

    # replaying the last batch (crash redelivery) changes nothing
    last = spark.createDataFrame(
        batches[-1], f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"
    )
    assert mv.refresh(last, batch_id=len(batches)) is False
    got = {(r.g, r.rank, r.k, r.v) for r in mv.read().collect()}
    assert got == expected_topk(tracked)


@pytest.mark.parametrize(
    "seed", [7, pytest.param(1234, marks=pytest.mark.slow)]
)
def test_global_agg_converges_on_random_changelogs(spark, tmp_path, seed):
    """The no-GROUP-BY route (hidden constant key, keep-alive vanish
    rule): after every random batch the single MV row equals the batch
    global aggregate — including filtered (CASE-form) measures — and an
    emptying final batch leaves the zero-state row, not zero rows."""
    from tiflink_spark.mv import IncrementalAggMV

    rng = random.Random(seed)
    batches, _ = _random_batches(rng)

    fact0 = spark.createDataFrame(
        [(k, k % N_GROUPS, float(k), 0) for k in range(0, N_KEYS, 3)],
        "k int, g int, v double, __g int",
    )
    mv = IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="__g",
        measures=[
            Measure("count", None, "n"),
            Measure("sum", "v", "sv"),
            Measure("min", "v", "mn"),
            # filtered aggregate in CASE form — what the planner's
            # FILTER rewrite produces
            Measure("count", "CASE WHEN v > 50 THEN 1 END", "n_big"),
        ],
        stores=StoreSet(spark, str(tmp_path / "mv_g"), 4),
        global_group=True,
    )
    mv.bootstrap()

    for i, rows in enumerate(batches, start=1):
        changes = spark.createDataFrame(
            rows, f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"
        ).withColumn("__g", F.lit(0))
        mv.refresh(changes, batch_id=i)
        fact_now = mv.fact_store.read()
        exp = fact_now.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.min("v").alias("mn"),
            F.count(F.expr("CASE WHEN v > 50 THEN 1 END")).alias("n_big"),
        ).collect()[0]
        got = mv.read().collect()
        assert len(got) == 1, f"row count after batch {i}"
        g = got[0]
        assert g["n"] == exp["n"] and g["mn"] == exp["mn"] and g["n_big"] == exp["n_big"]
        if exp["sv"] is None:
            assert g["sv"] is None
        else:
            assert abs(g["sv"] - exp["sv"]) < 1e-9 * max(1.0, abs(exp["sv"]))

    # emptying batch: delete every live key -> one zero-state row
    live = [r.k for r in mv.fact_store.read().select("k").collect()]
    if live:
        wipe = spark.createDataFrame(
            [(k, None, None, OP_DELETE, i) for i, k in enumerate(live)],
            f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long",
        ).withColumn("__g", F.lit(0))
        mv.refresh(wipe, batch_id=99)
    final = mv.read().collect()
    assert len(final) == 1
    assert final[0]["n"] == 0 and final[0]["sv"] is None and final[0]["mn"] is None
    assert final[0]["n_big"] == 0


def test_measures_order_insensitive_gates_float_sums(spark):
    """ADVICE r9 (medium): the concurrent state∥target overlap executes
    the new-state lineage twice; float SUM/AVG/STDDEV can diverge by
    ulps between the runs (reduce combine order follows shuffle-fetch
    arrival), so those shapes must keep the serial form."""
    from tiflink_spark.incremental import measures_order_insensitive

    df = spark.createDataFrame([(1, 1.0, 2)], "k int, d double, i long")
    ok = measures_order_insensitive
    assert ok([Measure("count", None, "n")], df)
    assert ok([Measure("min", "d", "mn"), Measure("max", "d", "mx")], df)
    assert ok([Measure("median", "d", "md")], df)
    assert ok([Measure("count_distinct", "d", "nd")], df)
    assert ok([Measure("sum", "i", "s")], df)  # integral sums are exact
    assert not ok([Measure("sum", "d", "s")], df)
    assert not ok([Measure("avg", "d", "a")], df)
    assert not ok([Measure("sum_distinct", "d", "sd")], df)
    assert not ok([Measure("stddev_samp", "i", "st")], df)  # float arith
    # expression-typed: int*2 stays integral, and 1.0 is a DECIMAL
    # literal in Spark SQL (still exact) — only a genuine double cast
    # flips the gate
    assert ok([Measure("sum", "i * 2", "s2")], df)
    assert ok([Measure("sum", "i * 1.0", "s3")], df)
    assert not ok([Measure("sum", "cast(i as double)", "s4")], df)


def test_concurrent_overlap_gate_cached_on_mv(spark, tmp_path):
    fact = spark.createDataFrame([(1, 1, 1.0)], "pk long, g long, v double")
    float_mv = IncrementalAggMV(
        spark, fact=fact, fact_pk=["pk"], group_key="g",
        measures=[Measure("sum", "v", "s")], stores=StoreSet(spark, str(tmp_path / "f")),
    )
    assert float_mv._concurrent_ok is False
    count_mv = IncrementalAggMV(
        spark, fact=fact, fact_pk=["pk"], group_key="g",
        measures=[Measure("count", None, "n"), Measure("max", "v", "mx")],
        stores=StoreSet(spark, str(tmp_path / "c")),
    )
    assert count_mv._concurrent_ok is True
