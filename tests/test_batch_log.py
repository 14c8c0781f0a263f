"""The view's batch log (``_mv_batches``, store.run_batch): a batch is
done exactly when its id is logged; a batch missing from the log rolls
back what an unfinished attempt left in the view's stores and reruns."""

import os

import pytest

from tiflink_spark.app import MVApp
from tiflink_spark.changelog import OP_COL, SEQ_COL
from tiflink_spark.incremental import Measure
from tiflink_spark.mv import IncrementalAggMV
from tiflink_spark.store import StoreSet

FACT = "k int, g int, v double"
CHANGES = f"k int, g int, v double, {OP_COL} string, {SEQ_COL} long"


def _agg(spark, path):
    fact0 = spark.createDataFrame([(1, 0, 10.0), (2, 1, 20.0)], FACT)
    return IncrementalAggMV(
        spark,
        fact=fact0,
        fact_pk=["k"],
        group_key="g",
        measures=[Measure("count", None, "n"), Measure("sum", "v", "sv")],
        stores=StoreSet(spark, path, 2),
    )


def test_replay_past_another_logged_batch_raises(spark, tmp_path):
    """Batch 1 left a fact-store line but never reached the log; the
    caller skipped it and batch 2 committed after it. Rolling batch 1
    back would discard batch 2's fact line, so the replay fails closed."""
    mv = _agg(spark, str(tmp_path / "mv"))
    mv.bootstrap()
    b1 = spark.createDataFrame([(3, 0, 5.0, "+I", 0)], CHANGES)
    b2 = spark.createDataFrame([(4, 1, 6.0, "+I", 0)], CHANGES)
    mv.fact_store.merge(b1, batch_id=1)  # a crashed attempt at batch 1
    assert mv.refresh(b2, batch_id=2) is True
    with pytest.raises(ValueError, match="later batch"):
        mv.refresh(b1, batch_id=1)


def test_deleted_batch_log_still_attaches_and_commits(spark, tmp_path):
    """A target without a batch log (deleted, or written before the log
    existed) attaches through bootstrap and takes the next batch."""
    from tiflink_spark.store import BATCHES_FILE

    target = str(tmp_path / "mv")
    fact0 = spark.createDataFrame([(1, 0, 10.0), (2, 1, 20.0), (3, 1, 1.0)], FACT)

    def build():
        return (
            MVApp.builder(spark)
            .source("f_blog", fact0, pk=["k"])
            .query("SELECT g, count(*) AS n, sum(v) AS sv FROM f_blog GROUP BY g")
            .target(target)
            .num_buckets(2)
            .build()
        )

    app = build().bootstrap()
    assert app.maintenance_strategy == "IncrementalAggMV"
    app.refresh({"f_blog": spark.createDataFrame([(4, 0, 1.0, "+I", 0)], CHANGES)}, 1)
    app.refresh({"f_blog": spark.createDataFrame([(1, None, None, "-D", 0)], CHANGES)}, 2)
    os.remove(os.path.join(target, BATCHES_FILE))

    app = build().bootstrap()
    assert app.describe()["committed_batches"] == ["0"]
    b3 = spark.createDataFrame([(2, 0, 7.0, "+U", 0)], CHANGES)
    assert app.refresh({"f_blog": b3}, batch_id=3) is True
    assert app.refresh({"f_blog": b3}, batch_id=3) is False
    assert app.describe()["committed_batches"] == ["0", "3"]
    # live fact: (3, g1, 1.0), (4, g0, 1.0), (2, g0, 7.0)
    assert {(r.g, r.n, r.sv) for r in app.read().collect()} == {(0, 2, 8.0), (1, 1, 1.0)}

    # vacuum folds the log's prefix into a high-water-mark line
    app.vacuum(keep_last=1)
    with open(os.path.join(target, BATCHES_FILE)) as f:
        assert len(f.readlines()) == 2
    assert app.describe()["committed_batches"] == ["3"]
    assert app.refresh({"f_blog": b3}, batch_id=0) is False


def test_recompute_correlated_scalar_subquery_over_a_delta_chain(spark, tmp_path):
    """A select-list correlated subquery over a recompute source whose
    store holds a delta chain (its read is then a union)."""
    f = spark.createDataFrame(
        [(1, 1, 0, 10.5, 2.0, "a"), (2, 1, 1, 40.0, 3.0, "b"), (3, 2, 0, 70.0, 1.0, "c")],
        "id long, g long, h long, v double, w double, s string",
    )
    d = spark.createDataFrame([(1, 0, 2.5), (2, 1, 7.0)], "dk long, attr long, u double")
    app = (
        MVApp.builder(spark)
        .source("f", f, pk=["id"])
        .source("d", d, pk=["dk"])
        .query("SELECT attr, (SELECT count(*) FROM f x WHERE x.g = y.dk) AS n FROM d y")
        .target(str(tmp_path / "rc"))
        .num_buckets(2)
        .build()
    )
    assert app.maintenance_strategy == "RecomputeMV"
    app.bootstrap()
    batch = spark.createDataFrame(
        [(1, 9, 2.5, "+U", 0), (3, 5, 1.0, "+I", 1)],
        f"dk long, attr long, u double, {OP_COL} string, {SEQ_COL} long",
    )
    assert app.refresh({"d": batch}, batch_id=1) is True
    # d now: (1, 9), (2, 1), (3, 5); f's g counts: g1 -> 2, g2 -> 1
    assert {(r.attr, r.n) for r in app.read().collect()} == {(9, 2), (1, 1), (5, 0)}
