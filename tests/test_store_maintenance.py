"""Store compaction + vacuum: state survives, old version dirs go away."""

import os

from tiflink_spark.changelog import OP_COL, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.store import KeyedParquetStore


def _changes(spark, rows):
    return spark.createDataFrame(rows, f"k int, v string, {OP_COL} string, {SEQ_COL} long")


def test_compact_and_vacuum(spark, tmp_path):
    store = KeyedParquetStore(spark, str(tmp_path / "s"), ["k"], num_buckets=4)
    store.bootstrap(spark.createDataFrame([(i, "x") for i in range(20)], "k int, v string"))
    for i in range(1, 4):
        store.merge(_changes(spark, [(i, f"v{i}", OP_UPDATE, 0), (100 + i, "n", OP_INSERT, 1)]), batch_id=i)
    before = {(r.k, r.v) for r in store.read().collect()}

    v = store.compact()
    assert store.current_version() == v
    assert {(r.k, r.v) for r in store.read().collect()} == before

    removed = store.vacuum(keep_last=1)
    assert removed, "expected old version dirs to be deleted"
    data_dirs = os.listdir(tmp_path / "s" / "data")
    assert data_dirs == [f"v{v}"]
    # state still fully readable after vacuum
    assert {(r.k, r.v) for r in store.read().collect()} == before
    # idempotence memory survives vacuum (manifest not pruned)
    assert store.merge(_changes(spark, [(1, "zz", OP_UPDATE, 0)]), batch_id=3) is False


def test_grouping_sets_stores_reachable_by_maintenance(spark, tmp_path):
    """compact()/vacuum() must reach every per-set sub-MV store of the
    grouping-sets decomposition (1 shared fact + per-set state+target)."""
    from tiflink_spark.app import MVApp

    src = spark.createDataFrame(
        [(i, i % 2, i % 3, float(i)) for i in range(20)],
        "id long, g long, sub long, v double",
    )
    app = (
        MVApp.builder(spark)
        .source("gs_sa", src, pk=["id"])
        .query("SELECT g, sub, count(*) AS n FROM gs_sa GROUP BY ROLLUP(g, sub)")
        .target(str(tmp_path / "gs_sa"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    app.bootstrap()
    stores = [st for ss in app._store_sets() for st in ss.all]
    assert len(stores) == 7  # shared fact + 3 sets x (state, target)
    # the sets are offered the shared fact instead of opening their own
    assert not any(os.path.isdir(tmp_path / "gs_sa" / f"set{i}" / "fact") for i in range(3))
    app.compact()
    assert len(app.vacuum()) == 7
    # still readable after maintenance
    assert app.read().count() > 0


def test_vacuum_compacts_manifest_preserving_idempotence(spark, tmp_path):
    """vacuum() truncates _mv_commits to the tail window; the dropped
    prefix is summarized by a high-water-mark line so every truncated
    batch id still reads as committed (replay stays a no-op)."""
    store = KeyedParquetStore(spark, str(tmp_path / "s"), ["k"], num_buckets=4)
    store.bootstrap(spark.createDataFrame([(i, "x") for i in range(10)], "k int, v string"))
    for i in range(1, 6):
        store.merge(_changes(spark, [(i, f"v{i}", OP_UPDATE, 0)]), batch_id=i)
    before = {(r.k, r.v) for r in store.read().collect()}

    store.vacuum(keep_last=2)
    # manifest is now bounded: 1 hwm line + 2 kept commit lines
    with open(store._commits_path) as f:
        lines = [l for l in f if l.strip()]
    assert len(lines) == 3
    # every truncated batch id still refuses replay
    for i in range(0, 6):
        assert store.merge(_changes(spark, [(i, "zz", OP_UPDATE, 0)]), batch_id=i) is False
    # state unchanged, num_buckets survives a fresh open
    assert {(r.k, r.v) for r in store.read().collect()} == before
    reopened = KeyedParquetStore(spark, str(tmp_path / "s"), ["k"])
    assert reopened.num_buckets == 4
    assert 3 in reopened.committed_batches()


def test_manifest_bounded_at_10k_batches(spark, tmp_path):
    """A store whose manifest saw 10k batch commits opens with a bounded
    manifest after vacuum and still refuses every replayed batch id.
    The 10k prefix is synthesized at the file level (one line per batch,
    exactly what merge() appends) — the machinery under test is the
    manifest, not the Spark write path."""
    import json as _json

    store = KeyedParquetStore(spark, str(tmp_path / "s"), ["k"], num_buckets=4)
    store.bootstrap(spark.createDataFrame([(1, "x")], "k int, v string"), batch_id=0)
    base = store.current_version()
    last = store._commits()[-1]
    with open(store._commits_path, "a") as f:
        for i in range(1, 10_001):
            rec = dict(last, batch_id=i, version=base + i)
            f.write(_json.dumps(rec) + "\n")
    store.vacuum(keep_last=2)
    with open(store._commits_path) as f:
        assert len([l for l in f if l.strip()]) == 3
    committed = store.committed_batches()
    assert all(i in committed for i in range(0, 10_001))
    assert 10_001 not in committed
    # a batch below the compaction window cannot be replay-diffed: loud
    import pytest as _pytest

    with _pytest.raises(KeyError):
        store.version_before_batch(5)


def test_repeated_vacuum_merges_hwm_lines(spark, tmp_path):
    """Successive vacuums fold prior hwm lines (and non-integer ids like
    compaction markers) into one summary; idempotence survives all of it."""
    store = KeyedParquetStore(spark, str(tmp_path / "s"), ["k"], num_buckets=4)
    store.bootstrap(spark.createDataFrame([(i, "x") for i in range(10)], "k int, v string"))
    for i in range(1, 4):
        store.merge(_changes(spark, [(i, f"v{i}", OP_UPDATE, 0)]), batch_id=i)
    store.vacuum(keep_last=1)
    cv = store.compact()
    for i in range(4, 7):
        store.merge(_changes(spark, [(i, f"v{i}", OP_UPDATE, 0)]), batch_id=i)
    store.vacuum(keep_last=1)
    committed = store.committed_batches()
    for i in range(0, 7):
        assert i in committed
    assert f"__compact__-{cv}" in committed  # non-int id carried explicitly
    assert store.read().count() == 10


def test_manifest_tolerates_torn_trailing_line(spark, tmp_path):
    """The background fold appends its commit line from another thread
    while readers re-parse on (mtime,size) change — a reader can catch
    the write mid-flight. A torn LAST line must read as the pre-append
    snapshot (not crash); a torn line anywhere else is real corruption
    and must still raise."""
    import json

    import pytest

    store = KeyedParquetStore(spark, str(tmp_path / "t"), ["k"], num_buckets=2)
    store.bootstrap(spark.createDataFrame([(i, "x") for i in range(5)], "k int, v string"))
    store.merge(_changes(spark, [(1, "y", OP_UPDATE, 0)]), batch_id=1)
    v = store.current_version()
    # simulate a torn in-flight append
    with open(store._commits_path, "a") as f:
        f.write('{"batch_id": "torn", "version": 99, "bu')
    store._mcache = None
    assert store.current_version() == v  # pre-append snapshot
    assert {r.k for r in store.read().collect()} == set(range(5))
    # torn line in the MIDDLE = corruption: raise loudly
    lines = open(store._commits_path).read().splitlines()
    lines.insert(1, '{"batch_id": "mid-torn", "ver')
    with open(store._commits_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    store._mcache = None
    with pytest.raises(json.JSONDecodeError):
        store._commits()


def test_apply_deltas_broadcast_gated_on_chain_size(spark, tmp_path, monkeypatch):
    """The MOR reconciliation broadcast-hints the chain's distinct key
    set only while the RECORDED change-row total stays inside
    BROADCAST_KEYS_MAX — an oversized pre-fold delta (or a crash that
    leaves one in the chain) must degrade to a shuffle join, not a
    driver-side collect (ADVICE r8 medium)."""
    from tiflink_spark import store as store_mod

    store = KeyedParquetStore(spark, str(tmp_path / "g"), ["k"], num_buckets=2)
    store.bootstrap(spark.createDataFrame([(i, "x") for i in range(10)], "k int, v string"))
    store.merge(_changes(spark, [(1, "y", OP_UPDATE, 0)]), batch_id=1)
    last = store._commits()[-1]
    chain = list(last.get("deltas") or [])
    assert chain, "expected a pending delta chain"
    base = store._read_base(store._commits()[0])

    def _plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    hinted = _plan(store._apply_deltas(base, chain))
    assert "ResolvedHint" in hinted or "broadcast" in hinted.lower()
    # shrink the bound so the same chain reads as oversized
    monkeypatch.setattr(store_mod, "BROADCAST_KEYS_MAX", 0)
    unhinted = _plan(store._apply_deltas(base, chain))
    assert "ResolvedHint" not in unhinted
    # unknown counts (legacy manifest lines) are treated as unbounded
    monkeypatch.setattr(store_mod, "BROADCAST_KEYS_MAX", 10**9)
    monkeypatch.setattr(KeyedParquetStore, "_delta_stats_of", lambda self, rel: {})
    legacy = _plan(store._apply_deltas(base, chain))
    assert "ResolvedHint" not in legacy
    # and values stay correct either way
    monkeypatch.undo()
    got = {(r.k, r.v) for r in store._apply_deltas(base, chain).collect()}
    assert got == {(i, "y" if i == 1 else "x") for i in range(10)}
