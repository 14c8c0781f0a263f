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
    store.merge(_changes(spark, [(1, "zz", OP_UPDATE, 0)]), batch_id=3)
    assert store.current_version() == v


def test_grouping_sets_stores_reachable_by_maintenance(spark, tmp_path):
    """compact()/vacuum() must reach every store of the grouping-sets
    decomposition (1 shared fact + per-set state + the view's one target)."""
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
    assert len(stores) == 5  # shared fact + 3 set states + one target
    # the sets are offered the shared fact and a target that writes
    # nothing instead of opening their own
    for name in ("fact", "mv"):
        assert not any(os.path.isdir(tmp_path / "gs_sa" / f"set{i}" / name) for i in range(3))
    app.compact()
    assert len(app.vacuum()) == 5
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
    v = store.current_version()
    for i in range(0, 6):
        store.merge(_changes(spark, [(i, "zz", OP_UPDATE, 0)]), batch_id=i)
        assert store.current_version() == v
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
    """Successive vacuums fold prior hwm lines into one summary, and
    drop compaction markers (nothing asks whether they committed);
    idempotence survives all of it."""
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
    assert f"__compact__-{cv}" not in committed  # maintenance id dropped
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


def test_compacted_logs_stay_constant_size(tmp_path):
    """200 batches, a fold line after every 5th and a compaction every
    10th: fold ids are dropped and streaming ids ``{table}-{epoch}``
    summarize per table, so the summary line does not grow with the
    batch count — and every dropped batch id still reads as
    committed."""
    import json as _json

    from tiflink_spark.store import _BatchLines

    store_log = _BatchLines(str(tmp_path / "_mv_commits"))
    view_log = _BatchLines(str(tmp_path / "_mv_batches"))
    sizes = []
    for n in range(1, 201):
        store_log.append({"batch_id": n, "version": n})
        view_log.append({"batch_id": f"orders-{n}"})
        if n % 5 == 0:
            store_log.append({"batch_id": f"__fold__{n}", "version": n})
        if n % 10 == 0:
            store_log.compact(1, {"orders"})
            view_log.compact(1, {"orders"})
            firsts = []
            for log in (store_log, view_log):
                with open(log.path) as f:
                    first = _json.loads(f.readline())
                assert first["other_batches"] == []
                firsts.append(len(_json.dumps({k: v for k, v in first.items() if k != "ts"})))
            sizes.append(firsts)
    assert len({tuple(s) for s in sizes[10:]}) == 1  # batches 110..200
    assert all(n in store_log.committed() for n in range(1, 200))
    assert all(f"orders-{n}" in view_log.committed() for n in range(1, 201))
    assert "orders-201" not in view_log.committed()
    # another table's ids, and string ids of no table, stay explicit
    view_log.append({"batch_id": "other-1"})
    view_log.append({"batch_id": "adhoc"})
    view_log.append({"batch_id": "orders-201"})
    view_log.compact(1, {"orders"})
    with open(view_log.path) as f:
        assert _json.loads(f.readline())["other_batches"] == ["adhoc", "other-1"]
    assert all(b in view_log.committed() for b in ("other-1", "adhoc", "orders-200"))


def test_app_vacuum_summarizes_streaming_ids(spark, tmp_path):
    """MVApp.vacuum passes the view's source tables: streaming batch ids
    compact into per-table high-water marks in the batch log and in
    every store manifest, and a compacted id still replays as a no-op."""
    import json as _json

    from tiflink_spark.app import MVApp

    fact = spark.createDataFrame([(i, i % 3) for i in range(10)], "k int, g int")
    app = (
        MVApp.builder(spark)
        .source("f_vac", fact, pk=["k"])
        .query("SELECT g, count(*) AS n FROM f_vac GROUP BY g")
        .target(str(tmp_path / "mv"))
        .num_buckets(2)
        .build()
        .bootstrap()
    )
    schema = f"k int, g int, {OP_COL} string, {SEQ_COL} long"
    for n in range(3):
        ch = spark.createDataFrame([(100 + n, n % 3, OP_INSERT, 0)], schema)
        app.refresh({"f_vac": ch}, batch_id=f"f_vac-{n}")
    app.vacuum(keep_last=1)
    paths = [app.stores.log.path] + [st._commits_path for st in app._all_stores()]
    for path in paths:
        with open(path) as f:
            first = _json.loads(f.readline())
        assert first["table_hwms"] == {"f_vac": 1}, path
        assert not any(str(b).startswith("f_vac-") for b in first["other_batches"]), path
    before = sorted(app.read().collect())
    ch = spark.createDataFrame([(999, 0, OP_INSERT, 0)], schema)
    assert app.refresh({"f_vac": ch}, batch_id="f_vac-0") is False
    assert sorted(app.read().collect()) == before
