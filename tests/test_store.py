"""Keyed versioned store: publish, MERGE, idempotence, time travel."""

import pytest

from tiflink_spark.changelog import (
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    SEQ_COL,
    diff_states,
)
from tiflink_spark.store import KeyedParquetStore


@pytest.fixture()
def store(spark, tmp_path):
    return KeyedParquetStore(spark, str(tmp_path / "s"), ["k"], num_buckets=4)


def _changes(spark, rows):
    return spark.createDataFrame(rows, f"k int, v string, {OP_COL} string, {SEQ_COL} long")


def test_bootstrap_and_read(spark, store):
    store.bootstrap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    assert {(r.k, r.v) for r in store.read().collect()} == {(1, "a"), (2, "b")}
    assert store.current_version() == 0


def test_merge_and_time_travel(spark, store):
    store.bootstrap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    store.merge(_changes(spark, [(1, "A", OP_UPDATE, 0), (3, "c", OP_INSERT, 1)]), batch_id=1)
    store.merge(_changes(spark, [(2, None, OP_DELETE, 0)]), batch_id=2)
    assert {(r.k, r.v) for r in store.read().collect()} == {(1, "A"), (3, "c"), (2, "b")} - {(2, "b")}
    # stale snapshot reads (the reference's Stale Snapshot Isolation analog)
    assert {(r.k, r.v) for r in store.read(version=0).collect()} == {(1, "a"), (2, "b")}
    assert {(r.k, r.v) for r in store.read(version=1).collect()} == {(1, "A"), (2, "b"), (3, "c")}


def test_merge_idempotent_by_batch_id(spark, store):
    store.bootstrap(spark.createDataFrame([(1, "a")], "k int, v string"))
    c = _changes(spark, [(2, "b", OP_INSERT, 0)])
    store.merge(c, batch_id=1)
    v = store.current_version()
    store.merge(c, batch_id=1)  # replay: no-op
    assert store.current_version() == v == 1
    assert store.read().count() == 2


def test_delete_everything_leaves_empty_state(spark, store):
    store.bootstrap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    store.merge(
        _changes(spark, [(1, None, OP_DELETE, 0), (2, None, OP_DELETE, 1)]), batch_id=1
    )
    out = store.read()
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}  # schema survives emptiness


def test_version_before_batch(spark, store):
    store.bootstrap(spark.createDataFrame([(1, "a")], "k int, v string"), batch_id=0)
    store.merge(_changes(spark, [(2, "b", OP_INSERT, 0)]), batch_id=7)
    assert store.version_before_batch(7) == 0
    assert store.version_before_batch(99) == store.current_version()


def test_bucket_pruned_merge_rewrites_only_touched_buckets(spark, store):
    """The 100 TB property: a small MERGE must not rewrite every bucket."""
    store.bootstrap(spark.createDataFrame([(i, "x") for i in range(100)], "k int, v string"))
    before = dict(store._commits()[-1]["buckets"])
    store.merge(_changes(spark, [(1, "Y", OP_UPDATE, 0)]), batch_id=1)
    after = dict(store._commits()[-1]["buckets"])
    unchanged = sum(1 for b, rel in after.items() if before.get(b) == rel)
    assert unchanged >= len(after) - 1  # at most one bucket rewritten


def test_version_diff_roundtrip(spark, tmp_path):
    """The diff of two committed versions (diff_states) replayed onto
    the older one must reproduce the newer exactly."""
    from tiflink_spark.changelog import merge_changes, with_insert_ops
    from tiflink_spark.store import KeyedParquetStore

    st = KeyedParquetStore(spark, str(tmp_path / "s"), ["k"], num_buckets=2)
    st.bootstrap(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    v1 = st.current_version()
    st.merge(
        spark.createDataFrame(
            [(2, "B", "+U", 0), (3, None, "-D", 1), (4, "d", "+I", 2)],
            f"k int, v string, {OP_COL} string, {SEQ_COL} long",
        ),
        batch_id=1,
    )
    v2 = st.current_version()

    diff = diff_states(st.read(v1), st.read(v2), ["k"])
    replayed = merge_changes(st.read(v1), diff, ["k"])
    assert {(r.k, r.v) for r in replayed.collect()} == {
        (r.k, r.v) for r in st.read(v2).collect()
    }
    # a diff from nothing is an all-insert changelog
    full = with_insert_ops(st.read(v2))
    assert {r[0] for r in full.select(OP_COL).distinct().collect()} == {"+I"}


def test_bootstrap_refuses_a_store_written_with_another_key(spark, tmp_path):
    """A store reopened with a key column its committed schema lacks (a
    view's layout from before a key change) refuses to attach instead
    of merging rows keyed by a column the base does not hold."""
    path = str(tmp_path / "s")
    KeyedParquetStore(spark, path, ["k"], num_buckets=2).bootstrap(
        spark.createDataFrame([(1, 3)], "k int, mult int")
    )
    reopened = KeyedParquetStore(spark, path, ["k", "copy"], num_buckets=2)
    with pytest.raises(ValueError, match="no key column"):
        reopened.bootstrap(spark.createDataFrame([(1, 1)], "k int, copy int"))
    # the same key attaches as before
    assert not KeyedParquetStore(spark, path, ["K"], num_buckets=2).bootstrap(
        spark.createDataFrame([(1, 3)], "k int, mult int")
    )


def test_auto_num_buckets_scales_with_table_size():
    from tiflink_spark.store import MAX_BUCKETS, MIN_BUCKETS, auto_num_buckets

    assert auto_num_buckets(0) == MIN_BUCKETS
    assert auto_num_buckets(1_000) == MIN_BUCKETS
    assert auto_num_buckets(10_000_000) == 16
    assert auto_num_buckets(1_000_000_000) == 1024
    assert auto_num_buckets(10**14) == MAX_BUCKETS  # 100 TB-ish row counts clamp
    # monotone non-decreasing
    prev = 0
    for n in (10**3, 10**6, 10**7, 10**9, 10**12):
        cur = auto_num_buckets(n)
        assert cur >= prev
        prev = cur


def test_store_auto_buckets_resolved_at_bootstrap_and_persisted(spark, tmp_path):
    from tiflink_spark.store import KeyedParquetStore

    st = KeyedParquetStore(spark, str(tmp_path / "auto"), ["k"])  # no count given
    assert st.num_buckets is None
    df = spark.createDataFrame([(i, i * 1.0) for i in range(100)], "k int, v double")
    st.bootstrap(df, batch_id=0)
    assert st.num_buckets == 4  # small table -> MIN_BUCKETS

    # A later open (even with a DIFFERENT explicit argument) adopts the
    # committed layout — changing bucket count mid-life would break
    # bucket pruning.
    st2 = KeyedParquetStore(spark, str(tmp_path / "auto"), ["k"], num_buckets=64)
    assert st2.num_buckets == 4
    assert st2.read().count() == 100


def test_cosine_topk_nparts_derivation():
    from tiflink_spark.queries_llm import cosine_topk_nparts

    assert cosine_topk_nparts(0) == 1
    assert cosine_topk_nparts(6_000) == 1
    assert cosine_topk_nparts(60_000) == 8
    assert cosine_topk_nparts(6_000_000) == 733
    assert cosine_topk_nparts(10**9) == 1024  # capped: ANN is the crossover


def test_merge_on_read_delta_chain(spark, store):
    """Merge-on-read (round 7): micro-batch merges append O(δ) delta
    files (base buckets untouched) until the chain hits
    MAX_PENDING_DELTAS, when the merge FOLDS — rewriting exactly the
    touched buckets and clearing the chain. Reads, time travel,
    version diffs, replay idempotence, and vacuum all reconcile the
    chain exactly."""
    store.bootstrap(
        spark.createDataFrame([(i, "x") for i in range(1, 101)], "k int, v string")
    )
    base_buckets = dict(store._commits()[-1]["buckets"])
    store.merge(_changes(spark, [(1, "A", OP_UPDATE, 0)]), batch_id=1)
    store.merge(_changes(spark, [(101, "new", OP_INSERT, 0)]), batch_id=2)
    store.merge(
        _changes(spark, [(2, "B", OP_UPDATE, 0), (1, "A2", OP_UPDATE, 1)]),
        batch_id=3,
    )
    store.merge(_changes(spark, [(3, None, OP_DELETE, 0)]), batch_id=4)
    rc = store.recent_commits(5)
    assert [r.get("mode") for r in rc[1:]] == ["delta", "delta", "delta", "delta"]
    # 4 delta appends: the BASE bucket map is byte-identical (O(δ) writes)
    assert dict(store._commits()[-1]["buckets"]) == base_buckets
    cur = {r.k: r.v for r in store.read().collect()}
    assert cur[1] == "A2" and cur[2] == "B" and 3 not in cur and cur[101] == "new"
    assert len(cur) == 100
    # time travel into the middle of the chain
    v2 = {r.k: r.v for r in store.read(2).collect()}
    assert v2[1] == "A" and v2[2] == "x" and v2[101] == "new" and len(v2) == 101
    # CDC diff across delta-carrying versions
    diff = diff_states(store.read(2), store.read(4), store.pk)
    ops = {r.k: r[OP_COL] for r in diff.collect()}
    assert ops.get(3) == OP_DELETE and ops.get(2) == OP_UPDATE
    # 5th merge trips the chain bound: the BATCH commits as a plain
    # delta (compaction never sits on a batch's latency) and schedules
    # the fold in the store's background thread; awaiting it shows the
    # fold's own maintenance commit — chain cleared, only touched
    # buckets rewritten.
    store.merge(_changes(spark, [(4, "D", OP_UPDATE, 0)]), batch_id=5)
    assert store.recent_commits(1)[0]["mode"] == "delta"
    assert store._fold_future is not None
    store._await_fold()
    last = store._commits()[-1]
    assert store.recent_commits(1)[0]["mode"] == "fold"
    assert not last.get("deltas")
    assert {r.k: r.v for r in store.read().collect()}[4] == "D"
    # replay of the folded batch: no-op
    v = store.current_version()
    store.merge(_changes(spark, [(4, "ZZ", OP_UPDATE, 0)]), batch_id=5)
    assert store.current_version() == v
    assert {r.k: r.v for r in store.read().collect()}[4] == "D"
    # vacuum keeps the live chain of retained versions
    store.merge(_changes(spark, [(5, "E", OP_UPDATE, 0)]), batch_id=6)
    store.vacuum(keep_last=2)
    cur = {r.k: r.v for r in store.read().collect()}
    assert cur[5] == "E" and cur[4] == "D" and len(cur) == 100


def test_in_filter_falls_back_to_range_above_threshold(spark):
    """Catalyst walks an In expression's literals per analysis rule, so
    giant IN lists cost seconds of pure planning (the sf10 driver-gap
    leak). Above MAX_IN_LIST the filter must become a min/max range —
    a superset with O(1) literals (callers join exactly afterwards)."""
    from tiflink_spark.store import MAX_IN_LIST, _in_filter

    small = str(_in_filter("k", [3, 1, 2]))
    assert "IN" in small and "BETWEEN" not in small
    big = str(_in_filter("k", list(range(MAX_IN_LIST + 1))))
    assert "BETWEEN" in big
    big_s = str(_in_filter("k", [f"v{i}" for i in range(MAX_IN_LIST + 1)]))
    assert "BETWEEN" in big_s
    # semantics: the range filter keeps every listed key
    df = spark.range(0, 3000).withColumnRenamed("id", "k")
    keys = list(range(0, 3000, 2))
    got = df.filter(_in_filter("k", keys)).count()
    assert got >= len(keys)  # superset contract


def test_in_filter_escapes_backslash_and_quote_keys(spark):
    """Spark SQL unescapes backslash sequences inside string literals,
    so an unescaped backslash key (e.g. 'a\\\\b') silently vanished from
    the rendered IN predicate — missed retractions downstream (ADVICE
    r8 high). Keys with backslashes, quotes, and newlines must all
    match exactly."""
    from tiflink_spark.store import MAX_IN_LIST, _in_filter

    nasty = ["a\\b", "it's", "line1\nline2", "tab\there", "\\", "plain"]
    df = spark.createDataFrame([(k,) for k in nasty + ["other"]], "k string")
    got = {r.k for r in df.filter(_in_filter("k", nasty)).collect()}
    assert got == set(nasty)
    # isin agrees (ground truth)
    ref = {r.k for r in df.filter(df.k.isin(nasty)).collect()}
    assert got == ref
    # the BETWEEN fallback quotes its endpoints the same way
    big = [f"v{i}" for i in range(MAX_IN_LIST)] + ["a\\a", "z\\z"]
    df2 = spark.createDataFrame([(k,) for k in ["a\\a", "z\\z", "m"]], "k string")
    got2 = {r.k for r in df2.filter(_in_filter("k", big)).collect()}
    assert {"a\\a", "z\\z"} <= got2  # superset contract holds with escapes


def test_batch_column_values_reads_fk_values(spark, store):
    """The join routes prune dim lookups by the fact delta's FK values,
    read driver-side from the delta parquet — any column, not just the
    PK."""
    store.bootstrap(
        spark.createDataFrame([(i, i % 7, "x") for i in range(50)],
                              "k int, fk int, v string")
    )
    store.merge(
        _changes_fk(spark, [(1, 3, "A"), (2, 5, "B")]), batch_id=1
    )
    assert store.batch_column_values(1, "fk") == [3, 5]
    assert store.batch_column_values(1, "nope") is None


def _changes_fk(spark, rows):
    from tiflink_spark.changelog import OP_UPDATE

    return spark.createDataFrame(
        [(k, fk, v, OP_UPDATE, i) for i, (k, fk, v) in enumerate(rows)],
        f"k int, fk int, v string, {OP_COL} string, {SEQ_COL} long",
    )


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_merge_record_changes(spark, store):
    """``merge`` hands back the batch: its recorded row count, and its
    change rows read back from the delta the merge wrote — or the input
    itself when the batch wrote none."""
    store.bootstrap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    c = _changes(spark, [(1, "A", OP_UPDATE, 0), (3, "c", OP_INSERT, 1)])
    batch = store.merge(c, batch_id=1)
    assert batch.rows == 2
    assert sorted(batch.changes().columns) == sorted(c.columns)
    assert sorted(tuple(r) for r in batch.changes().collect()) == sorted(
        tuple(r) for r in c.collect()
    )
    empty = _changes(spark, [])
    nothing = store.merge(empty, batch_id=2)
    assert nothing.rows == 0
    assert nothing.changes() is empty
    assert nothing.displaced().count() == 0


def test_merge_record_replay_on_a_shared_store(spark, store):
    """A second merge of a committed batch — the next route sharing the
    store — writes nothing and returns the first merge's rows."""
    store.bootstrap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    first = store.merge(_changes(spark, [(2, "B", OP_UPDATE, 0)]), batch_id=1)
    v = store.current_version()
    again = store.merge(_changes(spark, [(2, "other", OP_UPDATE, 0)]), batch_id=1)
    assert store.current_version() == v
    assert again.rows == first.rows == 1
    assert _rows(again.changes()) == _rows(first.changes()) == [(2, "B")]
    assert _rows(again.displaced()) == [(2, "b")]


def test_merge_record_displaced(spark, store):
    """``displaced`` is the pre-batch row of exactly each changed key:
    read through a delta chain, after a fold, for a delete, and for an
    update that moves a row's non-key value; a new key displaces
    nothing."""
    store.bootstrap(
        spark.createDataFrame([(i, f"x{i}") for i in range(1, 21)], "k int, v string")
    )
    store.merge(_changes(spark, [(1, "A", OP_UPDATE, 0)]), batch_id=1)
    store.merge(_changes(spark, [(2, "B", OP_UPDATE, 0), (21, "n", OP_INSERT, 1)]), batch_id=2)
    # over the chain: batch 1's and 2's values, the base's for key 3
    batch = store.merge(
        _changes(
            spark,
            [(1, "A2", OP_UPDATE, 0), (21, None, OP_DELETE, 1), (3, "C", OP_UPDATE, 2),
             (22, "new", OP_INSERT, 3)],
        ),
        batch_id=3,
    )
    assert _rows(batch.displaced()) == [(1, "A"), (3, "x3"), (21, "n")]
    store.merge(_changes(spark, [(4, "D", OP_UPDATE, 0)]), batch_id=4)
    store.merge(_changes(spark, [(5, "E", OP_UPDATE, 0)]), batch_id=5)
    store._await_fold()
    assert store.recent_commits(1)[0]["mode"] == "fold"
    after = store.merge(
        _changes(spark, [(1, "A3", OP_UPDATE, 0), (5, "E2", OP_UPDATE, 1)]), batch_id=6
    )
    assert _rows(after.displaced()) == [(1, "A2"), (5, "E")]
    # a replay of the pre-fold batch still reads the state before it
    assert _rows(store.merge(_changes(spark, []), batch_id=3).displaced()) == [
        (1, "A"), (3, "x3"), (21, "n")
    ]


def test_mixed_schema_chain_orders_by_chain_column(spark, store):
    """A delta chain whose members recorded different schemas (here
    ``v`` non-nullable in one delta and nullable in the next) still
    orders by the chain-position column every delta carries, never by
    the file path: the path regexp over input_file_name() is undefined
    once Catalyst fuses two chain reads into one stage."""
    store.bootstrap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    strict = f"k int, v string not null, {OP_COL} string, {SEQ_COL} long"
    store.merge(
        spark.createDataFrame([(1, "A", OP_UPDATE, 0), (2, "B", OP_UPDATE, 1)], strict),
        batch_id=1,
    )
    store.merge(_changes(spark, [(1, "A2", OP_UPDATE, 0), (2, None, OP_UPDATE, 1)]), batch_id=2)
    deltas = store._commits()[-1]["deltas"]
    assert len(deltas) == 2
    assert len({store._delta_stats_of(rel).get("delta_schema") for rel in deltas}) == 2
    df = store.read()
    assert "input_file_name" not in df._jdf.queryExecution().analyzed().toString().lower()
    assert {r.k: r.v for r in df.collect()} == {1: "A2", 2: None}
