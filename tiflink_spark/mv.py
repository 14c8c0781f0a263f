"""Materialized-view engine: continuous maintenance of a query result.

The reference's entire purpose (TiFlinkApp.java:70-116): one SQL query
is kept continuously materialized in a keyed target table, fed by a
gapless snapshot-then-changelog source, committed exactly-once in
version order. The Spark translation of the lifecycle:

    bootstrap:  batch-run the query on the source snapshot → publish v0
    maintain:   per changelog micro-batch → compute MV changes → MERGE
                into the versioned keyed store (idempotent by batch_id)

Two maintenance strategies, mirroring SURVEY §2.2's incremental column:

- :class:`IncrementalAggMV` — dim ⟕ GROUP-BY-agg query shapes (the
  reference's flagship correlated-count is this after Catalyst
  decorrelation). Per-batch work ∝ changed keys: retraction deltas for
  invertible aggs, dirty-group recompute for MIN/MAX.
- :class:`RecomputeMV` — any SQL. Re-runs the query on the updated
  sources and MERGEs only the diff (diff_states full-outer join), so
  the *sink* work is change-bounded even though compute is a full
  recompute. Marked explicitly as the fallback maintenance mode.

Both converge to the batch answer after every batch — the property the
reference's consistency machinery exists to guarantee (README.md:18-22).
"""

from __future__ import annotations

import functools
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from tiflink_spark.catalog import Catalog, default_pk
from tiflink_spark.changelog import (
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    SEQ_COL,
    diff_states,
    last_change_per_key,
)
from tiflink_spark.incremental import (
    aggregate_global_state,
    Measure,
    aggregate_state,
    compute_delta,
    measures_order_insensitive,
    merge_delta_state,
    present_measures,
)
from tiflink_spark.store import KeyedParquetStore


# Session confs are PROCESS-GLOBAL, but refreshes run concurrently
# (grouping-sets sub-MVs fan out on threads; the agg route overlaps
# state∥target merges), so the AQE/codegen save/restore is guarded by
# a refcount: only the first entrant saves-and-applies and only the
# last restores. A per-thread depth would let two concurrent
# "outermost" scopes race the restore and LEAK codegen=false into the
# session (observed: one suite-order-dependent test failure).
_SCOPE_LOCK = threading.Lock()


def _scope_state(spark: SparkSession) -> dict:
    """Per-SESSION scope state (attached to the session object):
    n_off counts live scopes wanting AQE off (refresh scopes);
    n_keep_codegen counts live scopes REQUIRING codegen on (big-scan
    refreshes and bootstraps). The strictest requirement across live
    scopes wins — first-entrant-wins let a small-route scope force a
    concurrent big-scan refresh to run interpreted table-scale scans
    (measured 5s→26s). Keyed per session because maintenance runs on
    a conf-isolated session clone (session.maintenance_session)."""
    st = getattr(spark, "_tiflink_scope_state", None)
    if st is None:
        st = {"count": 0, "saved": None, "n_off": 0, "n_keep_codegen": 0}
        spark._tiflink_scope_state = st
    return st


def _apply_scope_confs(spark: SparkSession, st: dict) -> None:
    """Apply the strictest requirement across live scopes (holding
    _SCOPE_LOCK): AQE off if ANY refresh scope is live; codegen off
    only when some refresh scope wants it off and NO live scope (big
    scan or bootstrap) needs it on."""
    saved_aqe, saved_wsc, saved_fac = st["saved"]
    if st["n_off"] > 0:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if st["n_keep_codegen"] == 0:
            spark.conf.set("spark.sql.codegen.wholeStage", "false")
            spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        else:
            spark.conf.set("spark.sql.codegen.wholeStage", saved_wsc)
            spark.conf.set("spark.sql.codegen.factoryMode", saved_fac)
    else:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
        spark.conf.set("spark.sql.codegen.wholeStage", saved_wsc)
        spark.conf.set("spark.sql.codegen.factoryMode", saved_fac)


@contextmanager
def _shuffle_scope(
    spark: SparkSession,
    n: int | None,
    adaptive_off: bool = False,
    big_scan: bool = False,
):
    """Pin ``spark.sql.shuffle.partitions`` while maintenance jobs run.

    MV maintenance work is proportional to the *changed* keys, which is
    typically orders of magnitude smaller than the session-wide shuffle
    sizing chosen for full-table scans — per-batch task overhead then
    dominates (measured 10x on the gate workload). This is the engine's
    analog of the reference's explicit job parallelism knob
    (TiFlinkApp.java:243-246, parallelism 3 in the example): size it to
    expected delta volume, not source volume.

    ``adaptive_off`` additionally disables AQE for the scope: AQE
    materializes every query stage as its own job to replan at runtime
    — the right trade for a 100 TB scan, pure scheduling overhead for a
    delta-sized refresh (measured: 19-27 jobs per flagship refresh
    batch with AQE on vs the plan's natural handful off — AQE round-
    trips, not data, were the refresh-latency floor). Refresh runs with
    it off (parallelism comes from the tuned shuffle sizing, the
    reference's fixed-parallelism analog, TiFlinkApp.java:243-246);
    bootstrap — real full-table work — keeps it on.

    ``adaptive_off`` scopes also disable WHOLE-STAGE CODEGEN (and the
    codegen expression factory) — UNLESS ``big_scan`` is set: every
    refresh batch embeds that batch's key literals (retraction
    filters, bucket paths) in the plan, so the generated source is
    NEVER reused across batches — each batch pays Janino compilation
    for every stage to then execute a few hundred rows
    interpreted-speed anyway. Measured (flagship, sf0.1, warm route):
    3.0s/batch with codegen on vs 2.1s off — ~30% of refresh latency
    was compiler time. But a route whose backing store is TABLE-SCALE
    can degrade to an O(table) scan inside a refresh (uniform churn
    defeats the retraction lookup's range pruning), and an interpreted
    15M-row scan costs far more than the compile it saved (measured:
    a 5s sf10 batch became 26s) — so the _maintenance wrapper passes
    ``big_scan`` when any of the route's source-scale stores exceeds
    CODEGEN_TABLE_ROWS, keeping codegen on. Bootstrap keeps codegen
    on always: a full-table scan amortizes compilation as intended.
    AQE/codegen follow the STRICTEST requirement across all live
    scopes (process-wide counters under a lock): AQE is off while any
    refresh scope is live, but codegen stays ON while any live scope
    needs it (a big-scan refresh, or a bootstrap) — first-entrant-wins
    let a small-route scope force a concurrently-entering big-scan
    refresh to run interpreted table-scale scans. Only the first
    entrant snapshots the session values and only the last restores
    them — a per-thread depth leaked codegen=false into the session
    when two "outermost" scopes overlapped.

    The scope snapshots/restores even when ``n`` is None so refresh
    bodies can re-tune the sizing mid-batch (``_tune_delta_shuffle``)
    without leaking it into the session.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    keep_codegen = big_scan or not adaptive_off
    with _SCOPE_LOCK:
        st = _scope_state(spark)
        st["count"] += 1
        if st["count"] == 1:
            st["saved"] = (
                spark.conf.get("spark.sql.adaptive.enabled"),
                spark.conf.get("spark.sql.codegen.wholeStage", "true"),
                spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"),
            )
        st["n_off"] += 1 if adaptive_off else 0
        st["n_keep_codegen"] += 1 if keep_codegen else 0
        _apply_scope_confs(spark, st)
    if n is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        with _SCOPE_LOCK:
            st = _scope_state(spark)
            st["count"] -= 1
            st["n_off"] -= 1 if adaptive_off else 0
            st["n_keep_codegen"] -= 1 if keep_codegen else 0
            if st["count"] == 0:
                aqe, wsc, fac = st["saved"]
                st["saved"] = None
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                spark.conf.set("spark.sql.codegen.wholeStage", wsc)
                spark.conf.set("spark.sql.codegen.factoryMode", fac)
            else:
                _apply_scope_confs(spark, st)


# Target rows per maintenance task. Once a batch's true change-row count
# is known (driver-side, from the merge commit's stats), the rest of the
# refresh runs with ceil(rows / this) shuffle partitions (floor 1,
# ceiling = the configured maintenance sizing): a 150-row micro-batch
# then runs its windows/joins as single tasks — measured 2x per-batch
# latency at the gate scale, where per-task scheduling overhead was the
# floor — while a 10M-row backfill batch still fans out.
DELTA_ROWS_PER_TASK = 32_768

# Above this measured delta size a refresh batch re-enables whole-stage
# codegen (see _tune_delta_shuffle): interpreted execution of a
# backfill-scale batch costs more than the per-batch compile it saves.
CODEGEN_DELTA_ROWS = 1_000_000


def _tune_delta_shuffle(spark: SparkSession, configured: int | None, rows: int | None):
    """Re-pin shuffle sizing to the batch's measured delta volume for
    the remainder of the refresh (the enclosing _shuffle_scope restores
    the session value afterwards). A backfill-scale delta also turns
    whole-stage codegen back ON for the rest of the batch — the
    refresh scope disables it because micro-batches never amortize
    Janino compilation, but a million-row batch does. Tunes the
    MAINTENANCE session whichever session the route handle carries —
    user-session conf is never touched mid-batch."""
    if rows is None:
        return
    from tiflink_spark.session import maintenance_session

    spark = maintenance_session(spark)
    need = max(1, -(-rows // DELTA_ROWS_PER_TASK))
    if configured is not None:
        need = min(need, configured)
    spark.conf.set("spark.sql.shuffle.partitions", str(need))
    if rows > CODEGEN_DELTA_ROWS:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")


# Stores whose bootstrap row count exceeds this keep whole-stage
# codegen ON during refresh: a pruning-hostile batch can scan them
# whole, and an interpreted table-scale scan costs more than the
# per-batch compile it saves (see _shuffle_scope).
CODEGEN_TABLE_ROWS = 2_000_000

# source-scale store attributes a route may carry (the target/state
# stores are churn-sized and never the big-scan risk)
_SCALE_STORE_ATTRS = ("fact_store", "left_store", "right_store", "other_store",
                      "hist_store", "dim_store")


def _route_is_big(self) -> bool:
    stores = []
    for attr in _SCALE_STORE_ATTRS:
        try:
            st = getattr(self, attr, None)
        except Exception:
            # e.g. IncrementalJoinAggMV.dim_store is a property that
            # asserts single-dim; multi-dim routes carry dim_stores
            continue
        if st is not None:
            stores.append(st)
    stores.extend((getattr(self, "dim_stores", None) or {}).values())
    for st in stores:
        rows = st.bootstrap_rows()
        if rows is not None and rows > CODEGEN_TABLE_ROWS:
            return True
    return False


def _maintenance(fn):
    """Run a bootstrap/refresh method under the MV's shuffle sizing;
    refresh methods additionally run with AQE off (see _shuffle_scope —
    per-stage replan jobs are the latency floor at delta scale) and,
    for routes whose source stores are below table scale, with
    whole-stage codegen off."""

    adaptive_off = fn.__name__ == "refresh"

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        from tiflink_spark.session import maintenance_session

        # The scope flips confs on the MAINTENANCE session (the one
        # the stores home every read and write to) — a concurrent user
        # query on the original session keeps its own conf.
        with _shuffle_scope(
            maintenance_session(self.spark),
            getattr(self, "shuffle_partitions", None),
            adaptive_off=adaptive_off,
            big_scan=adaptive_off and _route_is_big(self),
        ):
            return fn(self, *args, **kwargs)

    return wrapper


class RecomputeMV:
    """Generic-SQL MV: full recompute per batch, change-bounded sink.

    ``sources`` maps table name → KeyedParquetStore holding the current
    source state. The query may reference the source names as temp
    views. PK of the MV defaults to the first output column
    (TiFlinkApp.java:276-281) unless declared.

    ``bag=True`` (round 10) keys the target by a hidden null-safe row
    encoding + copy index instead — for outputs with NO usable key at
    all: a grouping-body query past the incremental matcher (multi-table
    ROLLUP, CUBE(7)+) emits subtotal rows whose grouping keys are NULL,
    so even the first-column default crashes the keyed store. The view
    is maintained as a BAG: per-batch diff compares old/new tuple
    multiplicities and emits tail-copy +I/-D transitions, the same
    (tuple, __copy) contract the set-op cascade façade proved out
    (_SetOpBagCascadeTarget.changes_between).
    """

    BAG_ID = "__row_id"
    BAG_COPY = "__copy"

    def __init__(
        self,
        spark: SparkSession,
        sources: dict[str, KeyedParquetStore],
        query: str,
        target_path: str,
        pk: list[str] | None = None,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        bag: bool = False,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.sources = sources
        self.query = query
        self._declared_pk = pk
        self._num_buckets = num_buckets
        self._bag = bag
        self._out_cols: list[str] | None = None
        self.target: KeyedParquetStore | None = None
        self.target_path = target_path

    def _run_query(self) -> DataFrame:
        from tiflink_spark.session import maintenance_session

        # Store reads are homed on the maintenance session, so the
        # temp views land there — resolve the query on the same
        # session (the user session's views still hold the BOOTSTRAP
        # inputs, not current store state).
        ms = maintenance_session(self.spark)
        for name, store in self.sources.items():
            store.read().createOrReplaceTempView(name)
        return ms.sql(self.query)

    def _bag_counts(self, result: DataFrame) -> DataFrame:
        """Distinct tuples + multiplicity ``__m``, each encoded
        null-safely into one non-NULL string key ``__row_id`` (NULL →
        \\x00 sentinel, same reasoning as the grouping-sets route's
        ``__set_row``)."""
        out = list(result.columns)
        counts = result.groupBy(*out).agg(F.count(F.lit(1)).alias("__m"))
        parts = [
            F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
                F.col(c).cast("string")
            )
            for c in out
        ]
        return counts.withColumn(self.BAG_ID, F.concat_ws("\x1f", *parts))

    def _bag_rows(self, result: DataFrame) -> DataFrame:
        """Tuple multiplicities → copy-indexed keyed rows: explode
        copies 1..multiplicity so (``__row_id``, ``__copy``) is a true
        unique key."""
        out = list(result.columns)
        return (
            self._bag_counts(result)
            .withColumn(
                self.BAG_COPY,
                F.explode(F.sequence(F.lit(1), F.col("__m").cast("int"))),
            )
            .select(*out, self.BAG_ID, self.BAG_COPY)
        )

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        result = self._run_query()
        if self._bag:
            self._out_cols = list(result.columns)
            self.target = KeyedParquetStore(
                self.spark,
                self.target_path,
                [self.BAG_ID, self.BAG_COPY],
                self._num_buckets,
            )
            self.target.bootstrap(self._bag_rows(result), batch_id)
            return
        pk = default_pk(result.schema, self._declared_pk)
        self.target = KeyedParquetStore(self.spark, self.target_path, pk, self._num_buckets)
        self.target.bootstrap(result, batch_id)

    def _bag_diff(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Multiplicity-transition changelog: old vs new tuple counts,
        joined on the row encoding, tail copies lo+1..hi emitted +I
        when the count grew and -D when it shrank — the single-pass
        shape _SetOpBagCascadeTarget.changes_between uses (a union of
        two filtered explode branches over one full-outer join was
        measured to miscompile there; keep this form)."""
        out = list(self._out_cols or [])
        old_m = old.groupBy(self.BAG_ID).agg(
            F.count(F.lit(1)).alias("__m0"),
            *[F.first(F.col(c)).alias(f"__o{i}") for i, c in enumerate(out)],
        )
        new_m = self._bag_counts(new).select(
            F.col(self.BAG_ID),
            F.col("__m").cast("int").alias("__m1"),
            *[F.col(c).alias(f"__n{i}") for i, c in enumerate(out)],
        )
        j = old_m.join(new_m, self.BAG_ID, "full_outer").select(
            F.col(self.BAG_ID),
            # identical values on both sides by construction (the
            # encoding is injective per schema) — coalesce picks
            # whichever side exists
            *[
                F.coalesce(F.col(f"__n{i}"), F.col(f"__o{i}")).alias(c)
                for i, c in enumerate(out)
            ],
            F.coalesce(F.col("__m0"), F.lit(0)).cast("int").alias("__m0"),
            F.coalesce(F.col("__m1"), F.lit(0)).cast("int").alias("__m1"),
        )
        lo = F.least(F.col("__m0"), F.col("__m1"))
        hi = F.greatest(F.col("__m0"), F.col("__m1"))
        return (
            j.filter(F.col("__m0") != F.col("__m1"))
            .withColumn(self.BAG_COPY, F.explode(F.sequence(lo + 1, hi)))
            .withColumn(
                OP_COL,
                F.when(
                    F.col("__m1") > F.col("__m0"), F.lit(OP_INSERT)
                ).otherwise(F.lit(OP_DELETE)),
            )
            .select(*out, self.BAG_ID, self.BAG_COPY, OP_COL)
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )

    @_maintenance
    def refresh(self, changes: dict[str, DataFrame], batch_id) -> bool:
        """Apply one changelog micro-batch (table → upsert changelog).

        Ordering: source stores merge first, then the MV diff runs on
        the *committed* source state; every store is idempotent by
        batch_id, so a crash anywhere replays to the same result.
        """
        assert self.target is not None, "bootstrap() first"
        if batch_id in self.target.committed_batches():
            return False
        for name, delta in changes.items():
            self.sources[name].merge(delta, batch_id)
        old = self.target.read()
        new = self._run_query()
        if self._bag:
            self._out_cols = list(new.columns)
            mv_changes = self._bag_diff(old, new)
        else:
            mv_changes = diff_states(old, new, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        assert self.target is not None
        out = self.target.read(version)
        if self._bag:
            return out.drop(self.BAG_ID, self.BAG_COPY)
        return out


class IncrementalJoinMV:
    """Incremental MV for ``A ⋈ B ON A.k = B.k`` with changelogs on BOTH
    sides (the stream-stream join of SURVEY §2.2, maintained per
    micro-batch instead of with operator state).

    Maintenance is **dirty-join-key recompute**: a batch's changed rows
    (old and new versions) dirty their join-key values; the join is
    recomputed only for those keys (both sides pruned by semi-join) and
    diffed against the MV rows holding those keys. Work per batch ∝ the
    row volume of touched join keys — never the full join. A pathological
    hot key makes its own recompute expensive (same caveat as any skewed
    join); AQE skew-split applies to the pruned join too.
    """

    # The alias-mirror sharing contract (app._SharedMirrorStore): this
    # route merges every source changelog into its mirror store
    # VERBATIM — no filter/enrichment/rename before the merge — so a
    # cascade outer of this class may alias a source mirror to the
    # inner level's target store. Routes that transform changes before
    # merging (grouping sets' hidden __g key, semijoin's WHERE
    # pre-filter, projection renames) must NOT set this.
    _mirrors_sources_verbatim = True


    def __init__(
        self,
        spark: SparkSession,
        left: DataFrame,
        left_pk: list[str],
        right: DataFrame,
        right_pk: list[str],
        join_key,
        out_cols: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        where: str | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        # Row-local deterministic predicate over the joined relation.
        # Dirty-key maintenance is recompute+diff, so applying it after
        # the join (bootstrap AND per-batch recompute) is exact — no
        # per-side changelog filtering needed.
        self.where = where
        # USING form passes one shared name; ON form passes a
        # (left_key, right_key) pair — e.g. ``ON o_custkey = c_custkey``.
        if isinstance(join_key, (tuple, list)):
            self.left_key, self.right_key = join_key
        else:
            self.left_key = self.right_key = join_key
        self.join_key = self.left_key  # USING-form compat accessor
        same = self.left_key == self.right_key
        # A join-key column must be in the output: MV rows are located
        # by it when pruning dirty keys. For ON form the select list
        # must already carry one (the matcher guarantees it — a fk=pk
        # join always selects the pk side, which IS the right key).
        if same and self.left_key not in out_cols:
            out_cols = [self.left_key, *out_cols]
        self.out_cols = out_cols
        self._mv_key = (
            self.left_key if self.left_key in out_cols else self.right_key
        )
        if self._mv_key not in out_cols:
            raise ValueError("ON-form join MV must select a join-key column")
        self.left0, self.right0 = left, right
        self.left_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "left"), left_pk, num_buckets
        )
        self.right_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "right"), right_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), [*left_pk, *right_pk], num_buckets
        )

    def _join(self, a: DataFrame, b: DataFrame) -> DataFrame:
        cols = list(dict.fromkeys([*self.target.pk, *self.out_cols]))
        if self.left_key == self.right_key:
            joined = a.join(b, self.left_key)
        else:
            joined = a.join(b, a[self.left_key] == b[self.right_key])
        if self.where is not None:
            joined = joined.filter(F.expr(self.where))
        return joined.select(*cols)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.left_store.bootstrap(self.left0, batch_id)
        self.right_store.bootstrap(self.right0, batch_id)
        self.target.bootstrap(
            self._join(self.left_store.read(), self.right_store.read()), batch_id
        )

    def _dirty_keys(
        self,
        store: KeyedParquetStore,
        changes: DataFrame | None,
        batch_id,
        side_key: str,
    ) -> DataFrame | None:
        """Join-key values touched by a batch: keys of the NEW row
        versions plus keys of the displaced OLD rows (a key-changing
        update dirties both). ``side_key`` is this side's join column;
        values normalize to the shared ``__jk`` name."""
        if changes is None:
            return None
        if batch_id in store.committed_batches():
            old = store.read(store.version_before_batch(batch_id))
        else:
            old = store.read()
        changed_pks = last_change_per_key(changes, store.pk).select(*store.pk)
        old_keys = old.join(F.broadcast(changed_pks), store.pk, "left_semi").select(
            F.col(side_key).alias("__jk")
        )
        new_keys = changes.select(F.col(side_key).alias("__jk")).where(
            F.col("__jk").isNotNull()
        )
        return old_keys.unionByName(new_keys).distinct()

    @_maintenance
    def refresh(
        self,
        left_changes: DataFrame | None,
        right_changes: DataFrame | None,
        batch_id,
    ) -> bool:
        if batch_id in self.target.committed_batches():
            return False
        dirty = [
            d
            for d in (
                self._dirty_keys(self.left_store, left_changes, batch_id, self.left_key),
                self._dirty_keys(
                    self.right_store, right_changes, batch_id, self.right_key
                ),
            )
            if d is not None
        ]
        if not dirty:
            return False
        # dirty_k prunes four downstream joins; cache so the old-version
        # store reads behind it run once.
        dirty_k = (
            dirty[0] if len(dirty) == 1 else dirty[0].unionByName(dirty[1]).distinct()
        ).cache()

        if left_changes is not None:
            self.left_store.merge(left_changes, batch_id)
        if right_changes is not None:
            self.right_store.merge(right_changes, batch_id)

        left_now, right_now = self.left_store.read(), self.right_store.read()
        sub_a = left_now.join(
            F.broadcast(dirty_k), left_now[self.left_key] == dirty_k["__jk"], "left_semi"
        )
        sub_b = right_now.join(
            F.broadcast(dirty_k), right_now[self.right_key] == dirty_k["__jk"], "left_semi"
        )
        recomputed = self._join(sub_a, sub_b)
        mv_now = self.target.read()
        mv_dirty_old = mv_now.join(
            F.broadcast(dirty_k), mv_now[self._mv_key] == dirty_k["__jk"], "left_semi"
        )
        mv_changes = diff_states(mv_dirty_old, recomputed, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        dirty_k.unpersist()
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalThetaJoinMV:
    """Incremental MV for the two-sided NON-EQUI join

        SELECT cols FROM a JOIN b ON <row-local predicate>   -- theta
        e.g. ON a.ts BETWEEN b.lo AND b.hi                   -- interval

    with changelogs on both sides. There is no join key to dirty, so
    maintenance is **dirty-PK recompute**: a batch's changed PKs on
    either side re-derive exactly the joined rows that involve them —

        recomputed = (Lδ ⋈θ R) ∪ ((L − Lδ) ⋈θ Rδ)

    over the POST-merge states (Lδ = left rows whose PK changed this
    batch), diffed against the target rows holding a dirty PK on
    either side. Rows touching no dirty PK are provably unchanged.

    Cost model (the honest part): each batch pays |Lδ|×|R| + |L|×|Rδ|
    predicate evaluations — the change-bounded version of the inherent
    non-equi cost (Flink's stream-stream non-equi join keeps BOTH
    sides' full state and probes it per record for the same reason).
    Banded/interval predicates let Catalyst pick a broadcast or
    range-join strategy for the small dirty side; arbitrary theta
    degenerates to a nested loop with the BATCH as the tiny side. A
    matcher miss or an oversized batch belongs on recompute — this
    route exists for the steady trickle-churn regime.
    """

    # The alias-mirror sharing contract (app._SharedMirrorStore): this
    # route merges every source changelog into its mirror store
    # VERBATIM — no filter/enrichment/rename before the merge — so a
    # cascade outer of this class may alias a source mirror to the
    # inner level's target store. Routes that transform changes before
    # merging (grouping sets' hidden __g key, semijoin's WHERE
    # pre-filter, projection renames) must NOT set this.
    _mirrors_sources_verbatim = True


    def __init__(
        self,
        spark: SparkSession,
        left: DataFrame,
        left_pk: list[str],
        right: DataFrame,
        right_pk: list[str],
        predicate: str,
        out_cols: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.predicate = predicate
        self.out_cols = list(out_cols)
        self.left0, self.right0 = left, right
        overlap = set(c.lower() for c in left.columns) & set(
            c.lower() for c in right.columns
        )
        if overlap:
            raise ValueError(
                f"theta-join MV requires disjoint column names; shared: {sorted(overlap)}"
            )
        self.left_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "left"), left_pk, num_buckets
        )
        self.right_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "right"), right_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), [*left_pk, *right_pk], num_buckets
        )

    def _join(self, a: DataFrame, b: DataFrame, hint: str | None = None) -> DataFrame:
        """θ-join via a conditioned join (not crossJoin+filter: that
        plans a CartesianProduct whose task count is the PRODUCT of the
        sides' partition counts). ``hint`` broadcasts the side known to
        be batch-sized — per-batch recompute always has one — giving a
        BroadcastNestedLoopJoin whose loop side streams distributed."""
        cols = list(dict.fromkeys([*self.target.pk, *self.out_cols]))
        if hint == "left":
            a = F.broadcast(a)
        elif hint == "right":
            b = F.broadcast(b)
        else:
            # un-hinted (bootstrap): a non-equi join with no broadcast
            # side plans a CartesianProduct whose task count is the
            # PRODUCT of the sides' partition counts — bound each side
            # so the product stays ≤ ~1k tasks (each task simply scans
            # more rows; the total work is the same inherent O(|A|·|B|))
            a, b = a.coalesce(32), b.coalesce(32)
        return a.join(b, on=F.expr(self.predicate), how="inner").select(*cols)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.left_store.bootstrap(self.left0, batch_id)
        self.right_store.bootstrap(self.right0, batch_id)
        self.target.bootstrap(
            self._join(self.left_store.read(), self.right_store.read()), batch_id
        )

    @_maintenance
    def refresh(
        self,
        left_changes: DataFrame | None,
        right_changes: DataFrame | None,
        batch_id,
    ) -> bool:
        if batch_id in self.target.committed_batches():
            return False
        if left_changes is None and right_changes is None:
            return False
        lpk, rpk = self.left_store.pk, self.right_store.pk
        dirty_l = (
            last_change_per_key(left_changes, lpk).select(*lpk).localCheckpoint(eager=True)
            if left_changes is not None
            else None
        )
        dirty_r = (
            last_change_per_key(right_changes, rpk).select(*rpk).localCheckpoint(eager=True)
            if right_changes is not None
            else None
        )
        if left_changes is not None:
            self.left_store.merge(left_changes, batch_id)
        if right_changes is not None:
            self.right_store.merge(right_changes, batch_id)
        left_now, right_now = self.left_store.read(), self.right_store.read()

        parts = []
        if dirty_l is not None:
            parts.append(
                self._join(
                    left_now.join(F.broadcast(dirty_l), lpk, "left_semi"), right_now, hint="left"
                )
            )
        if dirty_r is not None:
            l_rest = (
                left_now.join(F.broadcast(dirty_l), lpk, "left_anti")
                if dirty_l is not None
                else left_now
            )
            parts.append(
                self._join(
                    l_rest, right_now.join(F.broadcast(dirty_r), rpk, "left_semi"), hint="right"
                )
            )
        recomputed = parts[0]
        for p in parts[1:]:
            recomputed = recomputed.unionByName(p)

        mv_now = self.target.read()
        olds = []
        if dirty_l is not None:
            olds.append(mv_now.join(F.broadcast(dirty_l), lpk, "left_semi"))
        if dirty_r is not None:
            olds.append(mv_now.join(F.broadcast(dirty_r), rpk, "left_semi"))
        mv_dirty_old = olds[0]
        for o in olds[1:]:
            mv_dirty_old = mv_dirty_old.unionByName(o)
        mv_dirty_old = mv_dirty_old.dropDuplicates(self.target.pk)

        mv_changes = diff_states(mv_dirty_old, recomputed, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalFullOuterJoinMV:
    """Incremental MV for the two-sided PRESERVED equi-join

        SELECT cols FROM fact FULL [OUTER] JOIN dim
          ON fact.fk1 = dim.k1 [AND fact.fk2 = dim.k2 …]

    with (k1, …) exactly the dim's declared PK — single-column or
    composite (each fact row matches ≤1 dim row). Flink's update-mode
    planner maintains FULL OUTER natively by
    keeping both sides' state and retracting a side's NULL-extended row
    when the other side arrives (the reference gets it by delegation,
    TiFlinkApp.java:270). Same effect here via dirty-key recompute +
    diff over a synthetic row identity:

    - a row's identity is ``f:<fact-pk>`` whenever the fact side is
      present (matched AND fact-only rows — a dim's arrival mutates the
      row's dim payload, not its identity), else ``d:<dim-keys>``
      (dim-only rows). The target is keyed by this identity because
      dim-only rows carry NULL fact PKs, which the keyed store —
      correctly — refuses.
    - per batch, the recomputed slice is the full-outer join of the
      fact rows whose PK changed or whose fk touches a dirty join key
      against the dim rows holding any key that slice references;
      within that key set the slice contains EVERY referencing fact
      row, so its dim-only rows are globally dim-only. Diffing against
      the same-identity target rows makes arrivals retract the other
      side's NULL-extension (``d:k`` deleted when fk=k first appears)
      and departures re-extend it (the last fk=k delete re-inserts
      ``d:k``; a dim delete re-NULLs its matched rows' payload).

    Per-batch work ∝ changed keys × fanout. Requires the select list to
    carry the fact PK, the fact fk, and the dim key (the identity and
    the dirty-slice probes are driven off the target's own columns).

    ``where`` is an optional row-local predicate over the view's OUTPUT
    columns. SQL evaluates WHERE after the join, so recompute is
    filter(full-outer-join); the MV applies the same filter to every
    recomputed slice before diffing — the target stores only passing
    rows, so a row leaving the predicate retracts and one entering it
    inserts, with no extra state. Exact for any deterministic row-local
    predicate, including ones over NULL-extended columns, because the
    filter sees exactly the joined rows recompute sees (the dirty-slice
    bookkeeping runs on the UNfiltered stores, so which keys are
    matched vs dim-only is decided before the filter, as in SQL).
    """

    ROWID = "__rowid"

    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        dim: DataFrame,
        dim_keys: str | list[str],
        fact_fks: str | list[str],
        out_cols: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        where: str | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.where = where
        self.fact0, self.dim0 = fact, dim
        self.fact_pk = list(fact_pk)
        # positionally paired equi-join columns; single-column keys may
        # be passed as bare strings
        self.dim_keys = [dim_keys] if isinstance(dim_keys, str) else list(dim_keys)
        self.fact_fks = [fact_fks] if isinstance(fact_fks, str) else list(fact_fks)
        if len(self.dim_keys) != len(self.fact_fks):
            raise ValueError("fact_fks and dim_keys must pair positionally")
        self.out_cols = list(out_cols)
        overlap = {c.lower() for c in fact.columns} & {c.lower() for c in dim.columns}
        if overlap:
            raise ValueError(
                f"full-outer-join MV requires disjoint column names; shared: {sorted(overlap)}"
            )
        missing = {*self.fact_pk, *self.fact_fks, *self.dim_keys} - set(out_cols)
        if missing:
            raise ValueError(
                f"full-outer-join MV select list must carry {sorted(missing)}"
            )
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), self.fact_pk, num_buckets
        )
        self.dim_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "dim"), self.dim_keys, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), [self.ROWID], num_buckets
        )

    def _rowid(self):
        return F.when(
            F.col(self.fact_pk[0]).isNotNull(),
            F.concat_ws(
                "\x1f", F.lit("f"), *[F.col(c).cast("string") for c in self.fact_pk]
            ),
        ).otherwise(
            F.concat_ws(
                "\x1f", F.lit("d"), *[F.col(k).cast("string") for k in self.dim_keys]
            )
        )

    def _joined(self, f: DataFrame, d: DataFrame) -> DataFrame:
        cond = None
        for fk, k in zip(self.fact_fks, self.dim_keys):
            c = f[fk] == d[k]
            cond = c if cond is None else (cond & c)
        j = f.join(d, cond, "full").select(*self.out_cols)
        if self.where is not None:
            # post-join, pre-diff: SQL's WHERE position exactly
            j = j.filter(F.expr(self.where))
        return j.withColumn(self.ROWID, self._rowid())

    def cascade_relation(self) -> DataFrame:
        """The view WITH its synthetic row identity — the relation an
        outer cascade level consumes (same contract as the UNION ALL
        and grouping-sets bag views): the visible output has no unique
        column (dim-only rows carry NULL fact PKs), but ``__rowid`` IS
        the target store's true key, so an outer MV keying by it never
        collapses rows. Lazy plan over the original sources — the same
        construction bootstrap publishes."""
        return self._joined(self.fact0, self.dim0)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.dim_store.bootstrap(self.dim0, batch_id)
        self.target.bootstrap(
            self._joined(self.fact_store.read(), self.dim_store.read()), batch_id
        )

    @_maintenance
    def refresh(
        self,
        fact_changes: DataFrame | None,
        dim_changes: DataFrame | None,
        batch_id,
    ) -> bool:
        if batch_id in self.target.committed_batches():
            return False
        if fact_changes is None and dim_changes is None:
            return False
        fpk, ks, fks = self.fact_pk, self.dim_keys, self.fact_fks

        def fk_as_keys(df: DataFrame) -> DataFrame:
            # a fact row with ANY NULL join column can never match —
            # it references no dim key (SQL null-unsafe equality)
            out = df.select(*[F.col(fk).alias(k) for fk, k in zip(fks, ks)])
            cond = F.lit(True)
            for k in ks:
                cond = cond & F.col(k).isNotNull()
            return out.filter(cond)

        dirty_f = (
            last_change_per_key(fact_changes, fpk)
            .select(*fpk)
            .localCheckpoint(eager=True)
            if fact_changes is not None
            else None
        )
        key_parts = []
        if dim_changes is not None:
            key_parts.append(last_change_per_key(dim_changes, ks).select(*ks))
        if dirty_f is not None:
            # OLD fks of the dirty fact rows: an update that moves a row
            # off key k may leave k fact-less — its d:k row must appear.
            if batch_id in self.fact_store.committed_batches():
                pre = self.fact_store.read(
                    self.fact_store.version_before_batch(batch_id)
                )
            else:
                pre = self.fact_store.read()
            key_parts.append(fk_as_keys(pre.join(F.broadcast(dirty_f), fpk, "left_semi")))

        if fact_changes is not None:
            self.fact_store.merge(fact_changes, batch_id)
        if dim_changes is not None:
            self.dim_store.merge(dim_changes, batch_id)
        fact_now, dim_now = self.fact_store.read(), self.dim_store.read()

        if dirty_f is not None:
            key_parts.append(fk_as_keys(fact_now.join(F.broadcast(dirty_f), fpk, "left_semi")))
        dirty_keys = key_parts[0]
        for p in key_parts[1:]:
            dirty_keys = dirty_keys.unionByName(p)
        dirty_keys = dirty_keys.distinct().localCheckpoint(eager=True)

        # fact slice: PK-dirty rows ∪ rows referencing a dirty key
        cond = None
        for fk, k in zip(fks, ks):
            c = fact_now[fk] == dirty_keys[k]
            cond = c if cond is None else (cond & c)
        l_slice = fact_now.join(F.broadcast(dirty_keys), cond, "left_semi")
        if dirty_f is not None:
            l_slice = l_slice.unionByName(
                fact_now.join(F.broadcast(dirty_f), fpk, "left_semi")
            ).dropDuplicates(fpk)
        l_slice = l_slice.localCheckpoint(eager=True)
        # every key the slice references (clean keys of PK-dirty rows
        # included — their dim payload must re-join, not NULL-extend)
        ref_keys = (
            fk_as_keys(l_slice)
            .unionByName(dirty_keys)
            .distinct()
            .localCheckpoint(eager=True)
        )
        r_slice = dim_now.join(F.broadcast(ref_keys), ks, "left_semi")
        recomputed = self._joined(l_slice, r_slice)

        # same-identity old rows: f-rows for the slice's (and deleted)
        # PKs; d-rows for every referenced key
        mv_now = self.target.read()
        olds = [
            mv_now.join(
                l_slice.select(*fpk).unionByName(dirty_f.select(*fpk)).distinct()
                if dirty_f is not None
                else l_slice.select(*fpk).distinct(),
                fpk,
                "left_semi",
            ),
            mv_now.filter(F.col(fpk[0]).isNull()).join(ref_keys, ks, "left_semi"),
        ]
        mv_dirty_old = (
            olds[0].unionByName(olds[1]).dropDuplicates([self.ROWID])
        )
        mv_changes = diff_states(mv_dirty_old, recomputed, [self.ROWID])
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version).drop(self.ROWID)


class IncrementalSemiJoinMV:
    """Incremental MV for the correlated-existence filter

        SELECT fact-cols FROM fact
        WHERE [row-local AND] [NOT] EXISTS (
            SELECT 1 FROM other WHERE other.k = fact.fk)

    (and the ``IN (SELECT k FROM other)`` spelling). Flink's update-mode
    planner compiles this to a streaming semi/anti join keeping presence
    state per join key; here the ``other`` store IS that state and
    maintenance is membership re-evaluation, pruned two ways:

    - fact-side changes re-evaluate membership for exactly the changed
      PKs (deleted fact rows leave the view; upserts probe the current
      ``other`` key set);
    - other-side changes dirty their key values (new plus displaced old
      versions) and re-evaluate only the fact rows HOLDING those values
      — one semi-join against the fact store, never a full scan.

    NULL semantics match SQL exactly because membership is an equality
    probe: a NULL fact key matches nothing, so it is excluded from the
    semi view and included in the anti view — the same rows Spark's
    left_semi/left_anti produce. The target is keyed by the fact PK.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        other: DataFrame,
        other_pk: list[str],
        fact_key: str,
        other_key: str,
        out_cols: list[str],
        work_dir: str,
        anti: bool = False,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        where: str | None = None,
        null_aware: bool = False,
        other_where: str | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.anti = anti
        # NOT IN semantics, fully null-aware (no NOT NULL contract on
        # the inner column required):
        # - inner column holds ANY NULL -> the view is EMPTY (x NOT IN
        #   (…, NULL, …) is FALSE or UNKNOWN for every x);
        # - else a NULL fact key is in the view only while the other
        #   side is EMPTY (NULL NOT IN () is vacuously true).
        # Both facts are one driver-side boolean probe per batch over
        # the maintained other store (the "null-presence state"); a
        # flip of the null bit re-evaluates every fact row — inherent
        # to NOT IN, whose whole result flips with it.
        self.null_aware = null_aware
        # Composite correlation keys are first-class (EXISTS with a
        # conjunction of equalities); positionally paired. NOT IN is
        # single-column by syntax.
        self.fact_keys = [fact_key] if isinstance(fact_key, str) else list(fact_key)
        self.other_keys = (
            [other_key] if isinstance(other_key, str) else list(other_key)
        )
        if len(self.fact_keys) != len(self.other_keys):
            raise ValueError("fact_key and other_key must pair positionally")
        if null_aware and len(self.fact_keys) != 1:
            raise ValueError("null-aware NOT IN is single-column by syntax")
        self.fact_key = self.fact_keys[0]
        self.other_key = self.other_keys[0]
        self.out_cols = list(out_cols)
        # Row-local fact-side conjunct: filtered bootstrap + the
        # stateless changelog filter rule per fact batch.
        self.where = where
        self.fact0 = fact.filter(F.expr(where)) if where is not None else fact
        # Row-local INNER filter — the uncorrelated
        # ``IN (SELECT k FROM other WHERE local)`` form (round 10):
        # the other store holds only passing rows (filtered bootstrap;
        # incoming inner batches run the same stateless changelog
        # filter rule, +I/+U failing it demoting to -D).
        self.other_where = other_where
        self.other0 = (
            other.filter(F.expr(other_where)) if other_where is not None else other
        )
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), fact_pk, num_buckets
        )
        self.other_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "other"), other_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), list(fact_pk), num_buckets
        )

    def _other_keys(self, other_now: DataFrame) -> DataFrame:
        """The current presence-key set (distinct, all-columns-non-null
        — a tuple with any NULL can never equality-match)."""
        out = other_now.select(
            *[
                F.col(k).alias(f"__ok{i}")
                for i, k in enumerate(self.other_keys)
            ]
        )
        cond = F.lit(True)
        for i in range(len(self.other_keys)):
            cond = cond & F.col(f"__ok{i}").isNotNull()
        return out.where(cond).distinct()

    def _key_match(self, rows: DataFrame, keys: DataFrame):
        """Null-unsafe equality of the fact's correlation tuple against
        the presence-key frame (SQL equality: NULL matches nothing)."""
        cond = None
        for i, fk in enumerate(self.fact_keys):
            c = rows[fk] == keys[f"__ok{i}"]
            cond = c if cond is None else (cond & c)
        return cond

    def _other_has_null(self, other_now: DataFrame) -> bool:
        """Null-presence bit of the inner column (NOT IN only)."""
        return not other_now.where(F.col(self.other_key).isNull()).isEmpty()

    def _member_rows(
        self,
        rows: DataFrame,
        keys: DataFrame,
        other_empty: bool = False,
        other_has_null: bool = False,
    ) -> DataFrame:
        """``rows`` with a ``__member`` flag: True iff the row belongs
        to the view under the given presence-key set."""
        flagged = rows.join(keys, self._key_match(rows, keys), "left")
        present = F.col("__ok0").isNotNull()
        member = ~present if self.anti else present
        if self.anti and self.null_aware:
            # an inner NULL empties the whole view; otherwise a NULL
            # fact key is admitted only against an empty inner set
            member = (
                member
                & F.lit(not other_has_null)
                & (F.col(self.fact_key).isNotNull() | F.lit(other_empty))
            )
        return flagged.withColumn("__member", member).drop(
            *[f"__ok{i}" for i in range(len(self.other_keys))]
        )

    def _view(self, fact_rows: DataFrame, other_now: DataFrame) -> DataFrame:
        how = "left_anti" if self.anti else "left_semi"
        keys = self._other_keys(other_now)
        out = fact_rows.join(keys, self._key_match(fact_rows, keys), how)
        if self.anti and self.null_aware:
            if self._other_has_null(other_now):
                # inner NULL: x NOT IN (…, NULL, …) is never TRUE
                return out.where(F.lit(False)).select(*self.out_cols)
            if not keys.isEmpty():
                # left_anti keeps NULL-key rows; NOT IN admits them only
                # against an empty inner set
                out = out.where(F.col(self.fact_key).isNotNull())
        return out.select(*self.out_cols)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.other_store.bootstrap(self.other0, batch_id)
        self.target.bootstrap(
            self._view(self.fact_store.read(), self.other_store.read()), batch_id
        )

    def _dirty_other_keys(self, changes: DataFrame, batch_id) -> DataFrame:
        """Key values touched by an ``other`` batch: the new rows'
        values plus the displaced old versions' values."""
        store = self.other_store
        if batch_id in store.committed_batches():
            old = store.read(store.version_before_batch(batch_id))
        else:
            old = store.read()
        changed_pks = last_change_per_key(changes, store.pk).select(*store.pk)
        dk = [
            (k, f"__dk{i}") for i, k in enumerate(self.other_keys)
        ]
        old_keys = old.join(F.broadcast(changed_pks), store.pk, "left_semi").select(
            *[F.col(k).alias(a) for k, a in dk]
        )
        new_keys = changes.select(*[F.col(k).alias(a) for k, a in dk])
        cond = F.lit(True)
        for _, a in dk:
            cond = cond & F.col(a).isNotNull()
        return old_keys.unionByName(new_keys).where(cond).distinct()

    @_maintenance
    def refresh(
        self,
        fact_changes: DataFrame | None,
        other_changes: DataFrame | None,
        batch_id,
    ) -> bool:
        if batch_id in self.target.committed_batches():
            return False
        if fact_changes is None and other_changes is None:
            return False
        if fact_changes is not None and self.where is not None:
            from tiflink_spark.changelog import apply_filter

            fact_changes = apply_filter(fact_changes, self.where)
        if other_changes is not None and self.other_where is not None:
            from tiflink_spark.changelog import apply_filter

            other_changes = apply_filter(other_changes, self.other_where)
        dirty_ok = (
            self._dirty_other_keys(other_changes, batch_id)
            if other_changes is not None
            else None
        )
        if fact_changes is not None:
            self.fact_store.merge(fact_changes, batch_id)
        if other_changes is not None:
            self.other_store.merge(other_changes, batch_id)
        # One distinct key-set build shared by every membership probe in
        # this batch (a two-sided batch probes twice).
        other_now_read = self.other_store.read()
        other_keys = self._other_keys(other_now_read)
        if self.anti and self.null_aware:
            post_empty = other_keys.isEmpty()
            post_has_null = self._other_has_null(other_now_read)
        else:
            post_empty = post_has_null = False

        def upserts(rows: DataFrame) -> DataFrame:
            """Changed fact rows → +U when in the view, -D when not."""
            flagged = self._member_rows(
                rows,
                other_keys,
                other_empty=post_empty,
                other_has_null=post_has_null,
            )
            return flagged.select(
                *self.out_cols,
                F.when(F.col("__member"), F.lit(OP_UPDATE))
                .otherwise(F.lit(OP_DELETE))
                .alias(OP_COL),
            )

        parts: list[DataFrame] = []
        if fact_changes is not None:
            final = last_change_per_key(fact_changes, self.fact_store.pk)
            dels = final.filter(F.col(OP_COL) == OP_DELETE)
            parts.append(
                dels.select(*self.out_cols).withColumn(OP_COL, F.lit(OP_DELETE))
            )
            ups = final.filter(F.col(OP_COL) != OP_DELETE).drop(OP_COL, SEQ_COL)
            parts.append(upserts(ups))
        if dirty_ok is not None:
            fact_now = self.fact_store.read()
            dcond = None
            for i, fk in enumerate(self.fact_keys):
                c = fact_now[fk] == dirty_ok[f"__dk{i}"]
                dcond = c if dcond is None else (dcond & c)
            affected = fact_now.join(dirty_ok, dcond, "left_semi")
            parts.append(upserts(affected))
            if self.anti and self.null_aware:
                store = self.other_store
                if batch_id in store.committed_batches():
                    pre = store.read(store.version_before_batch(batch_id))
                else:
                    pre = store.read()
                if self._other_has_null(pre) != post_has_null:
                    # the inner NULL bit flipped: EVERY fact row's
                    # membership flips with it (the view empties or
                    # un-empties) — re-evaluate the whole fact. Full-
                    # view work, but inherent to NOT IN semantics.
                    parts.append(upserts(fact_now))
                elif self._other_keys(pre).isEmpty() != post_empty:
                    # NULL-key fact rows hold no dirty VALUE, but their
                    # membership flips with the other side's emptiness
                    parts.append(
                        upserts(fact_now.where(F.col(self.fact_key).isNull()))
                    )
        # Later parts supersede earlier ones per fact PK (the other-side
        # part sees the post-batch fact state, so it is freshest).
        mv_changes = parts[0].withColumn(SEQ_COL, F.lit(0).cast("long"))
        for i, p in enumerate(parts[1:], start=1):
            mv_changes = mv_changes.unionByName(
                p.withColumn(SEQ_COL, F.lit(i).cast("long"))
            )
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalCorrSemiJoinMV:
    """Incremental MV for the CORRELATED-inner IN / NOT IN filter

        SELECT fact-cols FROM fact c
        WHERE [row-local AND] fcol [NOT] IN (
            SELECT ocol FROM other o
            WHERE [inner-local AND] o.x <op> c.y [AND ...])

    — the r9 recompute-only tail 'NOT IN with correlated non-equality
    predicates' (round 10). The inner set S(c) varies PER OUTER ROW
    through the theta terms, so there is no global presence-key state
    (the machinery IncrementalSemiJoinMV keeps); membership is
    evaluated EXACTLY for each dirty outer row from three per-row bits
    computed in one aggregate over the theta join:

        has_match(c) = ∃o: local(o) ∧ θ(o,c) ∧ o.ocol = c.fcol
        has_null(c)  = ∃o: local(o) ∧ θ(o,c) ∧ o.ocol IS NULL
        nonempty(c)  = ∃o: local(o) ∧ θ(o,c)

        IN:     member = has_match
        NOT IN: member = ¬has_match ∧ ¬has_null
                         ∧ (c.fcol IS NOT NULL ∨ ¬nonempty)

    — exactly SQL's three-valued IN, row by row. Dirtying:

    - fact changes re-evaluate exactly the changed PKs;
    - other changes dirty the fact rows in theta range of the changed
      rows' old OR new versions (one theta semi-join with the
      batch-sized side broadcast) — an inner row outside every θ range
      affects nobody, and NULL theta values satisfy no comparison.

    Cost model: with any '=' term in θ, Catalyst hash-joins on the
    equality (inequalities as residual) — |dirty|×|S(c)| work. The
    PURE single-inequality shape instead decomposes exactly (monotone
    op: ∃o∈G: ie OP expr ⟺ extreme(G.ie) OP expr), so membership is
    one LINEAR aggregate over the inner side + an equi join and the
    affected-set probe is one scalar extreme (_member_rows_1d; the
    pair-join form was |dirty|×|other| and degenerated to a 300s
    broadcast-build timeout under wide churn at sf0.1). Remaining
    pair-join shapes (multi-inequality, <>) keep the change-bounded
    theta join — the inherent per-row membership cost (Flink's planner
    de-correlates this shape to the same theta anti-join over full
    state); a matcher miss or an oversized batch belongs on recompute.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        other: DataFrame,
        other_pk: list[str],
        fact_key: str | None,
        other_key: str | None,
        corr: list[tuple[str, str, str]],
        out_cols: list[str],
        work_dir: str,
        anti: bool = False,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        where: str | None = None,
        inner_where: str | None = None,
        exists_mode: bool = False,
    ):
        if not corr:
            raise ValueError(
                "no correlated terms — route the uncorrelated filtered "
                "subquery through IncrementalSemiJoinMV(other_where=...)"
            )
        if exists_mode and (fact_key is not None or other_key is not None):
            raise ValueError("exists_mode carries no IN key columns")
        if not exists_mode and (fact_key is None or other_key is None):
            raise ValueError("the IN form requires fact_key and other_key")
        # EXISTS form (round 10): membership is bare per-row
        # non-emptiness of S(c) — no match/null bits, no key columns.
        self.exists_mode = exists_mode
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.anti = anti
        self.fact_key = fact_key
        self.other_key = other_key
        self.corr = [tuple(t) for t in corr]
        self.out_cols = list(out_cols)
        self.where = where
        self.inner_where = inner_where
        self.fact0 = fact.filter(F.expr(where)) if where is not None else fact
        self.other0 = other
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), fact_pk, num_buckets
        )
        self.other_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "other"), other_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), list(fact_pk), num_buckets
        )

    def _inner_eval(self, other_now: DataFrame) -> DataFrame:
        """The inner relation reduced to evaluation form: local filter
        applied, the IN column as ``__i_okey`` and each theta term's
        inner-side EXPRESSION pre-computed as ``__ie{k}`` (keeps the
        theta join unambiguous), plus a match indicator for the left
        join."""
        o = other_now
        if self.inner_where is not None:
            o = o.filter(F.expr(self.inner_where))
        key_cols = (
            [] if self.other_key is None
            else [F.col(self.other_key).alias("__i_okey")]
        )
        return o.select(
            *key_cols,
            *[
                F.expr(ie).alias(f"__ie{k}")
                for k, (ie, _, _) in enumerate(self.corr)
            ],
        ).withColumn("__i__present", F.lit(1))

    def _theta_cond(self, iprefix: str = "__ie"):
        cond = None
        for k, (_, op, oe) in enumerate(self.corr):
            l, r = F.col(f"{iprefix}{k}"), F.expr(oe)
            c = {
                "=": l == r,
                "<": l < r,
                "<=": l <= r,
                ">": l > r,
                ">=": l >= r,
            }.get(op)
            if c is None:  # <> / !=
                c = l != r
            cond = c if cond is None else cond & c
        return cond

    def _ineq_1d(self) -> tuple[str, str] | None:
        """(op, outer_expr) when corr is EXACTLY ONE monotone
        inequality — the shape whose membership bits decompose into
        extremes of the inner side (see _member_rows_1d) — else None.
        With any '=' term Catalyst already plans the theta join as a
        hash join on the equality (inequalities ride as residual), so
        only the pure-inequality case needs the rewrite."""
        if len(self.corr) != 1:
            return None
        _, op, oe = self.corr[0]
        return (op, oe) if op in ("<", "<=", ">", ">=") else None

    @staticmethod
    def _extreme_cmp(extreme, op: str, oe: str):
        """``extreme OP outer_expr`` with NULL collapsed to False —
        matching the pair join, where a NULL on either side satisfies
        no comparison and an empty inner set yields bit 0."""
        r = F.expr(oe)
        c = {"<": extreme < r, "<=": extreme <= r,
             ">": extreme > r, ">=": extreme >= r}[op]
        return F.coalesce(c, F.lit(False))

    def _member_rows_1d(
        self, rows: DataFrame, other_eval: DataFrame, op: str, oe: str
    ) -> DataFrame:
        """Single-inequality membership WITHOUT the |rows|x|other| pair
        join: for a monotone op, ``∃o∈G: o.ie OP c.expr`` over any inner
        group G is ``extreme(G.ie) OP c.expr`` (max for >/>=, min for
        </<= — max/min ignore NULL ie exactly as the theta cond does).
        So the three bits reduce to one linear aggregate over the inner
        side + one equi join:

            nonempty(c) = extreme(all ie)            OP c.expr
            has_null(c) = extreme(ie | okey IS NULL) OP c.expr
            has_match(c)= extreme(ie | okey=c.fcol)  OP c.expr

        The pair-join form degenerated to |fact|x|other| interpreted
        predicate evaluations under wide churn (sf0.1: 2e9 pairs, a
        300s broadcast-build timeout); this is exact and linear."""
        agg = F.max if op in (">", ">=") else F.min
        ie = F.col("__ie0")
        if self.exists_mode:
            stats = other_eval.agg(agg(ie).alias("__s_any"))
            out = rows.crossJoin(F.broadcast(stats))
            nonempty = self._extreme_cmp(F.col("__s_any"), op, oe)
            member = ~nonempty if self.anti else nonempty
            return out.withColumn("__member", member).drop("__s_any")
        # ONE pass over the inner side: per-key extremes (the NULL-key
        # group rides along — it never equi-matches fact_key), then the
        # global/null-group extremes fold over the keyed frame (max of
        # per-group maxes = global max; same for min).
        keyed = other_eval.groupBy("__i_okey").agg(agg(ie).alias("__s_key"))
        stats = keyed.agg(
            agg(F.col("__s_key")).alias("__s_any"),
            agg(
                F.when(F.col("__i_okey").isNull(), F.col("__s_key"))
            ).alias("__s_null"),
        )
        # Scale-gated broadcast: refresh runs with AQE off, so without
        # the hint Catalyst sort-merges the (stat-less MOR-chain) keyed
        # frame through the delta-tuned partition count — measured 2.5x
        # lifecycle cost at tiny SF. Keyed extremes are <= |distinct
        # keys| narrow rows; hint only while the store's recorded row
        # count says they surely fit, shuffle join at table scale.
        n = self.other_store.bootstrap_rows()
        k = (
            F.broadcast(keyed)
            if n is not None and n <= CODEGEN_DELTA_ROWS
            else keyed
        )
        out = (
            rows.join(k, F.col(self.fact_key) == F.col("__i_okey"), "left")
            .drop("__i_okey")
            .crossJoin(F.broadcast(stats))
        )
        match = self._extreme_cmp(F.col("__s_key"), op, oe)
        has_null = self._extreme_cmp(F.col("__s_null"), op, oe)
        nonempty = self._extreme_cmp(F.col("__s_any"), op, oe)
        if self.anti:
            member = (
                (~match)
                & (~has_null)
                & (F.col(self.fact_key).isNotNull() | ~nonempty)
            )
        else:
            member = match
        return out.withColumn("__member", member).drop(
            "__s_key", "__s_null", "__s_any"
        )

    def _member_rows(
        self, rows: DataFrame, other_eval: DataFrame, hint: bool
    ) -> DataFrame:
        """``rows`` (fact slice) + ``__member``. ``hint=True``
        broadcasts the rows side (batch-sized dirty slice) for a
        BroadcastNestedLoopJoin whose inner side streams distributed;
        un-hinted (bootstrap) bounds both sides' partition counts so
        the non-equi join's task product stays ~1k (same mitigation as
        IncrementalThetaJoinMV._join)."""
        ineq = self._ineq_1d()
        if ineq is not None:
            return self._member_rows_1d(rows, other_eval, *ineq)
        pk = self.target.pk
        left = rows
        right = other_eval
        if hint:
            left = F.broadcast(left)
        else:
            left, right = left.coalesce(32), right.coalesce(32)
        j = left.join(right, self._theta_cond(), "left")
        any_bit = F.max(
            F.when(F.col("__i__present").isNotNull(), 1).otherwise(0)
        ).alias("__b_any")
        if self.exists_mode:
            bits = j.groupBy(*pk).agg(any_bit)
        else:
            ikey = "__i_okey"
            bits = j.groupBy(*pk).agg(
                F.max(
                    F.when(F.col(ikey) == F.col(self.fact_key), 1).otherwise(0)
                ).alias("__b_match"),
                F.max(
                    F.when(
                        F.col("__i__present").isNotNull() & F.col(ikey).isNull(),
                        1,
                    ).otherwise(0)
                ).alias("__b_null"),
                any_bit,
            )
        out = rows.join(F.broadcast(bits), pk, "left")
        nonempty = F.coalesce(F.col("__b_any"), F.lit(0)) == 1
        if self.exists_mode:
            member = ~nonempty if self.anti else nonempty
            return out.withColumn("__member", member).drop("__b_any")
        match = F.coalesce(F.col("__b_match"), F.lit(0)) == 1
        has_null = F.coalesce(F.col("__b_null"), F.lit(0)) == 1
        if self.anti:
            member = (
                (~match)
                & (~has_null)
                & (F.col(self.fact_key).isNotNull() | ~nonempty)
            )
        else:
            member = match
        return out.withColumn("__member", member).drop(
            "__b_match", "__b_null", "__b_any"
        )

    def _view(self, fact_rows: DataFrame, other_now: DataFrame) -> DataFrame:
        flagged = self._member_rows(
            fact_rows, self._inner_eval(other_now), hint=False
        )
        return flagged.filter(F.col("__member")).select(*self.out_cols)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.other_store.bootstrap(self.other0, batch_id)
        self.target.bootstrap(
            self._view(self.fact_store.read(), self.other_store.read()), batch_id
        )

    def _dirty_theta_vals(self, changes: DataFrame, batch_id) -> DataFrame:
        """Theta-column tuples of the changed inner rows' old AND new
        versions (each passed through the local filter — a version
        outside it was never in any S(c)), distinct and prefixed."""
        store = self.other_store
        if batch_id in store.committed_batches():
            old = store.read(store.version_before_batch(batch_id))
        else:
            old = store.read()
        changed_pks = last_change_per_key(changes, store.pk).select(*store.pk)
        old_rows = old.join(F.broadcast(changed_pks), store.pk, "left_semi")
        new_rows = changes.filter(F.col(OP_COL) != OP_DELETE).select(*old.columns)
        both = old_rows.unionByName(new_rows)
        if self.inner_where is not None:
            both = both.filter(F.expr(self.inner_where))
        return both.select(
            *[
                F.expr(ie).alias(f"__d{k}")
                for k, (ie, _, _) in enumerate(self.corr)
            ]
        ).distinct()

    @_maintenance
    def refresh(
        self,
        fact_changes: DataFrame | None,
        other_changes: DataFrame | None,
        batch_id,
    ) -> bool:
        if batch_id in self.target.committed_batches():
            return False
        if fact_changes is None and other_changes is None:
            return False
        if fact_changes is not None and self.where is not None:
            from tiflink_spark.changelog import apply_filter

            fact_changes = apply_filter(fact_changes, self.where)
        dirty_vals = (
            self._dirty_theta_vals(other_changes, batch_id)
            if other_changes is not None
            else None
        )
        if fact_changes is not None:
            self.fact_store.merge(fact_changes, batch_id)
        if other_changes is not None:
            self.other_store.merge(other_changes, batch_id)
        other_eval = self._inner_eval(self.other_store.read())

        def upserts(rows: DataFrame) -> DataFrame:
            flagged = self._member_rows(rows, other_eval, hint=True)
            return flagged.select(
                *self.out_cols,
                F.when(F.col("__member"), F.lit(OP_UPDATE))
                .otherwise(F.lit(OP_DELETE))
                .alias(OP_COL),
            )

        parts: list[DataFrame] = []
        if fact_changes is not None:
            final = last_change_per_key(fact_changes, self.fact_store.pk)
            dels = final.filter(F.col(OP_COL) == OP_DELETE)
            parts.append(
                dels.select(*self.out_cols).withColumn(OP_COL, F.lit(OP_DELETE))
            )
            ups = final.filter(F.col(OP_COL) != OP_DELETE).drop(OP_COL, SEQ_COL)
            parts.append(upserts(ups))
        if dirty_vals is not None:
            fact_now = self.fact_store.read()
            ineq = self._ineq_1d()
            if ineq is not None:
                # Same decomposition as _member_rows_1d: ∃d: d0 OP expr
                # over the dirty-value set ⟺ extreme(d0) OP expr, so
                # the |fact|x|δ| theta semi-join collapses to one scalar
                # probe (empty δ → NULL extreme → no row affected, as
                # with the empty semi-join build side).
                op, oe = ineq
                agg = F.max if op in (">", ">=") else F.min
                dstat = dirty_vals.agg(agg(F.col("__d0")).alias("__d_x"))
                affected = (
                    fact_now.crossJoin(F.broadcast(dstat))
                    .filter(self._extreme_cmp(F.col("__d_x"), op, oe))
                    .drop("__d_x")
                )
            else:
                affected = fact_now.join(
                    F.broadcast(dirty_vals), self._theta_cond("__d"), "left_semi"
                )
            parts.append(upserts(affected))
        mv_changes = parts[0].withColumn(SEQ_COL, F.lit(0).cast("long"))
        for i, p in enumerate(parts[1:], start=1):
            mv_changes = mv_changes.unionByName(
                p.withColumn(SEQ_COL, F.lit(i).cast("long"))
            )
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalCorrScalarAggMV:
    """Incremental MV for the theta-correlated SCALAR aggregate

        SELECT d-cols, (SELECT agg(x|*) FROM fact f
                        WHERE [local AND] f.x <op> d.y ...) AS a
        FROM dim d

    — the flagship correlated-aggregate shape (TiFlinkExample.java:
    10-16) widened past its single fk = pk equality (round 10). With
    theta terms the per-row set S(d) cannot decorrelate to a keyed
    GROUP BY (IncrementalAggMV's trick via CorrelatedCountShape), so
    the aggregate is evaluated EXACTLY per dirty dim row over one
    theta join: dirty rows broadcast against the (locally filtered)
    fact store, grouped by the dim PK. SQL scalar-subquery semantics
    hold row by row: COUNT of an empty set is 0, SUM/AVG/MIN/MAX are
    NULL, and NULL aggregate inputs are ignored.

    Dirtying mirrors IncrementalCorrSemiJoinMV: dim changes re-evaluate
    exactly the changed PKs; fact changes re-evaluate only dim rows in
    theta range of the changed rows' old/new versions (one theta
    semi-join, the batch side broadcast). Same cost model as the theta
    join family — |dirty|×|fact| predicate evaluations, broadcast
    nested loop with the batch tiny side, hash join when an equality
    term is present.
    """

    # The alias-mirror sharing contract (app._SharedMirrorStore): this
    # route merges every source changelog into its mirror store
    # VERBATIM — no filter/enrichment/rename before the merge — so a
    # cascade outer of this class may alias a source mirror to the
    # inner level's target store. Routes that transform changes before
    # merging (grouping sets' hidden __g key, semijoin's WHERE
    # pre-filter, projection renames) must NOT set this.
    _mirrors_sources_verbatim = True


    def __init__(
        self,
        spark: SparkSession,
        dim: DataFrame,
        dim_pk: list[str],
        fact: DataFrame,
        fact_pk: list[str],
        akind: str,
        acol: str | None,
        alias: str,
        corr: list[tuple[str, str, str]],
        out_cols: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        inner_where: str | None = None,
    ):
        if not corr:
            raise ValueError("at least one correlated term required")
        if akind not in ("count", "sum", "avg", "min", "max"):
            raise ValueError(f"unsupported aggregate {akind!r}")
        if acol is None and akind != "count":
            raise ValueError("bare * is COUNT-only")
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.akind = akind
        self.acol = acol
        self.alias = alias
        self.corr = [tuple(t) for t in corr]
        self.out_cols = list(out_cols)
        self.inner_where = inner_where
        self.dim0, self.fact0 = dim, fact
        self.dim_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "dim"), dim_pk, num_buckets
        )
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), fact_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), list(dim_pk), num_buckets
        )

    def _fact_eval(self, fact_now: DataFrame) -> DataFrame:
        o = fact_now
        if self.inner_where is not None:
            o = o.filter(F.expr(self.inner_where))
        cols = [
            F.expr(ie).alias(f"__ie{k}") for k, (ie, _, _) in enumerate(self.corr)
        ]
        if self.acol is not None:
            cols.append(F.col(self.acol).alias("__aval"))
        return o.select(*cols).withColumn("__i__present", F.lit(1))

    def _theta_cond(self, iprefix: str = "__ie"):
        cond = None
        for k, (_, op, oe) in enumerate(self.corr):
            l, r = F.col(f"{iprefix}{k}"), F.expr(oe)
            c = {
                "=": l == r,
                "<": l < r,
                "<=": l <= r,
                ">": l > r,
                ">=": l >= r,
            }.get(op)
            if c is None:  # <> / !=
                c = l != r
            cond = c if cond is None else cond & c
        return cond

    def _ineq_1d(self) -> tuple[str, str] | None:
        """(op, outer_expr) when corr is EXACTLY ONE monotone inequality
        AND the aggregate reassociates safely — the shape whose scalar
        aggregate decomposes into prefix aggregates over the ie-sorted
        value domain (see _valued_rows_1d) — else None. With any '='
        term Catalyst hash-joins on the equality, so only the pure-
        inequality case (the |dirty|x|fact| pair join, quadratic under
        wide churn — the scalar-agg sibling of the r10 NOT-IN fix)
        needs the rewrite."""
        if len(self.corr) != 1:
            return None
        ie, op, oe = self.corr[0]
        if op not in ("<", "<=", ">", ">="):
            return None
        # The prefix path orders the UNION of ie and oe values, whose
        # coercion can differ from the pair join's comparison (numeric
        # vs string unions to string: lexicographic order). Fail closed
        # unless the operand types are identical or both numeric.
        it = self.fact0.select(F.expr(ie)).schema[0].dataType
        ot = self.dim0.select(F.expr(oe)).schema[0].dataType
        if it != ot and not (
            isinstance(it, NumericType) and isinstance(ot, NumericType)
        ):
            return None
        if self.acol is not None and self.akind in ("sum", "avg"):
            # min/max reassociate exactly for any orderable type;
            # sum/avg of partials are exact for integrals and inside
            # the engine's accepted float class for float/double —
            # but NOT decimals (Spark's decimal sum/avg carry widened
            # precision the partial-sum division would not reproduce).
            dt = dict(self.fact0.dtypes).get(self.acol, "")
            if dt not in (
                "tinyint", "smallint", "int", "bigint", "float", "double"
            ):
                return None
        return (op, oe)

    def _valued_rows_1d(
        self, rows: DataFrame, fact_eval: DataFrame, op: str, oe: str,
        hint: bool,
    ) -> DataFrame:
        """Single-inequality scalar aggregate WITHOUT the |rows|x|fact|
        pair join: agg over S(d) = {f : f.ie OP d.oe} is a PREFIX
        aggregate of the ie-sorted fact value domain (the sorted-array
        + binary-search form, vectorized):

        1. ONE hash aggregate collapses the fact side to per-distinct-
           ie partials (count/count(a)/sum/min/max — partial agg, so
           hot values never skew a shuffle);
        2. running totals over that domain UNIONed with the distinct
           probe values — one window over |distinct ie| + |probes|
           rows ordered by value, ASC for </<= and DESC for >/>=, with
           ties broken so an equal fact value lands inside the prefix
           exactly for the inclusive ops (the same single-partition-
           over-the-VALUE-DOMAIN shape quality_decile_binning pins);
        3. one equi join attaches each probe's prefix aggregate back.

        NULL semantics are the pair join's, case by case: NULL ie rows
        belong to no S (filtered before the partials); a NULL probe
        expression matches nothing (null-unsafe equi join miss → COUNT
        0, SUM/AVG/MIN/MAX NULL); an empty prefix leaves the running
        totals NULL (COUNT coalesced to 0); NULL aggregate inputs are
        skipped by count(a)/sum/min/max partials exactly as the direct
        aggregate skips them. The pair-join form was |dirty|x|fact|
        interpreted predicate evaluations under wide churn — the same
        quadratic class whose membership sibling timed out at sf0.1
        before the r10 decomposition."""
        from pyspark.sql import Window

        inclusive = op in ("<=", ">=")
        desc = op in (">", ">=")
        fe = fact_eval.filter(F.col("__ie0").isNotNull())
        aggs = [F.count(F.lit(1)).alias("__pc")]
        if self.acol is not None:
            aggs += [
                F.count("__aval").alias("__pca"),
                F.sum("__aval").alias("__ps"),
                F.min("__aval").alias("__pmn"),
                F.max("__aval").alias("__pmx"),
            ]
        partials = fe.groupBy(F.col("__ie0").alias("__val")).agg(*aggs)
        probes = (
            rows.select(F.expr(oe).alias("__val"))
            .where(F.col("__val").isNotNull())
            .distinct()
        )
        # an equal fact value sorts INTO the prefix for <=/>= and
        # AFTER the probe for the strict ops
        src_f, src_p = (0, 1) if inclusive else (1, 0)
        part_fields = [
            (f2.name, f2.dataType)
            for f2 in partials.schema.fields
            if f2.name != "__val"
        ]
        uf = partials.select(
            "__val", F.lit(src_f).alias("__src"),
            *[F.col(n) for n, _ in part_fields],
        )
        up = probes.select(
            "__val", F.lit(src_p).alias("__src"),
            *[F.lit(None).cast(t).alias(n) for n, t in part_fields],
        )
        order = [
            F.col("__val").desc() if desc else F.col("__val").asc(),
            F.col("__src").asc(),
        ]
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        run_cols = [F.sum("__pc").over(w).alias("__rc")]
        if self.acol is not None:
            run_cols += [
                F.sum("__pca").over(w).alias("__rca"),
                F.sum("__ps").over(w).alias("__rs"),
                F.min("__pmn").over(w).alias("__rmn"),
                F.max("__pmx").over(w).alias("__rmx"),
            ]
        pr = (
            uf.unionByName(up)
            .select("__val", "__src", *run_cols)
            .filter(F.col("__src") == F.lit(src_p))
        )
        if self.akind == "count" and self.acol is None:
            v = F.coalesce(F.col("__rc"), F.lit(0)).cast("long")
        elif self.akind == "count":
            v = F.coalesce(F.col("__rca"), F.lit(0)).cast("long")
        elif self.akind == "sum":
            v = F.col("__rs")
        elif self.akind == "min":
            v = F.col("__rmn")
        elif self.akind == "max":
            v = F.col("__rmx")
        else:  # avg — exact long (or reassociated float) sum / count
            v = F.col("__rs") / F.col("__rca")
        vals = pr.select("__val", v.alias("__v"))
        # Scale-gated broadcast, same rationale as _member_rows_1d:
        # refresh runs with AQE off, so the hint matters; the probe
        # map is bounded by the batch's dirty rows when hinted, and
        # only surely-small dims broadcast on the unhinted paths.
        n = self.dim_store.bootstrap_rows()
        if hint or (n is not None and n <= CODEGEN_DELTA_ROWS):
            vals = F.broadcast(vals)
        out = rows.join(vals, F.expr(oe) == F.col("__val"), "left").drop(
            "__val"
        )
        vv = F.col("__v")
        if self.akind == "count":
            vv = F.coalesce(vv, F.lit(0).cast("long"))
        return out.withColumn(self.alias, vv).drop("__v")

    def _valued_rows(
        self, rows: DataFrame, fact_eval: DataFrame, hint: bool
    ) -> DataFrame:
        """``rows`` (dim slice) + the scalar aggregate column."""
        ineq = self._ineq_1d()
        if ineq is not None:
            return self._valued_rows_1d(rows, fact_eval, *ineq, hint=hint)
        pk = self.target.pk
        left = rows
        right = fact_eval
        if hint:
            left = F.broadcast(left)
        else:
            left, right = left.coalesce(32), right.coalesce(32)
        j = left.join(right, self._theta_cond(), "left")
        present = F.col("__i__present").isNotNull()
        if self.akind == "count" and self.acol is None:
            agg = F.sum(F.when(present, 1).otherwise(0)).cast("long")
        elif self.akind == "count":
            agg = F.count(F.col("__aval"))
        else:
            agg = getattr(F, self.akind)(F.col("__aval"))
        vals = j.groupBy(*pk).agg(agg.alias("__v"))
        out = rows.join(F.broadcast(vals), pk, "left")
        v = F.col("__v")
        if self.akind == "count":
            v = F.coalesce(v, F.lit(0).cast("long"))
        return out.withColumn(self.alias, v).drop("__v")

    def _view(self, dim_rows: DataFrame, fact_now: DataFrame) -> DataFrame:
        return self._valued_rows(
            dim_rows, self._fact_eval(fact_now), hint=False
        ).select(*self.out_cols, self.alias)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.dim_store.bootstrap(self.dim0, batch_id)
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.target.bootstrap(
            self._view(self.dim_store.read(), self.fact_store.read()), batch_id
        )

    def _dirty_theta_vals(self, changes: DataFrame, batch_id) -> DataFrame:
        store = self.fact_store
        if batch_id in store.committed_batches():
            old = store.read(store.version_before_batch(batch_id))
        else:
            old = store.read()
        changed_pks = last_change_per_key(changes, store.pk).select(*store.pk)
        old_rows = old.join(F.broadcast(changed_pks), store.pk, "left_semi")
        new_rows = changes.filter(F.col(OP_COL) != OP_DELETE).select(*old.columns)
        both = old_rows.unionByName(new_rows)
        if self.inner_where is not None:
            both = both.filter(F.expr(self.inner_where))
        return both.select(
            *[
                F.expr(ie).alias(f"__d{k}")
                for k, (ie, _, _) in enumerate(self.corr)
            ]
        ).distinct()

    @_maintenance
    def refresh(
        self,
        fact_changes: DataFrame | None,
        dim_changes: DataFrame | None,
        batch_id,
    ) -> bool:
        if batch_id in self.target.committed_batches():
            return False
        if fact_changes is None and dim_changes is None:
            return False
        dirty_vals = (
            self._dirty_theta_vals(fact_changes, batch_id)
            if fact_changes is not None
            else None
        )
        if dim_changes is not None:
            self.dim_store.merge(dim_changes, batch_id)
        if fact_changes is not None:
            self.fact_store.merge(fact_changes, batch_id)
        fact_eval = self._fact_eval(self.fact_store.read())

        def upserts(rows: DataFrame) -> DataFrame:
            return self._valued_rows(rows, fact_eval, hint=True).select(
                *self.out_cols, self.alias, F.lit(OP_UPDATE).alias(OP_COL)
            )

        parts: list[DataFrame] = []
        if dim_changes is not None:
            # deletes ride through the same valuation join (their value
            # is discarded by the store delete) so every part shares
            # one column set and one set of types
            final = last_change_per_key(dim_changes, self.dim_store.pk)
            valued = self._valued_rows(
                final.drop(SEQ_COL), fact_eval, hint=True
            )
            parts.append(
                valued.select(
                    *self.out_cols,
                    self.alias,
                    F.when(F.col(OP_COL) == OP_DELETE, F.lit(OP_DELETE))
                    .otherwise(F.lit(OP_UPDATE))
                    .alias(OP_COL),
                )
            )
        if dirty_vals is not None:
            dim_now = self.dim_store.read()
            ineq = self._ineq_1d()
            if ineq is not None:
                # Same decomposition as the membership sibling: ∃d: d0
                # OP expr over the dirty-value set ⟺ extreme(d0) OP
                # expr, so the |dim|x|δ| theta semi-join collapses to
                # one scalar probe (empty/all-NULL δ → NULL extreme →
                # no row affected, as with an empty semi-join build).
                op, oe = ineq
                agg2 = F.max if op in (">", ">=") else F.min
                dstat = dirty_vals.agg(agg2(F.col("__d0")).alias("__d_x"))
                cmp2 = {
                    "<": F.col("__d_x") < F.expr(oe),
                    "<=": F.col("__d_x") <= F.expr(oe),
                    ">": F.col("__d_x") > F.expr(oe),
                    ">=": F.col("__d_x") >= F.expr(oe),
                }[op]
                affected = (
                    dim_now.crossJoin(F.broadcast(dstat))
                    .filter(F.coalesce(cmp2, F.lit(False)))
                    .drop("__d_x")
                )
            else:
                affected = dim_now.join(
                    F.broadcast(dirty_vals), self._theta_cond("__d"), "left_semi"
                )
            parts.append(upserts(affected))
        mv_changes = parts[0].withColumn(SEQ_COL, F.lit(0).cast("long"))
        for i, p in enumerate(parts[1:], start=1):
            mv_changes = mv_changes.unionByName(
                p.withColumn(SEQ_COL, F.lit(i).cast("long"))
            )
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalTopKMV:
    """Incremental MV for per-group top-k:

        SELECT g, rank, ... FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY o DESC, pk) AS rank
        ) WHERE rank <= k

    Top-k is the canonical NON-invertible shape (SURVEY §7 hard part
    (a)): one delete can promote an arbitrary row into the top-k, so no
    per-row delta exists. The reference's delegated planner handles the
    same case with full per-partition rank state (Flink RankOperator);
    here the fact store *is* that state, and maintenance is
    dirty-GROUP recompute: a batch's touched groups (new rows' groups
    plus displaced old rows' groups) are re-ranked from the fact store
    pruned by semi-join, diffed against the old MV slots, and MERGEd.
    Per-batch work ∝ row volume of touched groups, never the full fact.

    MV rows are keyed (group, rank) — rank slots. A shrinking group
    leaves orphaned high-rank slots, which the diff emits as -D.
    """

    # The alias-mirror sharing contract (app._SharedMirrorStore): this
    # route merges every source changelog into its mirror store
    # VERBATIM — no filter/enrichment/rename before the merge — so a
    # cascade outer of this class may alias a source mirror to the
    # inner level's target store. Routes that transform changes before
    # merging (grouping sets' hidden __g key, semijoin's WHERE
    # pre-filter, projection renames) must NOT set this.
    _mirrors_sources_verbatim = True


    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        group_key: str,
        order_col: str | None = None,
        out_cols: list[str] | None = None,
        k: int = 1,
        work_dir: str = "",
        descending: bool = True,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        rank_col: str = "rank",
        order_spec: list[tuple[str, bool]] | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.fact0 = fact
        self.fact_pk = fact_pk
        self.group_key = group_key
        # Full multi-column window ORDER BY as (column, descending)
        # pairs; the single order_col/descending spelling remains for
        # callers of the original signature.
        if order_spec is not None:
            self.order_spec = [(c, bool(d)) for c, d in order_spec]
        else:
            if order_col is None:
                raise ValueError("order_col or order_spec is required")
            self.order_spec = [(order_col, descending)]
        self.out_cols = out_cols
        self.k = k
        self.rank_col = rank_col
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), fact_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), [group_key, rank_col], num_buckets
        )

    def _topk(self, rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        # trailing fact PK: a no-op when the user order already covers
        # it (the dispatcher's totality rule), a deterministic
        # tie-break for direct constructions that don't
        ordc = [F.col(c).desc() if d else F.col(c) for c, d in self.order_spec]
        w = Window.partitionBy(self.group_key).orderBy(*ordc, *self.fact_pk)
        cols = list(dict.fromkeys([self.group_key, self.rank_col, *self.out_cols]))
        return (
            rows.withColumn(self.rank_col, F.row_number().over(w).cast("long"))
            .filter(F.col(self.rank_col) <= self.k)
            .select(*cols)
        )

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.target.bootstrap(self._topk(self.fact_store.read()), batch_id)

    def _dirty_groups(self, changes: DataFrame, batch_id) -> DataFrame:
        """Groups touched by the batch: the new rows' groups plus the
        groups of the displaced old row versions (a group-changing
        update dirties both). Called AFTER the batch's fact merge, so
        the displaced-row lookup reads the pre-batch version BUCKET-
        PRUNED to the batch's keys (batch_buckets) — O(touched
        buckets), not a table scan."""
        prev_v = self.fact_store.version_before_batch(batch_id)
        bks = self.fact_store.batch_buckets(batch_id)
        old = (
            self.fact_store.read_buckets(
                bks, prev_v,
                key_filter=self.fact_store.batch_key_values(batch_id),
            )
            if bks is not None
            else self.fact_store.read(prev_v)
        )
        changed_pks = last_change_per_key(changes, self.fact_pk).select(*self.fact_pk)
        old_groups = old.join(changed_pks, self.fact_pk, "left_semi").select(self.group_key)
        new_groups = changes.select(self.group_key).where(F.col(self.group_key).isNotNull())
        return old_groups.unionByName(new_groups).distinct()

    @_maintenance
    def refresh(self, changes: DataFrame | None, batch_id) -> bool:
        if changes is None or batch_id in self.target.committed_batches():
            return False
        self.fact_store.merge(changes, batch_id)
        mat = self.fact_store.batch_delta(batch_id)
        if mat is not None:
            changes = mat  # the changelog lineage ran once, in the merge
        _tune_delta_shuffle(
            self.spark,
            self.shuffle_partitions,
            self.fact_store.batch_change_rows(batch_id),
        )
        dirty = self._dirty_groups(changes, batch_id).cache()
        sub = self.fact_store.read().join(dirty, self.group_key, "left_semi")
        recomputed = self._topk(sub)
        mv_dirty_old = self.target.read().join(dirty, self.group_key, "left_semi")
        mv_changes = diff_states(mv_dirty_old, recomputed, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        dirty.unpersist()
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalWindowMV:
    """Incremental MV for the partitioned OVER-window view

        SELECT cols..., fn(args) OVER (PARTITION BY g ORDER BY o ...) AS a
        FROM fact [WHERE row-local]

    — running sums, per-group ranks, lag/lead neighbors. A window value
    depends on its whole partition, so no per-row delta exists; Flink's
    update-mode planner keeps full per-partition OverWindow state for
    the same reason. Here the fact store IS that state and maintenance
    is dirty-PARTITION recompute: the groups a batch touches (new rows'
    groups plus displaced old rows' groups — a group-moving update
    dirties both) are re-windowed from the semi-join-pruned fact store
    and diffed against the old MV rows of those groups. Per-batch work
    ∝ row volume of touched partitions, never the full fact.

    Unlike the Top-N route (keyed by rank slot), the target is keyed by
    the fact PK, and NULL partition keys are first-class: SQL windows
    put all NULLs in one partition, so dirty-group pruning uses
    null-safe equality throughout.

    ``select_items`` is the full select list (bare columns and
    ``... OVER ... AS alias`` items) applied verbatim via selectExpr —
    the window semantics are exactly Spark SQL's.

    Skew bound: a window partition is ONE Spark task's sort — that is
    inherent to OVER semantics (the whole partition must be seen in
    order; salting would change results), so a hot PARTITION BY key
    makes every batch that touches it re-sort that partition.
    ``skew_warn_rows`` (default 5M — roughly one executor core's
    comfortable sort at ~100 B/row) bounds the acceptable partition
    size: any dirty partition above it raises a loud warning (recorded
    in ``last_skew_warning`` and via ``warnings.warn``) per refresh.
    The 100 TB remedy for peer-uniform functions (rank/dense_rank,
    running SUM/COUNT under the default RANGE frame) is a two-pass
    rank over the partition's DISTINCT ORDER-VALUE DOMAIN (the
    quality_decile_binning trick — domain cardinality, not row count);
    per-ROW functions (row_number/lag/lead) have no order-preserving
    decomposition and genuinely need the repartition-by-range sort.
    The probe costs one map-side-combined count over the already-
    pruned dirty partitions.
    """

    # The alias-mirror sharing contract (app._SharedMirrorStore): this
    # route merges every source changelog into its mirror store
    # VERBATIM — no filter/enrichment/rename before the merge — so a
    # cascade outer of this class may alias a source mirror to the
    # inner level's target store. Routes that transform changes before
    # merging (grouping sets' hidden __g key, semijoin's WHERE
    # pre-filter, projection renames) must NOT set this.
    _mirrors_sources_verbatim = True


    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        group_key: str | list[str],
        select_items: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        skew_warn_rows: int | None = 5_000_000,
        strategy: str = "sort",
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.fact0 = fact
        self.fact_pk = list(fact_pk)
        # Composite PARTITION BY keys are first-class in the sort
        # strategy (the dirty-group domain is the key TUPLE); the
        # domain strategy's two-pass plan needs a single key.
        self.group_keys = (
            [group_key] if isinstance(group_key, str) else list(group_key)
        )
        self.group_key = self.group_keys[0]
        self.select_items = list(select_items)
        self.skew_warn_rows = skew_warn_rows
        self.last_skew_warning: str | None = None
        if strategy not in ("sort", "domain"):
            raise ValueError(f"unknown window strategy: {strategy}")
        self.strategy = strategy
        if strategy == "domain":
            self._init_domain_plan()
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), self.fact_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), self.fact_pk, num_buckets
        )

    def _init_domain_plan(self) -> None:
        """Validate and compile select_items for the two-pass DOMAIN
        strategy — the skew-proof plan for PEER-UNIFORM window
        functions (rank/dense_rank/percent_rank/cume_dist and running
        SUM/COUNT/AVG/MIN/MAX under the default RANGE frame, whose
        value is shared by all ORDER BY peers):

          pass 1  groupBy(g, o) pre-aggregate — hash-distributed over
                  (g, o), immune to a hot g (map-side combined);
                  single-column PARTITION BY only
          pass 2  window over the DOMAIN rows (one row per distinct
                  order value per partition) — the per-partition sort
                  is |distinct o|, not |rows|
          join    rows ⟗ domain values on null-safe (g, o)

        Per-ROW functions (row_number/lag/lead) have no peer-uniform
        decomposition and raise here — they genuinely need the sort."""
        from tiflink_spark.planner import _WIN_ITEM_RE, _WIN_PEER_FNS

        if len(self.group_keys) != 1:
            raise ValueError(
                "domain strategy requires a single PARTITION BY column"
            )
        self._out_plan: list[tuple[str, str, str, str]] = []  # kind,...
        order = direction = None
        for item in self.select_items:
            m = _WIN_ITEM_RE.match(item.strip())
            if m is None:
                self._out_plan.append(("col", item.strip(), "", ""))
                continue
            fn = m.group("fn").lower()
            if fn not in _WIN_PEER_FNS:
                raise ValueError(
                    f"domain strategy requires peer-uniform window "
                    f"functions; {fn}() is per-row"
                )
            if m.group("tie"):
                raise ValueError(
                    "domain strategy: trailing ORDER BY tie columns "
                    "imply a per-row total order"
                )
            if [c.strip() for c in m.group("g").split(",")] != [self.group_key]:
                raise ValueError("domain strategy: mixed PARTITION BY keys")
            o, d = m.group("o"), (m.group("dir") or "ASC").upper()
            if order is None:
                order, direction = o, d
            elif (o, d) != (order, direction):
                raise ValueError("domain strategy: mixed ORDER BY specs")
            self._out_plan.append(("win", m.group("alias"), fn, m.group("args").strip()))
        if order is None:
            raise ValueError("domain strategy: no window items found")
        self._dom_order, self._dom_desc = order, direction == "DESC"

    def _windowed_domain(self, rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        g, o = self.group_key, self._dom_order
        wins = [(a, fn, arg) for k, a, fn, arg in self._out_plan if k == "win"]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for a, fn, arg in wins:
            e = F.lit(1) if arg in ("*", "") else F.expr(arg)
            if fn in ("sum", "avg"):
                aggs.append(F.sum(e).alias(f"__s_{a}"))
            if fn in ("count", "avg"):
                aggs.append(
                    (F.count(F.lit(1)) if arg in ("*", "") else F.count(e)).alias(
                        f"__c_{a}"
                    )
                )
            if fn in ("min", "max"):
                aggs.append(getattr(F, fn)(e).alias(f"__m_{a}"))
        dom = rows.groupBy(g, o).agg(*aggs)
        oc = F.col(o).desc() if self._dom_desc else F.col(o).asc()
        ow = Window.partitionBy(g).orderBy(oc)
        cum = ow.rowsBetween(Window.unboundedPreceding, 0)
        prior = ow.rowsBetween(Window.unboundedPreceding, -1)
        full = Window.partitionBy(g)
        vals = [F.col(g).alias("__jg"), F.col(o).alias("__jo")]
        for a, fn, arg in wins:
            if fn == "rank":
                v = (F.coalesce(F.sum("__n").over(prior), F.lit(0)) + 1).cast("int")
            elif fn == "dense_rank":
                v = F.row_number().over(ow)
            elif fn == "percent_rank":
                n_tot = F.sum("__n").over(full)
                rk = F.coalesce(F.sum("__n").over(prior), F.lit(0)) + 1
                v = F.when(
                    n_tot > 1, (rk - 1).cast("double") / (n_tot - 1).cast("double")
                ).otherwise(F.lit(0.0))
            elif fn == "cume_dist":
                v = F.sum("__n").over(cum).cast("double") / F.sum("__n").over(
                    full
                ).cast("double")
            elif fn == "sum":
                v = F.sum(f"__s_{a}").over(cum)
            elif fn == "count":
                v = F.sum(f"__c_{a}").over(cum)
            elif fn == "avg":
                v = F.sum(f"__s_{a}").over(cum) / F.sum(f"__c_{a}").over(cum).cast(
                    "double"
                )
            else:  # min | max
                v = getattr(F, fn)(f"__m_{a}").over(cum)
            vals.append(v.alias(a))
        dv = dom.select(*vals)
        joined = rows.join(
            dv,
            rows[g].eqNullSafe(dv["__jg"]) & rows[o].eqNullSafe(dv["__jo"]),
            "left",
        )
        out = []
        for kind, a, _, _ in self._out_plan:
            out.append(rows[a] if kind == "col" else dv[a])
        return joined.select(*out)

    def _windowed(self, rows: DataFrame) -> DataFrame:
        if self.strategy == "domain":
            return self._windowed_domain(rows)
        return rows.selectExpr(*self.select_items)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.target.bootstrap(self._windowed(self.fact_store.read()), batch_id)

    def _dirty_groups(self, changes: DataFrame, batch_id) -> DataFrame:
        """Partitions touched by the batch, NULL group included (SQL
        windows treat NULL as a regular partition). Called AFTER the
        batch's fact merge: the displaced-row lookup reads the
        pre-batch version bucket-pruned to the batch's keys."""
        prev_v = self.fact_store.version_before_batch(batch_id)
        bks = self.fact_store.batch_buckets(batch_id)
        old = (
            self.fact_store.read_buckets(
                bks, prev_v,
                key_filter=self.fact_store.batch_key_values(batch_id),
            )
            if bks is not None
            else self.fact_store.read(prev_v)
        )
        changed_pks = last_change_per_key(changes, self.fact_pk).select(*self.fact_pk)
        old_groups = old.join(changed_pks, self.fact_pk, "left_semi").select(
            *self.group_keys
        )
        new_groups = changes.select(*self.group_keys)
        return old_groups.unionByName(new_groups).distinct()

    def _prune(self, rows: DataFrame, dirty: DataFrame) -> DataFrame:
        """rows of the dirty partitions (null-safe group equality)."""
        d = dirty.select(
            *[F.col(k).alias(f"__dg{i}") for i, k in enumerate(self.group_keys)]
        )
        cond = None
        for i, k in enumerate(self.group_keys):
            c = rows[k].eqNullSafe(d[f"__dg{i}"])
            cond = c if cond is None else (cond & c)
        return rows.join(d, cond, "left_semi")

    def _check_skew(self, pruned: DataFrame) -> None:
        """Loud warning when a dirty partition exceeds the documented
        sort bound (see class docstring). One map-side-combined count
        over rows already pruned to the dirty partitions; the single
        max row is a legitimate driver scalar."""
        if self.skew_warn_rows is None:
            return
        top = (
            pruned.groupBy(*self.group_keys)
            .count()
            .orderBy(F.desc("count"))
            .head()
        )
        if top is not None and top["count"] > self.skew_warn_rows:
            import warnings

            keyvals = ", ".join(f"{k}={top[k]!r}" for k in self.group_keys)
            self.last_skew_warning = (
                f"window partition ({keyvals}) holds {top['count']} rows "
                f"(> skew_warn_rows={self.skew_warn_rows}): every batch "
                f"touching it re-sorts the whole partition in one task. "
                f"Consider a coarser PARTITION BY, or — when every "
                f"window item is peer-uniform — strategy='domain' (the "
                f"distinct-order-domain two-pass plan)."
            )
            warnings.warn(self.last_skew_warning, stacklevel=3)

    @_maintenance
    def refresh(self, changes: DataFrame | None, batch_id) -> bool:
        if changes is None or batch_id in self.target.committed_batches():
            return False
        self.fact_store.merge(changes, batch_id)
        mat = self.fact_store.batch_delta(batch_id)
        if mat is not None:
            changes = mat  # the changelog lineage ran once, in the merge
        _tune_delta_shuffle(
            self.spark,
            self.shuffle_partitions,
            self.fact_store.batch_change_rows(batch_id),
        )
        # cache (not an eager checkpoint): both consumers execute inside
        # the target-merge job; the pre-batch reads are manifest-pinned
        # at construction, so laziness is safe post-merge.
        dirty = self._dirty_groups(changes, batch_id).cache()
        pruned = self._prune(self.fact_store.read(), dirty)
        self._check_skew(pruned)
        recomputed = self._windowed(pruned)
        mv_dirty_old = self._prune(self.target.read(), dirty)
        mv_changes = diff_states(mv_dirty_old, recomputed, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        dirty.unpersist()
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalGlobalTopKMV:
    """Incremental MV for the GLOBAL ``SELECT cols FROM fact [WHERE …]
    ORDER BY c1 [ASC|DESC][, c2 …] LIMIT k`` — the dashboard top-k
    without a PARTITION BY, keyed by the fact PK (the dispatcher
    requires the order column set to cover it — a provably total
    order).

    The bound argument makes maintenance cheap in the common case: the
    current k-th row's sort value is a lower bound that only MOVES UP
    while every current member is untouched, so when a batch touches no
    member, the new top-k is ``topk(old members ∪ changed rows)`` — a
    candidate set of k + batch rows, no table scan. Only when a member
    is deleted or updated (the bound may drop, promoting an arbitrary
    row) does the view re-rank from the full fact store — one
    TakeOrdered scan (no sort shuffle), the same work Flink's global
    Rank operator pays to refill its state after retraction. The
    member-touched probe is a driver scalar bounded by k rows.
    """

    # The alias-mirror sharing contract (app._SharedMirrorStore): this
    # route merges every source changelog into its mirror store
    # VERBATIM — no filter/enrichment/rename before the merge — so a
    # cascade outer of this class may alias a source mirror to the
    # inner level's target store. Routes that transform changes before
    # merging (grouping sets' hidden __g key, semijoin's WHERE
    # pre-filter, projection renames) must NOT set this.
    _mirrors_sources_verbatim = True


    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        order_col: str | None = None,
        out_cols: list[str] | None = None,
        k: int = 1,
        work_dir: str = "",
        descending: bool = False,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        order_spec: list[tuple[str, bool]] | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.fact0 = fact
        self.fact_pk = list(fact_pk)
        # Full multi-column ORDER BY as (column, descending) pairs; the
        # single order_col/descending spelling remains for callers of
        # the original signature.
        if order_spec is not None:
            self.order_spec = [(c, bool(d)) for c, d in order_spec]
        else:
            if order_col is None:
                raise ValueError("order_col or order_spec is required")
            self.order_spec = [(order_col, descending)]
        self.out_cols = list(out_cols)  # must include the fact PK
        self.k = k
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), self.fact_pk, num_buckets
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), self.fact_pk, num_buckets
        )

    def _sort_cols(self):
        # trailing fact PK: a no-op when the user order already covers
        # it (the dispatcher's totality rule), a deterministic
        # tie-break for direct constructions that don't
        ordc = [
            F.col(c).desc() if d else F.col(c) for c, d in self.order_spec
        ]
        return [*ordc, *[F.col(c) for c in self.fact_pk]]

    def _topk(self, rows: DataFrame) -> DataFrame:
        # orderBy().limit() plans as TakeOrdered — per-partition heaps,
        # no global sort shuffle.
        return rows.orderBy(*self._sort_cols()).limit(self.k).select(*self.out_cols)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        self.target.bootstrap(self._topk(self.fact_store.read()), batch_id)

    @_maintenance
    def refresh(self, changes: DataFrame | None, batch_id) -> bool:
        if changes is None or batch_id in self.target.committed_batches():
            return False
        changed_pks = last_change_per_key(changes, self.fact_pk).select(*self.fact_pk)
        old_top = self.target.read()
        # bounded probe: ≤ k rows semi-joined against the batch's keys
        member_touched = (
            old_top.join(changed_pks, self.fact_pk, "left_semi").limit(1).count() > 0
        )
        self.fact_store.merge(changes, batch_id)
        fact_now = self.fact_store.read()
        if member_touched:
            new_top = self._topk(fact_now)
        else:
            # bound can only rise: candidates = old members ∪ changed rows
            cand_pks = old_top.select(*self.fact_pk).unionByName(changed_pks).distinct()
            new_top = self._topk(fact_now.join(cand_pks, self.fact_pk, "left_semi"))
        mv_changes = diff_states(old_top, new_top, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalUnionMV:
    """Incremental MV for bare multi-branch ``UNION ALL`` — the
    multi-source ingestion view, and the ONE set operation that is
    stateless under changelogs (SURVEY §2.2): a branch's change rows
    project straight into the target with no reference to any other
    branch's state. The target is keyed by (``__src`` branch tag,
    shared PK column), so same-valued rows from different sources
    coexist exactly as UNION ALL semantics require; the hidden tag is
    projected away by MVApp.read().

    Per-batch work = the batch itself — no joins, no state reads. At
    100 TB this is a pure map + bucket-pruned MERGE.

    ``branches`` maps table name → (DataFrame, pk column, per-branch
    column list); ``out_cols`` are the target's user-facing columns.
    """

    SRC_COL = "__src"

    def __init__(
        self,
        spark: SparkSession,
        branches: dict[str, tuple[DataFrame, str, list[str]]],
        out_cols: list[str],
        key_pos: int,
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        wheres: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.branches = branches
        # per-branch row-local WHERE (source-schema predicate): filters
        # the bootstrap rows, and demotes changelog upserts failing it
        # to deletes (the stateless filter rule)
        self.wheres = {t: w for t, w in (wheres or {}).items() if w is not None}
        self.out_cols = list(out_cols)
        self.key_col = self.out_cols[key_pos]
        self.target = KeyedParquetStore(
            spark,
            os.path.join(work_dir, "mv"),
            [self.SRC_COL, self.key_col],
            num_buckets,
        )

    def _project(self, table: str, df: DataFrame) -> DataFrame:
        """Branch rows → target schema (output names + branch tag)."""
        _, _, cols = self.branches[table]
        sel = [F.col(c).alias(o) for c, o in zip(cols, self.out_cols)]
        extra = [c for c in (OP_COL, SEQ_COL) if c in df.columns]
        return df.select(*sel, *[F.col(c) for c in extra]).withColumn(
            self.SRC_COL, F.lit(table)
        )

    def cascade_relation(self) -> DataFrame:
        """The view WITH its hidden branch tag — the relation an outer
        cascade level must consume: the tag completes the TRUE unique
        key (__src, shared PK), so an outer MV keying its stores by it
        never collapses cross-branch duplicates (the wrong-result
        scenario the advertised single-column PK would cause). Lazy
        plan over the original sources; same construction bootstrap
        publishes."""
        parts = []
        for t, (df, _, _) in self.branches.items():
            if t in self.wheres:
                df = df.filter(F.expr(self.wheres[t]))
            parts.append(self._project(t, df))
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        return full

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.target.bootstrap(self.cascade_relation(), batch_id)

    @_maintenance
    def refresh(self, changes: dict[str, DataFrame], batch_id) -> bool:
        changes = {k: v for k, v in changes.items() if v is not None}
        if batch_id in self.target.committed_batches():
            return False
        unknown = set(changes) - set(self.branches)
        if unknown:
            raise ValueError(f"unknown tables in changes: {sorted(unknown)}")
        if not changes:
            return False
        parts = []
        for t, df in changes.items():
            if t in self.wheres:
                from tiflink_spark.changelog import apply_filter

                df = apply_filter(df, self.wheres[t])
            parts.append(self._project(t, df))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        self.target.merge(merged, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalProjectionMV:
    """Incremental MV for the stateless projection/filter view —
    ``SELECT row-local items FROM fact [WHERE row-local]`` — the
    simplest maintainable shape (Flink's stateless Calc node; the
    reference gets it by delegation, TiFlinkApp.java:270). Each
    changelog row maps 1:1 onto a target row: MVApp has already applied
    the stateless filter rule (upserts failing the predicate demote to
    deletes), so this class only evaluates the projection per row and
    MERGEs by the projected fact PK. Per-batch work = the batch itself;
    the ONLY state is the target — no source store at all, which at
    100 TB means maintaining a projection view costs churn × projection,
    never a table scan.

    ``items`` are (out_name, row-local SQL expr) in select order;
    ``pk_out`` the projected fact-PK names keying the target. Deletes
    ride through the projection too — their PK columns are what the
    MERGE keys on; expression columns over a delete's payload are
    irrelevant and may be NULL.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        items: list[tuple[str, str]],
        pk_out: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.fact0 = fact
        self.items = list(items)
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), list(pk_out), num_buckets
        )

    def _project(self, df: DataFrame) -> DataFrame:
        sel = [F.expr(e).alias(o) for o, e in self.items]
        extra = [F.col(c) for c in (OP_COL, SEQ_COL) if c in df.columns]
        return df.select(*sel, *extra)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.target.bootstrap(self._project(self.fact0), batch_id)

    @_maintenance
    def refresh(self, changes: DataFrame, batch_id) -> bool:
        if changes is None:
            return False
        if batch_id in self.target.committed_batches():
            return False
        self.target.merge(self._project(changes), batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalSetOpMV:
    """Incremental MV for ``SELECT cols FROM a INTERSECT|EXCEPT [ALL]
    SELECT cols FROM b`` (and set-semantics UNION). Each side maintains
    a hidden count-per-tuple aggregate (an inner
    :class:`IncrementalAggMV` keyed by the projected tuple — the same
    machinery as the DISTINCT route). Set semantics evaluate boolean
    membership from presence: a tuple is in the view iff it is live on
    side A and (INTERSECT) live / (EXCEPT) dead on side B. The ALL
    variants evaluate the tuple's MULTIPLICITY from the same counts —
    SQL's bag semantics: INTERSECT ALL emits min(cnt_a, cnt_b) copies,
    EXCEPT ALL emits max(cnt_a − cnt_b, 0) — held as a hidden
    ``__mult`` column in the keyed target and expanded by ``read()``
    (the store stays keyed by the tuple; multiplicity is data, exactly
    Flink's update-mode representation of a bag-valued view). Per
    batch, only the TUPLES TOUCHED by the changelog (new values plus
    displaced old values) have their membership/multiplicity
    re-evaluated against the two count states — work ∝ batch size,
    with the probes pruned by semi-joins.

    Flink's update-mode planner maintains INTERSECT/EXCEPT (ALL) with
    the same dual-count state; the reference gets it by delegation
    (TiFlinkApp.java:270).
    """

    def __init__(
        self,
        spark: SparkSession,
        op: str,  # "intersect[_all]" | "except[_all]" | "union"
        left: DataFrame,
        left_pk: list[str],
        right: DataFrame,
        right_pk: list[str],
        left_cols: list[str],
        right_cols: list[str],
        out_cols: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        side_names: tuple[str, str] = ("a", "b"),
        wheres: tuple[str | None, str | None] = (None, None),
    ):
        if op not in ("intersect", "except", "union", "intersect_all", "except_all"):
            raise ValueError(f"unsupported set op: {op}")
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.op = op
        self._name_to_tag = {side_names[0]: "a", side_names[1]: "b"}
        self.out_cols = list(out_cols)
        self._side_cols = {"a": list(left_cols), "b": list(right_cols)}
        self._side_pks = {"a": list(left_pk), "b": list(right_pk)}
        # per-side row-local WHERE (source schema): filtered bootstrap
        # + the stateless changelog filter rule per side batch
        self._wheres = {"a": wheres[0], "b": wheres[1]}
        if self._wheres["a"] is not None:
            left = left.filter(F.expr(self._wheres["a"]))
        if self._wheres["b"] is not None:
            right = right.filter(F.expr(self._wheres["b"]))
        # Each side's rows projected to the OUTPUT tuple names; the
        # source PK rides along (renamed __pk_i) for retraction lookups.
        self._sides = {}
        self._side_src = {}
        for tag, df in (("a", left), ("b", right)):
            self._side_src[tag] = self._project(tag, df)
            self._sides[tag] = IncrementalAggMV(
                spark,
                fact=self._side_src[tag],
                fact_pk=[f"__pk_{i}" for i in range(len(self._side_pks[tag]))],
                group_key=list(out_cols),
                measures=[Measure("count", None, "__cnt")],
                work_dir=os.path.join(work_dir, tag),
                num_buckets=num_buckets,
                shuffle_partitions=shuffle_partitions,
            )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), list(out_cols), num_buckets
        )
        if self.op in ("intersect_all", "except_all"):
            # bag ops can feed a cascade: the store-shaped façade turns
            # per-tuple multiplicity transitions into per-copy +I/-D
            # changelogs keyed by (tuple, __copy) — see cascade_relation
            self.cascade_target = _SetOpBagCascadeTarget(self)

    def _project(self, tag: str, df: DataFrame) -> DataFrame:
        """Side rows (or a side's source-schema changelog) → the shared
        output-tuple schema, PK renamed positionally."""
        sel = [
            F.col(c).alias(o) for c, o in zip(self._side_cols[tag], self.out_cols)
        ]
        sel += [
            F.col(k).alias(f"__pk_{i}") for i, k in enumerate(self._side_pks[tag])
        ]
        sel += [F.col(c) for c in (OP_COL, SEQ_COL) if c in df.columns]
        return df.select(*sel)

    def _bag_rows(self, a_counts: DataFrame, b_counts: DataFrame) -> DataFrame:
        """Bag-semantics rows (out_cols + hidden ``__mult`` > 0) from
        the two sides' count states — min for INTERSECT ALL, truncated
        difference for EXCEPT ALL (SQL's bag operators)."""
        a = a_counts.select(*self.out_cols, F.col("__cnt").alias("__ca"))
        b = b_counts.select(*self.out_cols, F.col("__cnt").alias("__cb"))
        if self.op == "intersect_all":
            j = a.join(b, self.out_cols, "inner")
            mult = F.least(F.col("__ca"), F.col("__cb"))
        else:  # except_all
            j = a.join(b, self.out_cols, "left")
            mult = F.col("__ca") - F.coalesce(F.col("__cb"), F.lit(0))
        return (
            j.withColumn("__mult", mult)
            .filter(F.col("__mult") > 0)
            .select(*self.out_cols, "__mult")
        )

    def _membership(self, dirty: DataFrame) -> DataFrame:
        """Current membership rows (bag ops: + multiplicity) for the
        dirty tuples."""
        if self.op in ("intersect_all", "except_all"):
            a_cnt = self._sides["a"].read().join(dirty, self.out_cols, "left_semi")
            b_cnt = self._sides["b"].read().join(dirty, self.out_cols, "left_semi")
            return self._bag_rows(a_cnt, b_cnt)
        a_live = self._sides["a"].read().select(*self.out_cols)
        b_live = self._sides["b"].read().select(*self.out_cols)
        if self.op == "union":
            # set-semantics UNION: present on EITHER side
            return dirty.join(
                a_live.unionByName(b_live), self.out_cols, "left_semi"
            )
        in_a = dirty.join(a_live, self.out_cols, "left_semi")
        if self.op == "intersect":
            return in_a.join(b_live, self.out_cols, "left_semi")
        return in_a.join(b_live, self.out_cols, "left_anti")

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        for side in self._sides.values():
            side.bootstrap(batch_id)
        if self.op in ("intersect_all", "except_all"):
            rows = self._bag_rows(self._sides["a"].read(), self._sides["b"].read())
            self.target.bootstrap(rows, batch_id)
            return
        a = self._sides["a"].read().select(*self.out_cols)
        b = self._sides["b"].read().select(*self.out_cols)
        if self.op == "union":
            rows = a.unionByName(b).distinct()
        elif self.op == "intersect":
            rows = a.join(b, self.out_cols, "left_semi")
        else:
            rows = a.join(b, self.out_cols, "left_anti")
        self.target.bootstrap(rows, batch_id)

    def _dirty_tuples(self, tag: str, changes: DataFrame, batch_id) -> DataFrame:
        """Output tuples touched by a side's batch: the new values plus
        the displaced old values (pre-batch store version — the side's
        inner MV has already merged when this runs)."""
        side = self._sides[tag]
        store = side.fact_store
        if batch_id in store.committed_batches():
            old = store.read(store.version_before_batch(batch_id))
        else:
            old = store.read()
        changed_pks = last_change_per_key(changes, store.pk).select(*store.pk)
        old_tuples = old.join(changed_pks, store.pk, "left_semi").select(*self.out_cols)
        new_tuples = changes.select(*self.out_cols)
        return old_tuples.unionByName(new_tuples).distinct()

    @_maintenance
    def refresh(self, changes: dict[str, DataFrame], batch_id) -> bool:
        """``changes`` maps side tag ('a' = left, 'b' = right) → a
        changelog in the side's SOURCE schema (projected to the shared
        tuple schema internally)."""
        changes = {k: v for k, v in changes.items() if v is not None}
        if batch_id in self.target.committed_batches():
            return False
        if not changes:
            return False
        unknown = set(changes) - set(self._name_to_tag)
        if unknown:
            raise ValueError(f"unknown tables in changes: {sorted(unknown)}")
        dirty_parts = []
        for name, raw in changes.items():
            tag = self._name_to_tag[name]
            if self._wheres[tag] is not None:
                from tiflink_spark.changelog import apply_filter

                raw = apply_filter(raw, self._wheres[tag])
            ch = self._project(tag, raw)
            self._sides[tag].refresh(ch, batch_id)
            dirty_parts.append(self._dirty_tuples(tag, ch, batch_id))
        dirty = dirty_parts[0]
        for p in dirty_parts[1:]:
            dirty = dirty.unionByName(p)
        dirty = dirty.distinct().localCheckpoint(eager=True)

        live = self._membership(dirty)
        old_rows = self.target.read().join(dirty, self.out_cols, "left_semi")
        mv_changes = diff_states(old_rows, live, self.target.pk)
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        out = self.target.read(version)
        if self.op in ("intersect_all", "except_all"):
            # expand multiplicities back into bag rows; per-tuple
            # multiplicity is bounded by one side's per-tuple count,
            # so the sequence stays small under real duplication rates
            out = out.withColumn(
                "__i", F.explode(F.sequence(F.lit(1), F.col("__mult").cast("int")))
            ).select(*self.out_cols)
        return out

    COPY_COL = "__copy"

    def cascade_relation(self) -> DataFrame:
        """The bag view WITH a hidden per-copy index (round 10): an
        INTERSECT ALL / EXCEPT ALL view holds duplicate tuples, so the
        tuple alone is no key — but copies are DETERMINISTICALLY
        numbered 1..multiplicity, so (tuple, __copy) is a TRUE unique
        key an outer cascade level can store by. Multiplicity
        transitions only ever add or remove the TAIL indices (m0→m1
        adds copies m0+1..m1 or deletes m1+1..m0 — see
        _SetOpBagCascadeTarget.changes_between), so the outer's state
        stays consistent with this bootstrap numbering. Lazy plan over
        the original (already WHERE-filtered) sources; same rows
        bootstrap publishes, exactly as IncrementalUnionMV's
        cascade_relation contract."""
        if self.op not in ("intersect_all", "except_all"):
            raise RuntimeError(
                "cascade_relation is only defined for bag set ops; "
                "set-semantics views have a true tuple key already"
            )
        counts = {
            tag: src.groupBy(*self.out_cols).agg(
                F.count(F.lit(1)).alias("__cnt")
            )
            for tag, src in self._side_src.items()
        }
        return (
            self._bag_rows(counts["a"], counts["b"])
            .withColumn(
                self.COPY_COL,
                F.explode(F.sequence(F.lit(1), F.col("__mult").cast("int"))),
            )
            .select(*self.out_cols, self.COPY_COL)
        )


class _SetOpBagCascadeTarget:
    """IncrementalSetOpMV's multiplicity-keyed target presented as a
    per-copy CDC source — the store-shaped façade CascadeMV drives
    (committed_batches / version_before_batch / current_version /
    changes_between / pk). The real store keys (tuple → __mult); the
    façade advertises (tuple, __copy) and converts each tuple's
    multiplicity transition m0→m1 into tail-index copy changelogs:
    +I for copies m0+1..m1, -D for copies m1+1..m0 — matching the
    deterministic 1..mult numbering cascade_relation bootstrapped."""

    def __init__(self, mv: IncrementalSetOpMV):
        self._mv = mv

    @property
    def pk(self) -> list[str]:
        return [*self._mv.out_cols, IncrementalSetOpMV.COPY_COL]

    def current_version(self):
        return self._mv.target.current_version()

    def committed_batches(self):
        return self._mv.target.committed_batches()

    def version_before_batch(self, batch_id):
        return self._mv.target.version_before_batch(batch_id)

    def changes_between(self, v_from, v_to) -> DataFrame:
        from tiflink_spark.store import changes_between as _cb

        mv = self._mv
        out = mv.out_cols
        # only the tuples the raw store diff touched — delta-bounded
        touched = _cb(mv.target, v_from, v_to).select(*out).distinct()
        old = (
            mv.target.read(v_from)
            .join(touched, out, "left_semi")
            .select(*out, F.col("__mult").alias("__m0"))
        )
        new = (
            mv.target.read(v_to)
            .join(touched, out, "left_semi")
            .select(*out, F.col("__mult").alias("__m1"))
        )
        j = old.join(new, out, "full_outer").select(
            *out,
            F.coalesce(F.col("__m0"), F.lit(0)).cast("int").alias("__m0"),
            F.coalesce(F.col("__m1"), F.lit(0)).cast("int").alias("__m1"),
        )
        copy = IncrementalSetOpMV.COPY_COL
        # ONE pass for both directions — tail copies min+1..max, +I when
        # the multiplicity grew, -D when it shrank. (A union of two
        # separately-filtered explode branches over the same full-outer
        # join was measured to MISCOMPILE here: the unioned plan
        # resolved one branch's m1 as 0 for a tuple both sides held,
        # while either branch alone — and the bare join — computed
        # correctly. Single-reference plans are verified sound; keep
        # this single-pass shape.)
        lo = F.least(F.col("__m0"), F.col("__m1"))
        hi = F.greatest(F.col("__m0"), F.col("__m1"))
        return (
            j.filter(F.col("__m0") != F.col("__m1"))
            .withColumn(copy, F.explode(F.sequence(lo + 1, hi)))
            .withColumn(
                OP_COL,
                F.when(
                    F.col("__m1") > F.col("__m0"), F.lit(OP_INSERT)
                ).otherwise(F.lit(OP_DELETE)),
            )
            .select(*out, copy, OP_COL)
            # each (tuple, copy) appears at most once per diff, so the
            # sequence column only needs to exist, not order anything
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
            # delta-bounded (touched tuples only): materialize lazily so
            # the outer level's several actions re-read blocks instead
            # of re-running the 3-chain-read full-outer plan each time
            .localCheckpoint(eager=False)
        )


class IncrementalJoinAggMV:
    """Incremental MV for the canonical star/snowflake-join aggregate

        SELECT keys, aggs
        FROM fact JOIN dim1 ON <ref1> = dim1.pk [JOIN dim2 ...]
        [WHERE row-local] GROUP BY keys

    — the shape the reference gets for free from Flink's update-mode
    planner (TiFlinkApp.java:270). Every dim enters the join through
    its own single-column PK, referenced by a column of the fact or of
    an earlier dim (the snowflake case), so the joined relation
    J = fact ⋈ dims stays keyed by the fact PK. J is maintained as an
    upsert changelog via dirty-join-key re-derivation, and that
    J-changelog feeds an inner :class:`IncrementalAggMV` state merge.
    Per-batch work ∝ changed fact rows + fact rows reachable from
    changed dim keys — never the full join — and every aggregate kind
    the inner MV supports (COUNT/SUM/AVG by delta arithmetic,
    MIN/MAX/COUNT DISTINCT by dirty-group recompute against the J
    store) works unchanged.

    Changelogs on ALL sides maintain the view: fact +I/+U re-joins the
    row against current dim state (unmatched anywhere → the row leaves
    J); dim churn propagates rootward through the join tree (a dirty
    snowflake dim key dirties the parent-dim rows referencing it, and
    so on up to the fact), and the reached fact rows are re-derived
    (a dim rename moves whole groups; a dim delete drops its fact rows
    from J).

    Storage note: the J store materializes the joined width (the
    classic materialized-join trade — Flink's stream-stream join keeps
    both sides' state too); it carries only the columns the query
    needs (keys + measure/predicate inputs), not any table's full
    width.

    ``dims`` is a list of :class:`tiflink_spark.planner.DimJoin` in
    join order (parents before children); ``dim_dfs`` maps dim name →
    its bootstrap DataFrame.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact_name: str,
        fact: DataFrame,
        fact_pk: list[str],
        dims: list,
        dim_dfs: dict[str, DataFrame],
        group_keys: list[str],
        measures: list[Measure],
        fact_cols: list[str],
        work_dir: str,
        where: str | None = None,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        target_filter: str | None = None,
        key_exprs: list | None = None,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        self.fact_name = fact_name
        self.fact0, self.dim0 = fact, dim_dfs
        self.fact_pk = list(fact_pk)
        self.dims = list(dims)
        self._by_name = {d.dim: d for d in self.dims}
        self.where = where
        # (alias, row-local expression) group keys derived onto every J
        # row — bootstrap and per-batch alike — after the dims join, so
        # a time-grain rollup key behaves exactly like a stored column
        # (planner.JoinAggShape.key_exprs; inputs ride in fact_cols /
        # dim_cols via the matcher's needed-column sweep).
        self._key_exprs = [tuple(e) for e in (key_exprs or [])]
        # J column provenance: PK + every fact-side referencing column
        # ride on the fact side so changelog rows stay addressable; dim
        # columns never duplicate another table's carried name (the
        # matcher rejects ambiguous references).
        fact_fks = [
            c for d in self.dims if d.parent == fact_name for c in d.ref_cols
        ]
        self._fact_side = list(dict.fromkeys([*fact_pk, *fact_fks, *fact_cols]))
        self._dim_carry = {
            d.dim: [c for c in d.dim_cols if c not in self._fact_side]
            for d in self.dims
        }
        self._j_cols = [*self._fact_side]
        for d in self.dims:
            self._j_cols += [c for c in self._dim_carry[d.dim] if c not in self._j_cols]
        self._j_cols += [a for a, _ in self._key_exprs if a not in self._j_cols]
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), self.fact_pk, num_buckets
        )
        self.dim_stores = {
            d.dim: KeyedParquetStore(
                spark,
                os.path.join(work_dir, f"dim_{d.dim}"),
                list(d.pk_cols),
                num_buckets,
            )
            for d in self.dims
        }
        self._make_sink(
            work_dir, group_keys, measures, target_filter,
            num_buckets, shuffle_partitions,
        )

    def _make_sink(
        self, work_dir, group_keys, measures, target_filter,
        num_buckets, shuffle_partitions,
    ) -> None:
        # Inner aggregate MV over the joined relation. The J relation
        # is VIRTUAL (external_fact): J = fact ⋈ dims is fully
        # derivable from this route's versioned source stores, so
        # materializing it again would pay a whole store write per
        # batch plus the classic materialized-join storage (the
        # duplicated fact×dim width on disk — at 100 TB, a second copy
        # of the fact table). Instead refresh() hands the inner MV the
        # pre-batch old-J rows (bucket-pruned fact read ⋈ pre-batch
        # dims) and a lazy post-batch J view for non-invertible
        # dirty-group recompute.
        self._agg = IncrementalAggMV(
            self.spark,
            fact=None,
            fact_pk=self.fact_pk,
            group_key=list(group_keys),
            measures=list(measures),
            work_dir=os.path.join(work_dir, "agg"),
            num_buckets=num_buckets,
            shuffle_partitions=shuffle_partitions,
            target_filter=target_filter,
            external_fact=True,
        )
        self.target = self._agg.target

    # single-dim compatibility for introspection/tests
    @property
    def dim_store(self) -> KeyedParquetStore:
        assert len(self.dims) == 1
        return self.dim_stores[self.dims[0].dim]

    def _j_rows(
        self,
        fact_rows: DataFrame,
        dim_now: dict[str, DataFrame],
        carry: tuple[str, ...] = (),
        bounded: bool = False,
    ) -> DataFrame:
        """fact rows ⟕ every dim in join order, projected to bare J
        columns plus a ``__matched`` flag (True iff ALL dims matched —
        inner-join semantics). Each dim is pre-pruned by semi-join to
        the referencing values present in the accumulated rows, so the
        per-batch join never builds on a full dimension. Snowflake
        chains compose naturally: an unmatched parent leaves the
        child's join key NULL, which leaves the child unmatched too.
        ``carry`` names extra fact-row columns (e.g. the changelog op)
        to thread through to the output untouched. ``bounded=True``
        marks ``fact_rows`` as δ-scale (a refresh batch): the pruning
        key sets and pruned dim slices then carry explicit BROADCAST
        hints — the MOR-chain lineages under the dims have no size
        stats, so without the hint Catalyst sort-merges and shuffles
        every dim through the delta-tuned partition count. Bootstrap
        (full-fact) calls must NOT set it: there the 'pruned' dim is
        the whole dimension."""
        hint = F.broadcast if bounded else (lambda df: df)
        acc = fact_rows.select(*self._fact_side, *carry)
        flags = []
        for i, d in enumerate(self.dims):
            jks = [f"__jk_{i}_{n}" for n in range(len(d.pk_cols))]
            keys = (
                acc.select(
                    *[F.col(rc).alias(jk) for rc, jk in zip(d.ref_cols, jks)]
                )
                .where(
                    functools.reduce(
                        lambda a, b: a & b, [F.col(jk).isNotNull() for jk in jks]
                    )
                )
                .distinct()
            )
            dim_df = dim_now[d.dim]
            semi_cond = functools.reduce(
                lambda a, b: a & b,
                [dim_df[pc] == keys[jk] for pc, jk in zip(d.pk_cols, jks)],
            )
            pruned = dim_df.join(hint(keys), semi_cond, "left_semi").select(
                *[F.col(pc).alias(jk) for pc, jk in zip(d.pk_cols, jks)],
                *[F.col(c) for c in self._dim_carry[d.dim]],
            )
            join_cond = functools.reduce(
                lambda a, b: a & b,
                [F.col(rc) == F.col(jk) for rc, jk in zip(d.ref_cols, jks)],
            )
            acc = acc.join(hint(pruned), join_cond, "left")
            # LEFT dims never drop the fact row — only inner dims gate
            # membership; their unmatched rows keep NULL dim columns.
            if d.how != "left":
                flags.append(F.col(jks[0]).isNotNull())
        matched = (
            functools.reduce(lambda a, b: a & b, flags) if flags else F.lit(True)
        )
        for alias, expr in self._key_exprs:
            acc = acc.withColumn(alias, F.expr(expr))
        return acc.select(*self._j_cols, *carry, matched.alias("__matched"))

    def _joined(self, fact_df: DataFrame, dim_now: dict[str, DataFrame]) -> DataFrame:
        """The full (inner-join) J relation for bootstrap."""
        out = self._j_rows(fact_df, dim_now).filter(F.col("__matched")).drop("__matched")
        if self.where is not None:
            out = out.filter(F.expr(self.where))
        return out

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        for d in self.dims:
            self.dim_stores[d.dim].bootstrap(self.dim0[d.dim], batch_id)
        self._sink_bootstrap(batch_id)

    def _sink_bootstrap(self, batch_id) -> None:
        self._agg.fact_df0 = self._joined(
            self.fact_store.read(),
            {d.dim: self.dim_stores[d.dim].read() for d in self.dims},
        )
        self._agg.bootstrap(batch_id)

    def _affected_fact_rows(
        self, dim_name: str, dirty_keys: DataFrame, dim_now: dict[str, DataFrame]
    ) -> DataFrame:
        """Fact ROWS reachable from dirty keys of ``dim_name``: walk the
        join tree rootward — a dirty dim key dirties the parent rows
        whose referencing column holds it, hop by hop to the fact. Each
        hop is one semi-join pruned to the dirty key set; the FINAL hop
        returns the pruned fact rows themselves. (An earlier shape
        returned fact PKs and re-joined them against a second full fact
        read — at sf10 dim churn that meant two chained table scans and
        an UN-HINTED 150k-key semi-join that shuffled the whole fact,
        executed once per downstream action; measured as the 0.81×
        dim-churn loss, VERDICT r9.)"""
        cur_name, cur_keys = dim_name, dirty_keys
        cur_pk_cols = self._by_name[dim_name].pk_cols
        while True:
            edge = self._by_name[cur_name]
            ref_vals = cur_keys.select(
                *[
                    F.col(pc).alias(rc)
                    for pc, rc in zip(cur_pk_cols, edge.ref_cols)
                ]
            ).distinct()
            if edge.parent == self.fact_name:
                # dirty-key sets are δ-bounded at every hop — broadcast
                # so the fact/dim scans stay map-side
                return self.fact_store.read().join(
                    F.broadcast(ref_vals), list(edge.ref_cols), "left_semi"
                )
            parent_edge = self._by_name[edge.parent]
            cur_keys = (
                dim_now[edge.parent]
                .join(F.broadcast(ref_vals), list(edge.ref_cols), "left_semi")
                .select(*parent_edge.pk_cols)
            )
            cur_name, cur_pk_cols = edge.parent, parent_edge.pk_cols

    @_maintenance
    def refresh(self, changes: dict[str, DataFrame], batch_id) -> bool:
        """One micro-batch of changelogs on any subset of tables →
        J-changelog → inner aggregate refresh. Source merges commit
        first (idempotent by batch_id); the J-changelog is derived from
        the post-batch states, and old-row retraction happens inside
        the inner MV against its own versioned J store — so a crash
        anywhere replays to the same result."""
        changes = {k: v for k, v in changes.items() if v is not None}
        if batch_id in self.target.committed_batches():
            return False
        unknown = set(changes) - {self.fact_name, *self._by_name}
        if unknown:
            raise ValueError(f"unknown tables in changes: {sorted(unknown)}")
        if not changes:
            return False
        fact_changes = changes.get(self.fact_name)
        # Source stores are disjoint single-writer directories — merge
        # them CONCURRENTLY (threaded job submission; Spark schedules
        # the write jobs in parallel). The old per-store Python loop
        # serialized one blocking job per source, a fixed latency floor
        # of ~0.3-0.5s × |changed tables| per refresh regardless of δ.
        merges = [
            (
                name,
                self.fact_store if name == self.fact_name else self.dim_stores[name],
                ch,
            )
            for name, ch in changes.items()
        ]
        if len(merges) == 1:
            merges[0][1].merge(merges[0][2], batch_id)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(merges)) as pool:
                for f in [pool.submit(s.merge, ch, batch_id) for _, s, ch in merges]:
                    f.result()
        # Re-bind every changed table to its merge's materialized delta:
        # the changelog lineages executed once, inside the merge writes;
        # the dels/ups split and J re-derivation below scan those
        # micro-batch-sized parquets instead of re-running them.
        for name, store, _ in merges:
            mat = store.batch_delta(batch_id)
            if mat is not None:
                changes[name] = mat
        fact_changes = changes.get(self.fact_name)
        if not any(name != self.fact_name for name, _, _ in merges):
            # Fact-only batch: every downstream shuffle is bounded by
            # the measured fact delta — size to it. Dim churn is NOT
            # tuned here (one dim key can fan out to many fact rows, so
            # the J derivation keeps the configured sizing); the inner
            # aggregate re-tunes its target legs on the measured state
            # delta after its state merge (external_fact branch).
            _tune_delta_shuffle(
                self.spark,
                self.shuffle_partitions,
                self.fact_store.batch_change_rows(batch_id),
            )
        dim_changed_names = [n for n, _, _ in merges if n != self.fact_name]
        # Fact-only batch: each dim hanging directly off the fact is
        # read KEY-PRUNED — the batch's FK values (driver-read from the
        # fact delta's parquet) bound exactly which dim rows the join
        # can touch, and read_keys pushes them into the dim's parquet
        # scan (row-group skip). A full dim read per refresh is O(dim);
        # this is O(δ). Dim-churn batches re-derive arbitrary fact rows
        # whose references aren't bounded by the batch, so they keep
        # full (MOR) reads; snowflake children's keys are only known at
        # runtime, likewise.
        dim_now = {}
        for d in self.dims:
            store = self.dim_stores[d.dim]
            pruned = None
            if (
                not dim_changed_names
                and d.parent == self.fact_name
                and len(d.pk_cols) == 1
                and len(d.ref_cols) == 1
            ):
                kv = self.fact_store.batch_column_values(batch_id, d.ref_cols[0])
                if kv is not None:
                    pruned = store.read_keys(d.pk_cols[0], kv)
            dim_now[d.dim] = pruned if pruned is not None else store.read()

        parts: list[DataFrame] = []
        if fact_changes is not None:
            # ONE join pass for deletes and upserts alike (two passes
            # scanned every dim twice per batch): deleted fact rows
            # leave J regardless of the join outcome (-D only needs the
            # PK); upserts re-join against current dims, and an
            # unmatched upsert also leaves J (inner-join semantics).
            final = last_change_per_key(fact_changes, self.fact_pk).select(
                *[c for c in fact_changes.columns if c != SEQ_COL]
            )
            parts.append(
                self._j_rows(final, dim_now, carry=(OP_COL,), bounded=True)
                .withColumn(
                    OP_COL,
                    F.when(F.col(OP_COL) == OP_DELETE, F.lit(OP_DELETE))
                    .when(F.col("__matched"), F.lit(OP_UPDATE))
                    .otherwise(F.lit(OP_DELETE)),
                )
                .drop("__matched")
            )
        dim_changed = [n for n in changes if n != self.fact_name]
        if dim_changed:
            aff_parts = [
                self._affected_fact_rows(
                    name,
                    last_change_per_key(
                        changes[name], list(self._by_name[name].pk_cols)
                    ).select(*self._by_name[name].pk_cols),
                    dim_now,
                )
                for name in dim_changed
            ]
            affected = aff_parts[0]
            for p in aff_parts[1:]:
                affected = affected.unionByName(p)
            if len(aff_parts) > 1:
                # the same fact row can be reached from several churned
                # dims; the dedup shuffles only the affected rows
                affected = affected.dropDuplicates(self.fact_pk)
            # Touched dim keys re-derive every J row they reach: renamed
            # dims rewrite their rows (+U), deleted dims drop them (-D).
            parts.append(
                self._j_rows(affected, dim_now).withColumn(
                    OP_COL,
                    F.when(F.col("__matched"), F.lit(OP_UPDATE)).otherwise(
                        F.lit(OP_DELETE)
                    ),
                ).drop("__matched")
            )

        # Later parts supersede earlier ones per fact PK (the dim part
        # carries the same post-batch values, but explicit sequencing
        # keeps last_change_per_key deterministic).
        j_changes = parts[0].withColumn(SEQ_COL, F.lit(0).cast("long"))
        for i, p in enumerate(parts[1:], start=1):
            j_changes = j_changes.unionByName(p.withColumn(SEQ_COL, F.lit(i).cast("long")))
        if self.where is not None:
            from tiflink_spark.changelog import apply_filter

            j_changes = apply_filter(j_changes, self.where)
        # Old-J rows for retraction, derived from the versioned source
        # stores (J itself is never materialized): the pre-batch J row
        # of every key this batch touches = pre-batch fact rows
        # (bucket-pruned lookup for fact-changed keys; current rows for
        # dim-churn-affected keys — dim churn doesn't move fact rows)
        # ⋈ PRE-batch dim state, inner-matched and WHERE-filtered —
        # exactly the rows that were in J before this batch.
        def pre_read(store):
            if batch_id in store.committed_batches():
                return store.read(store.version_before_batch(batch_id))
            return store.read()

        dim_pre = {d.dim: pre_read(self.dim_stores[d.dim]) for d in self.dims}
        old_fact_parts = []
        if fact_changes is not None:
            prev_v = self.fact_store.version_before_batch(batch_id)
            bks = self.fact_store.batch_buckets(batch_id)
            old_fact = (
                self.fact_store.read_buckets(
                    bks, prev_v,
                    key_filter=self.fact_store.batch_key_values(batch_id),
                )
                if bks is not None
                else self.fact_store.read(prev_v)
            )
            fck = last_change_per_key(fact_changes, self.fact_pk).select(*self.fact_pk)
            old_fact_parts.append(
                old_fact.join(F.broadcast(fck), self.fact_pk, "left_semi")
            )
        if dim_changed:
            # dim churn doesn't move fact rows, so the affected keys'
            # old rows ARE their current rows — except keys the same
            # batch also fact-changed: those must take the pre-batch
            # leg above (their current row is already the NEW value)
            aff_old = affected
            if fact_changes is not None:
                aff_old = affected.join(
                    F.broadcast(fck), self.fact_pk, "left_anti"
                )
            old_fact_parts.append(aff_old)
        old_fact_rows = old_fact_parts[0]
        for p in old_fact_parts[1:]:
            old_fact_rows = old_fact_rows.unionByName(
                p.select(*old_fact_rows.columns)
            )
        old_fact_rows = old_fact_rows.dropDuplicates(self.fact_pk)
        old_j = (
            self._j_rows(old_fact_rows, dim_pre, bounded=True)
            .filter(F.col("__matched"))
            .drop("__matched")
        )
        if self.where is not None:
            old_j = old_j.filter(F.expr(self.where))

        def new_base():
            # post-batch J view — only non-invertible measures pay it
            return self._joined(
                self.fact_store.read(),
                {d.dim: self.dim_stores[d.dim].read() for d in self.dims},
            )

        # The J-changelog stays LAZY here: the inner MV's STATE merge
        # is its single point of execution (one write job runs the
        # multi-join derivation and the old-J retraction together);
        # the target diff re-binds to the written state delta.
        return self._sink_refresh(
            j_changes, batch_id, old_rows=old_j, new_base=new_base
        )

    def _sink_refresh(
        self, j_changes: DataFrame, batch_id, old_rows=None, new_base=None
    ) -> bool:
        return self._agg.refresh(
            j_changes, batch_id, old_rows=old_rows, new_base=new_base
        )

    def read(self, version: int | None = None) -> DataFrame:
        return self._agg.read(version)


class IncrementalJoinProjectionMV(IncrementalJoinAggMV):
    """Incremental MV where the joined relation ITSELF is the view:

        SELECT fact-cols, dim-cols[, row-local exprs]
        FROM fact JOIN|LEFT JOIN dims ... [WHERE row-local]

    keyed by the fact PK — the lookup-enrichment pattern (orders
    carrying their customer's name). Every dim still enters through
    its declared PK, so each fact row joins to ≤1 row per dim and the
    fact PK keys the output; unlike the aggregate shape, LEFT-dim
    columns are fine in the select list (NULL payload, never a NULL
    key). All of the parent's machinery — dirty-join-key re-derivation,
    hop-by-hop dim propagation, composite keys, the stateless WHERE
    rule — is reused wholesale; the 'aggregate' is the identity, so the
    J-changelog MERGEs straight into the target. Per-batch work is the
    parent's J maintenance cost; state is fact + dim stores + target.

    ``out_cols`` are the view's output names in select order — J
    column names, including any derived-expression aliases the parent
    computes via ``key_exprs``.
    """

    def __init__(self, *args, out_cols: list[str], **kwargs):
        self._out_cols = list(out_cols)
        super().__init__(*args, **kwargs)

    def _make_sink(
        self, work_dir, group_keys, measures, target_filter,
        num_buckets, shuffle_partitions,
    ) -> None:
        self.target = KeyedParquetStore(
            self.spark, os.path.join(work_dir, "mv"), self.fact_pk, num_buckets
        )

    def _project_out(self, df: DataFrame) -> DataFrame:
        extra = [F.col(c) for c in (OP_COL, SEQ_COL) if c in df.columns]
        return df.select(*self._out_cols, *extra)

    def _sink_bootstrap(self, batch_id) -> None:
        self.target.bootstrap(
            self._project_out(
                self._joined(
                    self.fact_store.read(),
                    {d.dim: self.dim_stores[d.dim].read() for d in self.dims},
                )
            ),
            batch_id,
        )

    def _sink_refresh(
        self, j_changes: DataFrame, batch_id, old_rows=None, new_base=None
    ) -> bool:
        # identity 'aggregate': the J-changelog merges straight into
        # the target; retraction is by PK, so old rows aren't needed
        self.target.merge(self._project_out(j_changes), batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


class IncrementalTemporalJoinMV:
    """Event-time temporal (versioned dim) join MV — the
    ``FOR SYSTEM_TIME AS OF f.ts`` enrichment view:

        SELECT fact-cols, dim-cols
        FROM fact f JOIN dim FOR SYSTEM_TIME AS OF f.ts AS d
          ON f.fk = d.pk

    keyed by the fact PK. Flink SQL's versioned-table join is in the
    reference's surface by delegation (TiFlinkApp.java:270); Spark has
    no temporal join, so the engine maintains the dim's HISTORY itself,
    SCD-2 style: one history row per (pk, version) with
    ``[__valid_from, __valid_to)`` validity, where a dim change row
    takes effect at its own event-time column value. Facts join the
    version whose interval contains the fact's event time — a late
    fact row joins the dim AS OF its own time, not current dim state,
    and the same fact key re-arriving across dim versions lands on
    different versions.

    Maintenance:
    - dim batch: per changed key, the open interval closes at the
      batch's first change time (out-of-order dim times fail loudly —
      the watermark-ordering contract of Flink's event-time temporal
      join), each non-delete change opens a new version valid until the
      key's next change in the batch, and the fact rows referencing the
      changed keys re-derive against the post-batch history (work ∝
      fan-out of changed dim keys, never the fact table).
    - fact batch: changed fact rows re-derive against current history
      (work ∝ δ); an upsert whose event time matches no version leaves
      the view (inner-join semantics), like the join-agg route's
      unmatched rule.

    History grows with dim churn (one row per version — the state any
    versioned join must keep; Flink keeps the same rows in operator
    state); reads of it are always pruned by key semi-joins.
    """

    VSEQ, VFROM, VTO = "__vseq", "__valid_from", "__valid_to"

    def __init__(
        self,
        spark: SparkSession,
        fact_name: str,
        fact: DataFrame,
        fact_pk: list[str],
        dim_name: str,
        dim: DataFrame,
        dim_pk: str | list[str],
        dim_time_col: str,
        fk: str | list[str],
        time_col: str,
        out_cols: list[str],
        out_src: list[str],
        fact_cols: list[str],
        dim_cols: list[str],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        late_dim: str = "raise",
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        if late_dim not in ("raise", "reorder"):
            raise ValueError(f"late_dim must be 'raise' or 'reorder', got {late_dim!r}")
        # "raise": out-of-order dim versions fail loudly (the default —
        # Flink's watermark-ordering contract). "reorder": a late dim
        # version is SPLICED retroactively — the dirty keys' version
        # chains are rebuilt from (existing versions ∪ batch changes)
        # ordered by event time, re-splitting the affected validity
        # intervals; the fact re-derivation that follows every dim
        # batch then moves earlier events onto the corrected versions.
        self.late_dim = late_dim
        self.fact_name, self.dim_name = fact_name, dim_name
        self.fact_pk = list(fact_pk)
        # composite dim PKs: fk[i] on the fact side pairs with
        # dim_pk[i] on the dim side (the planner aligns them)
        self.dim_pk = [dim_pk] if isinstance(dim_pk, str) else list(dim_pk)
        self.dim_time_col = dim_time_col
        self.fk = [fk] if isinstance(fk, str) else list(fk)
        if len(self.fk) != len(self.dim_pk):
            raise ValueError("temporal join: fk and dim_pk arity disagree")
        self.time_col = time_col
        self.out = list(zip(out_cols, out_src))
        # columns each side must carry (fact: pk + fk + ts + outputs;
        # dim history payload: dim outputs minus the pk, whose value
        # rides __valid_from-keyed rows already)
        self._fact_side = list(
            dict.fromkeys([*self.fact_pk, *self.fk, time_col, *fact_cols])
        )
        self._dim_payload = [
            c
            for c in dict.fromkeys(dim_cols)
            if c not in (*self.dim_pk, dim_time_col)
        ]
        self.fact0 = fact.select(*self._fact_side)
        self.dim0 = dim
        self.fact_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), self.fact_pk, num_buckets
        )
        self.hist_store = KeyedParquetStore(
            spark,
            os.path.join(work_dir, "dim_history"),
            [*self.dim_pk, self.VSEQ],
            num_buckets,
        )
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), self.fact_pk, num_buckets
        )

    def _asof(self, fact_rows: DataFrame, hist: DataFrame) -> DataFrame:
        """fact rows ⟕ the dim version valid AS OF each row's event
        time (left join + ``__matched``; exactly one interval can
        contain a given time). The history side is pre-pruned to the
        referencing keys present in the rows."""
        import functools
        import operator

        keys = (
            fact_rows.select(
                *[F.col(k).alias(f"__k{i}") for i, k in enumerate(self.fk)]
            )
            .where(
                functools.reduce(
                    operator.and_,
                    [F.col(f"__k{i}").isNotNull() for i in range(len(self.fk))],
                )
            )
            .distinct()
        )
        h = hist.join(
            keys,
            functools.reduce(
                operator.and_,
                [
                    hist[p] == keys[f"__k{i}"]
                    for i, p in enumerate(self.dim_pk)
                ],
            ),
            "left_semi",
        ).select(
            *[
                F.col(p).alias(f"__hpk{i}")
                for i, p in enumerate(self.dim_pk)
            ],
            F.col(self.VFROM),
            F.col(self.VTO),
            *[F.col(c) for c in self._dim_payload],
        )
        f = fact_rows
        cond = functools.reduce(
            operator.and_,
            [f[k] == h[f"__hpk{i}"] for i, k in enumerate(self.fk)],
        ) & (f[self.time_col] >= h[self.VFROM]) & (
            h[self.VTO].isNull() | (f[self.time_col] < h[self.VTO])
        )
        joined = f.join(h, cond, "left")
        dim_by_low = {p.lower(): i for i, p in enumerate(self.dim_pk)}
        cols = []
        for name, src in self.out:
            if src == "fact":
                cols.append(f[name])
            elif name.lower() in dim_by_low:
                # a selected dim PK column rides the __hpk alias (and
                # equals the fact FK on matched rows)
                cols.append(h[f"__hpk{dim_by_low[name.lower()]}"].alias(name))
            elif name == self.dim_time_col:
                cols.append(h[self.VFROM].alias(name))
            else:
                cols.append(joined[name])
        return joined.select(
            *cols, h["__hpk0"].isNotNull().alias("__matched")
        )

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        self.fact_store.bootstrap(self.fact0, batch_id)
        ts_type = dict(self.dim0.dtypes)[self.dim_time_col]
        hist0 = self.dim0.select(
            *[F.col(p) for p in self.dim_pk],
            F.lit(0).cast("long").alias(self.VSEQ),
            F.col(self.dim_time_col).alias(self.VFROM),
            F.lit(None).cast(ts_type).alias(self.VTO),
            *[F.col(c) for c in self._dim_payload],
        )
        self.hist_store.bootstrap(hist0, batch_id)
        rows = self._asof(self.fact_store.read(), self.hist_store.read())
        self.target.bootstrap(
            rows.filter(F.col("__matched")).drop("__matched"), batch_id
        )

    def _hist_changes(self, dim_changes: DataFrame, batch_id) -> DataFrame:
        """History maintenance rows for one dim changelog batch, derived
        from the PRE-batch history (version_before_batch on replay)."""
        from pyspark.sql import Window

        if batch_id in self.hist_store.committed_batches():
            pre = self.hist_store.read(self.hist_store.version_before_batch(batch_id))
        else:
            pre = self.hist_store.read()
        t = F.col(self.dim_time_col)
        ch = dim_changes.withColumn(
            self.dim_time_col,
            F.when(t.isNotNull(), t).otherwise(
                F.raise_error(
                    F.lit(
                        f"temporal dim change without event time "
                        f"({self.dim_time_col} IS NULL)"
                    )
                )
            ),
        )
        w = Window.partitionBy(*self.dim_pk).orderBy(
            F.col(self.dim_time_col), F.col(SEQ_COL)
        )
        seqd = ch.withColumn("__nxt", F.lead(self.dim_time_col).over(w)).withColumn(
            "__rn", F.row_number().over(w)
        )
        dirty = dim_changes.select(*self.dim_pk).distinct()
        mins = dim_changes.groupBy(*self.dim_pk).agg(
            F.min(self.dim_time_col).alias("__min_t")
        )
        open_rows = pre.filter(F.col(self.VTO).isNull()).join(
            dirty, self.dim_pk, "left_semi"
        )
        # close the open interval at the batch's first change time; an
        # earlier-than-open change is an ordering violation (Flink's
        # event-time temporal join requires watermark-ordered versions)
        closed = open_rows.join(mins, self.dim_pk).withColumn(
            self.VTO,
            F.when(F.col("__min_t") >= F.col(self.VFROM), F.col("__min_t")).otherwise(
                F.raise_error(
                    F.lit(
                        "temporal dim change precedes the key's open "
                        "version (__valid_from) — versions must be "
                        "event-time ordered"
                    )
                )
            ),
        ).drop("__min_t")
        maxv = pre.groupBy(*self.dim_pk).agg(F.max(self.VSEQ).alias("__maxv")).join(
            dirty, self.dim_pk, "left_semi"
        )
        new_rows = (
            seqd.filter(F.col(OP_COL) != OP_DELETE)
            .join(maxv, self.dim_pk, "left")
            .select(
                *[F.col(p) for p in self.dim_pk],
                (F.coalesce(F.col("__maxv"), F.lit(-1).cast("long")) + F.col("__rn"))
                .cast("long")
                .alias(self.VSEQ),
                F.col(self.dim_time_col).alias(self.VFROM),
                F.col("__nxt").alias(self.VTO),
                *[F.col(c) for c in self._dim_payload],
            )
        )
        out_cols = [*self.dim_pk, self.VSEQ, self.VFROM, self.VTO, *self._dim_payload]
        return (
            closed.select(*out_cols)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.lit(0).cast("long"))
            .unionByName(
                new_rows.withColumn(OP_COL, F.lit(OP_UPDATE)).withColumn(
                    SEQ_COL, F.lit(1).cast("long")
                )
            )
        )

    def _hist_changes_reorder(self, dim_changes: DataFrame, batch_id) -> DataFrame:
        """``late_dim="reorder"``: rebuild the dirty keys' version
        chains from scratch — (existing version events ∪ batch change
        events) ordered by event time, validity intervals re-derived
        with one LEAD window, versions renumbered 0..m-1. A LATE change
        (earlier than the key's open version) thereby splits the
        interval that contained it retroactively; the fact
        re-derivation after the history merge moves the affected
        events' AS OF lookups onto the corrected versions. Work is
        O(versions of dirty keys) — strictly more than the in-order
        fast path's O(δ), which is why the loud default stays "raise".
        Batch events at a time an existing version already occupies
        REPLACE it (the in-order path's zero-width-interval close has
        the same lookup semantics); a delete event closes the previous
        interval and opens nothing. Derived from the PRE-batch history
        (version_before_batch) so crash replay is exact."""
        from pyspark.sql import Window

        if batch_id in self.hist_store.committed_batches():
            pre = self.hist_store.read(self.hist_store.version_before_batch(batch_id))
        else:
            pre = self.hist_store.read()
        t = F.col(self.dim_time_col)
        ch = dim_changes.withColumn(
            self.dim_time_col,
            F.when(t.isNotNull(), t).otherwise(
                F.raise_error(
                    F.lit(
                        f"temporal dim change without event time "
                        f"({self.dim_time_col} IS NULL)"
                    )
                )
            ),
        )
        dirty = ch.select(*self.dim_pk).distinct()
        old = pre.join(F.broadcast(dirty), self.dim_pk, "left_semi")
        # version rows and batch rows as one EVENT stream per key;
        # batch rows outrank existing versions at the same instant
        ev_old = old.select(
            *self.dim_pk,
            F.col(self.VFROM).alias(self.dim_time_col),
            *[F.col(c) for c in self._dim_payload],
            F.lit(OP_UPDATE).alias(OP_COL),
            F.lit(0).alias("__prio"),
            F.col(self.VSEQ).cast("long").alias("__tb"),
        )
        # Past DELETE events leave no version row — only a GAP: a
        # closed interval whose end time no other version of the key
        # starts at. Reconstruct them, or the rebuild would resurrect
        # the key past its deletion.
        w_k = Window.partitionBy(*self.dim_pk)
        ev_del_old = (
            old.withColumn("__froms", F.collect_set(F.col(self.VFROM)).over(w_k))
            .filter(
                F.col(self.VTO).isNotNull()
                & ~F.array_contains(F.col("__froms"), F.col(self.VTO))
            )
            .select(
                *self.dim_pk,
                F.col(self.VTO).alias(self.dim_time_col),
                *[F.col(c) for c in self._dim_payload],
                F.lit(OP_DELETE).alias(OP_COL),
                F.lit(0).alias("__prio"),
                F.col(self.VSEQ).cast("long").alias("__tb"),
            )
        )
        ev_new = ch.select(
            *self.dim_pk,
            F.col(self.dim_time_col),
            *[F.col(c) for c in self._dim_payload],
            F.col(OP_COL),
            F.lit(1).alias("__prio"),
            F.col(SEQ_COL).cast("long").alias("__tb"),
        )
        ev = ev_old.unionByName(ev_del_old).unionByName(ev_new)
        w_t = Window.partitionBy(*self.dim_pk, self.dim_time_col).orderBy(
            F.desc("__prio"), F.desc("__tb")
        )
        ev1 = (
            ev.withColumn("__r", F.row_number().over(w_t))
            .filter(F.col("__r") == 1)
            .drop("__r", "__prio", "__tb")
        )
        w = Window.partitionBy(*self.dim_pk).orderBy(self.dim_time_col)
        seqd = ev1.withColumn("__nxt", F.lead(self.dim_time_col).over(w))
        rows = seqd.filter(F.col(OP_COL) != OP_DELETE)
        w_emit = Window.partitionBy(*self.dim_pk).orderBy(self.dim_time_col)
        rebuilt = rows.select(
            *self.dim_pk,
            (F.row_number().over(w_emit) - 1).cast("long").alias(self.VSEQ),
            F.col(self.dim_time_col).alias(self.VFROM),
            F.col("__nxt").alias(self.VTO),
            *[F.col(c) for c in self._dim_payload],
        )
        out_cols = [*self.dim_pk, self.VSEQ, self.VFROM, self.VTO, *self._dim_payload]
        upserts = rebuilt.select(*out_cols).withColumn(
            OP_COL, F.lit(OP_UPDATE)
        ).withColumn(SEQ_COL, F.lit(1).cast("long"))
        # old version rows whose (pk, seq) the rebuilt chain no longer
        # occupies (delete-heavy batches can shrink the chain) — drop
        # them, or a stale tail version would shadow lookups
        gone = old.join(
            rebuilt.select(*self.dim_pk, self.VSEQ),
            [*self.dim_pk, self.VSEQ],
            "left_anti",
        )
        deletes = gone.select(*out_cols).withColumn(
            OP_COL, F.lit(OP_DELETE)
        ).withColumn(SEQ_COL, F.lit(0).cast("long"))
        return deletes.unionByName(upserts)

    @_maintenance
    def refresh(self, changes: dict[str, DataFrame], batch_id) -> bool:
        changes = {k: v for k, v in changes.items() if v is not None}
        if batch_id in self.target.committed_batches():
            return False
        unknown = set(changes) - {self.fact_name, self.dim_name}
        if unknown:
            raise ValueError(f"unknown tables in changes: {sorted(unknown)}")
        if not changes:
            return False
        parts: list[DataFrame] = []

        dim_changes = changes.get(self.dim_name)
        if dim_changes is not None:
            hist_changes = (
                self._hist_changes_reorder(dim_changes, batch_id)
                if self.late_dim == "reorder"
                else self._hist_changes(dim_changes, batch_id)
            )
            self.hist_store.merge(hist_changes, batch_id)
            # fact rows referencing the changed keys re-derive against
            # the post-batch history (a version split moves their AS OF
            # lookup; a closing delete drops them)
            # two-step rename (dim pk -> fact fk names) so a crossed
            # composite mapping (fk=(b,a) over pk=(a,b)) can't collide
            dirty_fk = (
                last_change_per_key(dim_changes, self.dim_pk)
                .select(
                    *[
                        F.col(p).alias(f"__dfk{i}")
                        for i, p in enumerate(self.dim_pk)
                    ]
                )
                .toDF(*self.fk)
                .distinct()
            )
            affected = self.fact_store.read().join(dirty_fk, self.fk, "left_semi")
            parts.append(
                self._asof(affected, self.hist_store.read()).withColumn(
                    OP_COL,
                    F.when(F.col("__matched"), F.lit(OP_UPDATE)).otherwise(
                        F.lit(OP_DELETE)
                    ),
                ).drop("__matched")
            )

        fact_changes = changes.get(self.fact_name)
        if fact_changes is not None:
            self.fact_store.merge(
                fact_changes.select(*self._fact_side, OP_COL, SEQ_COL), batch_id
            )
            mat = self.fact_store.batch_delta(batch_id)
            if mat is not None:
                fact_changes = mat
            _tune_delta_shuffle(
                self.spark,
                self.shuffle_partitions,
                self.fact_store.batch_change_rows(batch_id),
            )
            hist = self.hist_store.read()
            final = last_change_per_key(fact_changes, self.fact_pk)
            bare = [c for c in final.columns if c not in (OP_COL, SEQ_COL)]
            dels = final.filter(F.col(OP_COL) == OP_DELETE).select(*bare)
            ups = final.filter(F.col(OP_COL) != OP_DELETE).select(*bare)
            parts.append(
                self._asof(dels, hist)
                .drop("__matched")
                .withColumn(OP_COL, F.lit(OP_DELETE))
            )
            parts.append(
                self._asof(ups, hist).withColumn(
                    OP_COL,
                    F.when(F.col("__matched"), F.lit(OP_UPDATE)).otherwise(
                        F.lit(OP_DELETE)
                    ),
                ).drop("__matched")
            )

        mv_changes = parts[0].withColumn(SEQ_COL, F.lit(0).cast("long"))
        for i, p in enumerate(parts[1:], start=1):
            mv_changes = mv_changes.unionByName(
                p.withColumn(SEQ_COL, F.lit(i).cast("long"))
            )
        self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)


def _null_out_idents(expr: str, idents: set[str]) -> str:
    """Replace word-boundary occurrences of ``idents`` with NULL,
    skipping string literals — how a HAVING that references a grouping
    key is specialized for the sub-MVs that aggregate that key away."""
    import re as _re

    parts = _re.split(r"('(?:[^']|'')*')", expr)
    pat = _re.compile(
        r"\b(" + "|".join(_re.escape(k) for k in sorted(idents)) + r")\b",
        _re.IGNORECASE,
    )
    return "".join(p if i % 2 else pat.sub("NULL", p) for i, p in enumerate(parts))


def _subst_int_idents(expr: str, values: dict[str, int]) -> str:
    """Replace word-boundary occurrences of the identifiers in
    ``values`` with their integer literals, skipping string literals —
    how GROUPING()/GROUPING_ID() placeholders (and grouping-flag
    select aliases) referenced in a HAVING clause are specialized to
    each grouping set's constant."""
    import re as _re

    if not values:
        return expr
    by_lower = {k.lower(): str(v) for k, v in values.items()}
    parts = _re.split(r"('(?:[^']|'')*')", expr)
    pat = _re.compile(
        r"\b(" + "|".join(_re.escape(k) for k in sorted(by_lower)) + r")\b",
        _re.IGNORECASE,
    )
    return "".join(
        p if i % 2 else pat.sub(lambda m: by_lower[m.group(1).lower()], p)
        for i, p in enumerate(parts)
    )


class IncrementalGroupingSetsMV:
    """GROUPING SETS / ROLLUP / CUBE maintained by decomposition.

    SURVEY §2.2 prescribes "expand to union of aggs" — the same shape
    Flink's planner produces with an Expand node before the aggregate
    (the reference gets these by delegation, TiFlinkApp.java:270). One
    :class:`IncrementalAggMV` per grouping set (the empty set runs as
    the keep-alive global aggregate), all sharing ONE fact store:
    KeyedParquetStore's batch-id idempotence makes the first sub-MV's
    fact merge the real one and every later sub's a no-op that reads
    the pre-batch snapshot for retraction — the crash-replay guard
    doubling as the share guard.

    Per-batch work = |sets| × (batch-size state merge) — the identical
    multiplier Spark's own Expand applies to a batch GROUPING SETS
    plan, but over the delta instead of the full table, and the fact
    is stored once, not |sets| times (the 100 TB concern).

    The view is the BAG union of per-set rows with typed NULLs for the
    keys a set omits (subtotal rows), so it has no unique key — callers
    must treat ``pk_is_unique`` as False. Cascades on top are still
    sound through the hidden-carrier mechanism UNION ALL pioneered
    (``cascade_relation``): the TRUE unique key of the bag is
    (grouping set, that set's key values), exposed as one synthetic
    non-NULL identity column ``__set_row`` (subtotal rows carry NULL
    visible keys, which a keyed store must reject — same reasoning as
    the FULL OUTER route's ``f:<pk>`` / ``d:<key>`` identity). The
    composite per-set target stores are presented to CascadeMV as one
    CDC source via :class:`_GroupingSetsCascadeTarget`.
    """

    ROWID = "__set_row"

    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        all_keys: list[str],
        sets: list[tuple[str, ...]],
        measures: list[Measure],
        work_dir: str,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        grouping_items: list[tuple[str, str]] | None = None,
        tail_order: list[tuple[str, str]] | None = None,
        target_filter: str | None = None,
        hidden_measures: list[Measure] | None = None,
        gid_items: list[tuple[str, tuple[str, ...]]] | None = None,
        having_gcalls: list[tuple[str, tuple[str, ...]]] | None = None,
    ):
        self.spark = spark
        self.all_keys = list(all_keys)
        self.sets = [tuple(s) for s in sets]
        # visible output measures; hidden ones (HAVING support) are
        # maintained by every sub-MV but projected away by read()
        self.measures = measures
        self._all_measures = list(measures) + list(hidden_measures or [])
        self.target_filter = target_filter
        # GROUPING(col) flags are CONSTANT per grouping set (1 when the
        # column is aggregated away) — emitted as per-set literals at
        # read time, tinyint to match Spark's grouping() return type.
        self.grouping_items = list(grouping_items or [])
        # GROUPING_ID(cols…) — likewise a per-set constant: bit i
        # (first column = MSB, the Spark/DuckDB/SQL-standard order) set
        # when that column is aggregated away; bigint like Spark's
        # grouping_id().
        self.gid_items = list(gid_items or [])
        # GROUPING()/GROUPING_ID() calls extracted FROM the HAVING
        # clause as (placeholder, cols) — substituted per set with the
        # grouping-id literal before the filter is applied (round 10).
        self.having_gcalls = list(having_gcalls or [])
        self.tail_order = list(tail_order) if tail_order else [
            ("m", m.alias) for m in measures
        ]
        self._has_global = any(not s for s in self.sets)
        # The empty grouping set aggregates globally via the hidden
        # constant key; deriving it once onto the shared fact keeps
        # every sub-MV reading the same row layout.
        fact0 = fact.withColumn("__g", F.lit(0)) if self._has_global else fact
        self._fact0 = fact0
        self._key_types = {
            f.name: f.dataType for f in fact0.schema.fields if f.name in self.all_keys
        }
        self.subs: list[IncrementalAggMV] = []
        shared_fact = KeyedParquetStore(
            spark, os.path.join(work_dir, "fact"), fact_pk, num_buckets
        )
        for i, s in enumerate(self.sets):
            # SQL rule: a grouping key absent from the current set reads
            # as NULL inside HAVING (it IS null on the subtotal row), so
            # each sub-MV applies the filter with its absent keys
            # NULL-substituted — `HAVING g > 5` keeps per-g rows that
            # qualify and drops every subtotal row (NULL > 5 ≡ false),
            # while `HAVING cnt > 3 OR g IS NULL` keeps all subtotals.
            tf = target_filter
            if tf is not None:
                # GROUPING()/GROUPING_ID() placeholders and the
                # select-list grouping/gid aliases are per-set
                # constants — substitute the literals first, then
                # NULL-out the absent keys.
                consts: dict[str, int] = {}
                for ph, cs in self.having_gcalls:
                    consts[ph] = sum(
                        1 << (len(cs) - 1 - j)
                        for j, c in enumerate(cs)
                        if c not in s
                    )
                for a, c in self.grouping_items:
                    consts[a] = 0 if c in s else 1
                for a, cs in self.gid_items:
                    consts[a] = sum(
                        1 << (len(cs) - 1 - j)
                        for j, c in enumerate(cs)
                        if c not in s
                    )
                tf = _subst_int_idents(tf, consts)
                absent = {k for k in self.all_keys if k not in s}
                if absent:
                    tf = _null_out_idents(tf, absent)
            sub = IncrementalAggMV(
                spark,
                fact0,
                fact_pk,
                list(s) if s else ["__g"],
                list(self._all_measures),
                work_dir=os.path.join(work_dir, f"set{i}"),
                num_buckets=num_buckets,
                shuffle_partitions=shuffle_partitions,
                global_group=not s,
                target_filter=tf,
            )
            sub.fact_store = shared_fact  # one fact copy for all sets
            self.subs.append(sub)
        self.fact_store = shared_fact
        # one outer shuffle pin around the concurrent sub passes (the
        # subs' own pins then set/restore the identical value — no
        # cross-thread conf drift)
        self._sub_shuffle = shuffle_partitions
        # Composite CDC source over the per-set target stores — what a
        # CascadeMV consumes instead of a (non-existent) single target.
        self.cascade_target = _GroupingSetsCascadeTarget(self)

    # Per-set sub-MVs maintain DISJOINT state/target stores off one
    # shared fact store, so after the shared fact write commits
    # (serially — the batch-id guard then no-ops every sub's own
    # attempt) the |sets| maintenance passes are independent and run
    # CONCURRENTLY. This is latency hiding, not extra work: each pass
    # is delta-sized, and the fixed per-job scheduling overhead — which
    # dominates at micro-batch deltas and multiplies by |sets| (32 for
    # CUBE(5)) — overlaps instead of serializing. On a real cluster the
    # same concurrency keeps executors busy across the per-set jobs.
    _SUB_WORKERS = 8

    def _run_subs(self, fn):
        if len(self.subs) == 1:
            return [fn(self.subs[0])]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(self._SUB_WORKERS, len(self.subs))
        ) as pool:
            return list(pool.map(fn, self.subs))

    def bootstrap(self, batch_id=0) -> None:
        from tiflink_spark.session import maintenance_session

        with _shuffle_scope(maintenance_session(self.spark), self._sub_shuffle):
            self.fact_store.bootstrap(self._fact0, batch_id)
            self._run_subs(lambda sub: sub.bootstrap(batch_id))

    def refresh(self, changes: DataFrame, batch_id) -> bool:
        if changes is None:
            return False
        if self._has_global:
            changes = changes.withColumn("__g", F.lit(0))
        from tiflink_spark.session import maintenance_session

        with _shuffle_scope(maintenance_session(self.spark), self._sub_shuffle):
            # The shared fact merge is the changelog's single execution
            # point; every sub then re-binds to its materialized delta
            # parquet (each sub's own merge no-ops on the batch-id
            # guard and re-binds the same way). The old eager
            # localCheckpoint here was a whole extra analysis + job per
            # batch materializing the same rows the merge writes.
            self.fact_store.merge(changes, batch_id)
            mat = self.fact_store.batch_delta(batch_id)
            if mat is not None:
                changes = mat
            results = self._run_subs(lambda sub: sub.refresh(changes, batch_id))
        return any(results)

    def _extend(
        self,
        i: int,
        s: tuple[str, ...],
        rows: DataFrame,
        rowid: bool = False,
        passthrough: tuple[str, ...] = (),
    ) -> DataFrame:
        """Per-set rows (sub-MV target schema: that set's keys + every
        measure alias) → the full NULL-extended grouping-sets schema in
        read() column order. ``rowid`` appends the synthetic per-set
        identity ``__set_row`` = set index ⊕ null-safely-encoded key
        values — the TRUE unique key of the bag view, which lets an
        outer cascade level key its stores by one non-NULL column even
        though subtotal rows carry NULL visible keys."""
        gcol = {a: c for a, c in self.grouping_items}
        gidcols = {a: cs for a, cs in self.gid_items}
        cols = []
        for k in self.all_keys:
            if k in s:
                cols.append(F.col(k))
            else:
                cols.append(F.lit(None).cast(self._key_types[k]).alias(k))
        for kind, a in self.tail_order:
            if kind == "m":
                cols.append(F.col(a))
            elif kind == "gid":  # per-set constant GROUPING_ID
                cs = gidcols[a]
                gid = sum(
                    1 << (len(cs) - 1 - j)
                    for j, c in enumerate(cs)
                    if c not in s
                )
                cols.append(F.lit(gid).cast("bigint").alias(a))
            else:  # per-set constant GROUPING flag
                cols.append(
                    F.lit(0 if gcol[a] in s else 1).cast("tinyint").alias(a)
                )
        if rowid:
            parts = [F.lit(str(i))]
            for k in s:
                # The keyed sub-stores already reject NULL grouping keys,
                # but encode null-safely anyway: concat_ws silently drops
                # NULLs, which would alias distinct key tuples.
                parts.append(
                    F.when(F.col(k).isNull(), F.lit("\x00")).otherwise(
                        F.col(k).cast("string")
                    )
                )
            cols.append(F.concat_ws("\x1f", *parts).alias(self.ROWID))
        for c in passthrough:
            cols.append(F.col(c))
        return rows.select(*cols)

    def cascade_relation(self) -> DataFrame:
        """The view WITH its hidden uniqueness carrier ``__set_row`` —
        the relation an outer cascade level must consume (same contract
        as IncrementalUnionMV.cascade_relation). Lazy plan over the
        original fact: per set, the same aggregate the sub-MV's
        bootstrap publishes (all measures incl. hidden HAVING ones,
        then the per-set NULL-substituted filter), NULL-extended and
        identity-tagged."""
        parts = []
        for i, (s, sub) in enumerate(zip(self.sets, self.subs)):
            if s:
                state = aggregate_state(self._fact0, list(s), self._all_measures)
                rows = present_measures(state, self._all_measures)
            else:
                state = aggregate_global_state(
                    self._fact0.drop("__g"), self._all_measures
                )
                rows = present_measures(state, self._all_measures)
            if sub.target_filter is not None:
                rows = rows.filter(F.expr(sub.target_filter))
            parts.append(self._extend(i, s, rows, rowid=True))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self, version: int | None = None) -> DataFrame:
        """Bag union of per-set rows, NULL-extended to the full key
        set — exactly the rows `GROUP BY GROUPING SETS (...)` emits."""
        parts = [
            self._extend(i, s, sub.read(version))
            for i, (s, sub) in enumerate(zip(self.sets, self.subs))
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class _GroupingSetsCascadeTarget:
    """The grouping-sets MV's per-set target stores presented as ONE
    versioned CDC source keyed by the synthetic row identity — the
    store-shaped façade CascadeMV drives (committed_batches /
    version_before_batch / current_version / changes_between). A
    composite "version" is the tuple of per-set store versions; the
    per-sub replay logic mirrors the store's own crash semantics: a
    batch that committed in SOME subs before a crash diffs those subs
    from their pre-batch version and the rest from current, so the
    recovered delta is exactly the batch's effect everywhere."""

    def __init__(self, mv: IncrementalGroupingSetsMV):
        self._mv = mv

    @property
    def pk(self) -> list[str]:
        return [IncrementalGroupingSetsMV.ROWID]

    def current_version(self):
        return tuple(sub.target.current_version() for sub in self._mv.subs)

    def pre_batch_version(self, batch_id):
        """Crash-aware diff baseline for one batch: (composite version,
        fully_committed). Per sub: the pre-batch version if this batch
        already committed there (crash replay), else the current
        version (the inner refresh will apply the batch next). Diffing
        each sub from this baseline to post-refresh current yields
        exactly the batch's effect — never double-applied, never
        dropped — whichever sub the crash interrupted."""
        fully = True
        vs = []
        for sub in self._mv.subs:
            if batch_id in sub.target.committed_batches():
                vs.append(sub.target.version_before_batch(batch_id))
            else:
                fully = False
                vs.append(sub.target.current_version())
        return tuple(vs), fully

    def changes_between(self, v_from, v_to) -> DataFrame:
        from tiflink_spark.store import changes_between as _cb

        mv = self._mv
        parts = []
        for i, (s, sub, vf, vt) in enumerate(
            zip(mv.sets, mv.subs, v_from, v_to)
        ):
            if vf == vt:
                continue
            parts.append(
                mv._extend(
                    i, s, _cb(sub.target, vf, vt),
                    rowid=True, passthrough=(OP_COL, SEQ_COL),
                )
            )
        if not parts:
            raise RuntimeError(
                "changes_between called with identical composite versions"
            )
        out = parts[0]
        for p in parts[1:]:
            # Rows from different sets never share a __set_row (the set
            # index is embedded), so per-sub __seq ordering is complete.
            out = out.unionByName(p)
        return out


class IncrementalAggMV:
    """Incremental MV for `dim ⟕ (SELECT k, aggs FROM fact GROUP BY k)`.

    This is the decorrelated form of the reference's flagship query
    (TiFlinkExample.java:10-16). Changelogs apply to the fact table AND
    (when a dimension is configured) to the dimension: dim inserts/
    renames upsert their MV rows against the current agg state, dim
    deletes remove them — per-batch work ∝ changed dim keys.

    Stores:
      fact store  — current fact state, keyed by fact PK (bucket-pruned
                    MERGE + old-row lookup for retractions)
      state store — internal agg state per group key
      dim store   — current dimension state (when dim is configured)
      target      — user-facing MV rows, keyed by dim PK
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: DataFrame,
        fact_pk: list[str],
        group_key: str | list[str],
        measures: list[Measure],
        work_dir: str,
        dim: DataFrame | None = None,
        dim_key: str | None = None,
        dim_cols: list[str] | None = None,
        num_buckets: int | None = None,
        shuffle_partitions: int | None = None,
        target_filter: str | None = None,
        global_group: bool = False,
        external_fact: bool = False,
    ):
        self.spark = spark
        self.shuffle_partitions = shuffle_partitions
        # Row-local predicate over the MV's OUTPUT columns (HAVING
        # analog): bootstrap rows failing it are excluded, and refresh
        # upserts failing it demote to -D via the stateless-filter
        # changelog rule (changelog.apply_filter) — a group leaving the
        # predicate leaves the view.
        self.target_filter = target_filter
        # Global (no GROUP BY) aggregate: the single group key is a
        # derived constant ("__g"), and the MV keeps its one row alive
        # even when the fact empties — SQL's global aggregate over an
        # empty input is one row (COUNT 0, SUM/MIN/MAX NULL), not zero
        # rows, so vanished state upserts the zero row instead of
        # deleting it.
        self.global_group = global_group
        if global_group and dim is not None:
            raise ValueError("global aggregate MV cannot take a dimension")
        self.fact_df0 = fact
        # Composite GROUP BY keys are first-class; the dim-join form
        # requires a single key (the dim's PK) by construction.
        self.group_keys = [group_key] if isinstance(group_key, str) else list(group_key)
        self.group_key = self.group_keys[0]
        if dim is not None and len(self.group_keys) != 1:
            raise ValueError("dim-joined MV requires a single group key (the dim PK)")
        self.measures = measures
        self.dim = dim
        self.dim_key = dim_key
        self.dim_cols = dim_cols or []
        self.fact_pk = list(fact_pk)
        # external_fact: the fact relation is VIRTUAL — owned and
        # versioned by the caller (the join routes: J = fact ⋈ dims is
        # fully derivable from their source stores). No fact store is
        # created or written; the caller passes pre-batch old rows and
        # a recompute base to refresh() instead. This removes a whole
        # store write per batch AND the materialized-join storage
        # (at scale: the duplicated fact×dim width on disk).
        self.external_fact = external_fact
        self.fact_store = (
            None
            if external_fact
            else KeyedParquetStore(
                spark, os.path.join(work_dir, "fact"), fact_pk, num_buckets
            )
        )
        self.state_store = KeyedParquetStore(
            spark, os.path.join(work_dir, "state"), self.group_keys, num_buckets
        )
        self.dim_store = (
            KeyedParquetStore(spark, os.path.join(work_dir, "dim"), [dim_key], num_buckets)
            if dim is not None
            else None
        )
        mv_pk = [dim_key] if dim is not None else self.group_keys
        self.target = KeyedParquetStore(
            spark, os.path.join(work_dir, "mv"), mv_pk, num_buckets
        )
        # Cached once against the fact schema: whether every measure is
        # order-insensitive (bit-identical across two executions of the
        # same lineage) — the gate for the concurrent state∥target
        # overlap, which runs the new-state lineage twice. Float
        # SUM/AVG/STDDEV can diverge by ulps between the runs (reduce
        # combine order follows shuffle-fetch arrival), silently
        # desyncing state from target until the group is next dirtied.
        # external_fact routes pass fact=None — concurrent is already
        # gated on fact_store there, so the measure check is moot.
        self._concurrent_ok = fact is not None and measures_order_insensitive(
            measures, fact
        )

    # -- MV row construction -----------------------------------------------

    def _mv_rows_for_state(self, state: DataFrame, dim_subset: DataFrame | None = None) -> DataFrame:
        """User-facing MV rows from (a subset of) agg state."""
        keep = (self.group_key,) if self.global_group else ()
        vals = present_measures(state, self.measures, keep=keep)
        if self.dim is None:
            return vals
        dim = dim_subset if dim_subset is not None else self.dim_store.read()
        joined = dim.join(
            vals, dim[self.dim_key] == vals[self.group_key], "left"
        )
        cols = [dim[self.dim_key], *[dim[c] for c in self.dim_cols]]
        for m in self.measures:
            v = joined[m.alias]
            if m.kind in ("count", "count_distinct"):
                # LEFT JOIN: absent group counts as 0
                v = F.coalesce(v, F.lit(0))
            cols.append(v.alias(m.alias))
        return joined.select(*cols)

    @_maintenance
    def bootstrap(self, batch_id=0) -> None:
        if self.fact_store is not None:
            self.fact_store.bootstrap(self.fact_df0, batch_id)
            fact_now = self.fact_store.read()
        else:
            fact_now = self.fact_df0  # virtual fact: the caller's view
        if self.dim_store is not None:
            self.dim_store.bootstrap(self.dim, batch_id)
        if self.global_group:
            # one state row even over an empty bootstrap table
            state = aggregate_global_state(
                fact_now.drop(self.group_key),
                self.measures,
                self.group_key,
            )
        else:
            state = aggregate_state(fact_now, self.group_keys, self.measures)
        self.state_store.bootstrap(state, batch_id)
        rows = self._mv_rows_for_state(self.state_store.read())
        if self.target_filter is not None:
            rows = rows.filter(F.expr(self.target_filter))
        self.target.bootstrap(rows, batch_id)

    @_maintenance
    def refresh(
        self,
        fact_changes: DataFrame | None,
        batch_id,
        dim_changes: DataFrame | None = None,
        old_rows: DataFrame | None = None,
        new_base=None,
    ) -> bool:
        """One changelog micro-batch against the fact table and/or the
        dimension. Dim churn work ∝ changed dim keys: upserted dims
        rebuild their MV row against the current agg state, deleted
        dims drop theirs.

        ``external_fact`` mode (virtual fact — the join routes): the
        caller passes ``old_rows`` (the PRE-batch fact rows for this
        batch's changed keys, derived from its own versioned stores)
        and ``new_base`` (zero-arg callable → the post-batch fact
        relation, for non-invertible dirty-group recompute); no fact
        store is written or read here, and ``fact_changes`` executes
        exactly once, inside the state merge's delta write."""
        # A batch is done when EVERY store it writes has committed it
        # (state commits before target below, so a crash can leave the
        # state committed and the target not; each leg is idempotent
        # and the version_before_batch guards + the state-delta re-bind
        # make the replay exact).
        if batch_id in self.target.committed_batches() and (
            fact_changes is None
            or batch_id in self.state_store.committed_batches()
        ):
            return False
        parts: list[DataFrame] = []
        from concurrent.futures import ThreadPoolExecutor

        new_state = None
        concurrent = False
        state_changes = None
        state_pool = state_future = None
        if fact_changes is not None:
            # Merge first, then read the retraction snapshot FROM BEFORE
            # this batch's commit (versioned time travel — correct on
            # crash replay too). Merging first lets the lookup use the
            # commit's recorded batch_buckets: the old rows of the
            # changed keys live only in the buckets those keys hash
            # into, so the lookup scans O(touched buckets), not the
            # table — at scale the difference between a bounded probe
            # and a full-store scan per refresh. The merge runs in a
            # worker thread; the state-store replay check + old-state
            # read construction — independent of the fact store —
            # overlap it instead of queueing behind it.
            if self.fact_store is not None:
                with ThreadPoolExecutor(max_workers=1) as fact_pool:
                    fact_merge_future = fact_pool.submit(
                        self.fact_store.merge, fact_changes, batch_id
                    )
                    if batch_id in self.state_store.committed_batches():
                        # crash between state commit and target commit:
                        # diff against the PRE-batch state or the delta
                        # would be applied twice.
                        old_state = self.state_store.read(
                            self.state_store.version_before_batch(batch_id)
                        )
                    else:
                        old_state = self.state_store.read()
                    fact_merge_future.result()
                # Re-bind to the merge's materialized delta: the raw
                # changelog lineage (often a multi-join derivation)
                # executed exactly once, inside the merge write; the
                # retraction lookup, delta aggregate, and state merge
                # below then scan a micro-batch-sized parquet instead
                # of re-running it.
                mat = self.fact_store.batch_delta(batch_id)
                if mat is not None:
                    fact_changes = mat
                # Size the rest of the batch's shuffles to the measured
                # delta (dirty-group recompute volume is ∝ δ × group
                # width; DELTA_ROWS_PER_TASK keeps those tasks small).
                _tune_delta_shuffle(
                    self.spark,
                    self.shuffle_partitions,
                    self.fact_store.batch_change_rows(batch_id),
                )
                prev_v = self.fact_store.version_before_batch(batch_id)
                bks = self.fact_store.batch_buckets(batch_id)
                old_fact = (
                    self.fact_store.read_buckets(
                        bks, prev_v,
                        key_filter=self.fact_store.batch_key_values(batch_id),
                    )
                    if bks is not None
                    else self.fact_store.read(prev_v)
                )
                final = last_change_per_key(fact_changes, self.fact_pk)
                # δ-bounded key set: broadcast, or the bucket scan
                # shuffles
                old_rows = old_fact.join(
                    F.broadcast(final.select(*self.fact_pk)),
                    self.fact_pk,
                    "left_semi",
                )
                # Materialize the (δ-bounded) displaced-row set ONCE:
                # every downstream consumer — the retraction delta in
                # BOTH the state and target executions, and the dirty
                # group-key broadcasts — otherwise re-runs this bucket
                # chain read per job (measured 3-5 executions/batch).
                # Gated on the recorded delta size so a backfill-scale
                # batch never pins a table-scale frame in executor
                # memory. LAZY: the materialization rides inside the
                # first action that needs it (the overlapped state or
                # target merge) instead of blocking the driver here for
                # its own job — concurrent first-users may compute it
                # twice before the blocks land (same cost as no
                # checkpoint), every later use reads the blocks.
                # (new_state itself stays unmaterialized — an eager
                # checkpoint THERE cost ~40% of refresh latency, r8
                # measurement.)
                n_delta = self.fact_store.batch_change_rows(batch_id)
                if n_delta is not None and n_delta <= CODEGEN_DELTA_ROWS:
                    old_rows = old_rows.localCheckpoint(eager=False)
                new_base = self.fact_store.read
            else:
                # virtual fact: old rows and the recompute base come
                # from the caller (the join route derives them from its
                # own versioned stores)
                if old_rows is None or new_base is None:
                    raise ValueError(
                        "external_fact refresh needs old_rows and new_base"
                    )
                if batch_id in self.state_store.committed_batches():
                    old_state = self.state_store.read(
                        self.state_store.version_before_batch(batch_id)
                    )
                else:
                    old_state = self.state_store.read()
                final = last_change_per_key(fact_changes, self.fact_pk)

            delta = compute_delta(
                fact_changes,
                old_rows,
                self.fact_pk,
                final=final,
                # own-fact path built old_rows as exactly the changed-key
                # semi-join above, so the defensive re-prune is skipped;
                # external (join-route) frames keep it — their old-J
                # derivation has WHERE/match legs whose key set is not
                # locally provable to be ⊆ the changelog's keys
                old_rows_pruned=self.fact_store is not None,
            )

            # The delta's distinct group keys, from the CHEAPEST exact
            # lineage: the changed rows' old ∪ new group memberships.
            # Identical to the delta aggregate's key set (retracts are
            # the old rows, adds are the final non-delete rows), but
            # materializing this frame skips the delta aggregation —
            # it feeds the state prune AND the dim lookup below, each
            # of which would otherwise re-execute the heavy delta plan
            # just to broadcast its keys.
            dirty_gk = (
                old_rows.select(*self.group_keys)
                .unionByName(
                    final.filter(F.col(OP_COL) != OP_DELETE).select(*self.group_keys)
                )
                .distinct()
            )

            new_state = merge_delta_state(
                old_state,
                delta,
                new_base,  # lazy: only non-invertible measures pay it
                self.group_keys,
                self.measures,
                dirty_keys=dirty_gk,
            )

            # State store: vanished groups (__rows == 0) are deleted —
            # except under the global shape, whose single row stays
            # alive at the zero state (empty-input aggregate is one
            # row, not zero rows).
            vanish_op = (
                F.lit(OP_UPDATE)
                if self.global_group
                else F.when(F.col("__rows") <= 0, F.lit(OP_DELETE)).otherwise(
                    F.lit(OP_UPDATE)
                )
            )
            state_changes = new_state.withColumns(
                {OP_COL: vanish_op, SEQ_COL: F.monotonically_increasing_id()}
            )
            # Fact-only own-store batches overlap the state and target
            # merges (see the tail of this method): the target legs
            # below then derive from the UNMATERIALIZED new-state
            # lineage — executed a second time, concurrently, instead
            # of waiting for the state delta to land. Safe only for
            # order-insensitive measures (counts, integral/decimal
            # sums, min/max, exact median): float SUM/AVG/STDDEV can
            # diverge by ulps between the two executions because
            # reduce-side combine order follows shuffle-fetch arrival
            # — those shapes keep the serial form (``_concurrent_ok``).
            # Every other shape keeps the serial form, where the state
            # merge's delta write is the lineage's single execution
            # point and everything downstream re-binds to the merged
            # micro-batch parquet. (An eager localCheckpoint variant
            # of the overlap was measured and rejected in r8: the
            # checkpoint itself cost ~40% of refresh latency.) Crash
            # replay is exact in BOTH orders — each leg is idempotent
            # by batch_id and the top-of-method check requires every
            # involved store to have committed.
            concurrent = (
                dim_changes is None
                and self.fact_store is not None
                and os.environ.get("TIFLINK_SERIAL_STATE_TARGET") != "1"
                # float SUM/AVG/STDDEV measures may differ by ulps
                # between the two executions — those shapes keep the
                # serial form, whose state delta write is the single
                # execution point (see _concurrent_ok in __init__)
                and self._concurrent_ok
            )
            state_rebound = False
            if concurrent:
                # Submit the state merge BEFORE constructing the target
                # legs: the ~0.15s of driver-side target-plan
                # construction below then overlaps the state write job
                # instead of delaying it.
                state_pool = ThreadPoolExecutor(max_workers=1)
                state_future = state_pool.submit(
                    self.state_store.merge, state_changes, batch_id
                )
            else:
                self.state_store.merge(state_changes, batch_id)
                mat_state = self.state_store.batch_delta(batch_id)
                if mat_state is not None:
                    new_state = mat_state.drop(OP_COL, SEQ_COL)
                    state_rebound = True
                if self.fact_store is None:
                    # external_fact batches (the join route, incl. dim
                    # churn) never hit the fact-delta tune above — size
                    # the target legs to the MEASURED state delta
                    # instead, now that the state merge recorded it.
                    _tune_delta_shuffle(
                        self.spark,
                        self.shuffle_partitions,
                        self.state_store.batch_change_rows(batch_id),
                    )

            # Target rows for dirty groups.
            if self.dim is None:
                if self.global_group:
                    parts.append(
                        present_measures(
                            new_state, self.measures, keep=(self.group_key,)
                        ).withColumn(OP_COL, F.lit(OP_UPDATE))
                    )
                else:
                    live = new_state.filter(F.col("__rows") > 0)
                    gone = new_state.filter(F.col("__rows") <= 0)
                    upserts = present_measures(live, self.measures).withColumn(
                        OP_COL, F.lit(OP_UPDATE)
                    )
                    # -D rows only need the PK; measure values ride along typed.
                    deletes = present_measures(gone, self.measures).withColumn(
                        OP_COL, F.lit(OP_DELETE)
                    )
                    parts.append(upserts.unionByName(deletes))
            else:
                # Dirty-dim probe keys: after a serial state merge the
                # materialized state delta is the cheapest source; on
                # the concurrent path new_state is still the heavy
                # unmaterialized lineage, and dirty_gk (same exact key
                # set, O(δ) plan) avoids executing it a third time
                # just to fill this broadcast.
                probe = (
                    new_state.select(
                        F.col(self.group_key).alias(self.dim_key)
                    ).distinct()
                    if state_rebound
                    else dirty_gk.select(F.col(self.group_key).alias(self.dim_key))
                )
                dirty_dim = self.dim_store.read().join(
                    F.broadcast(probe), [self.dim_key], "left_semi"
                )
                live_state = new_state.filter(F.col("__rows") > 0)
                parts.append(
                    self._mv_rows_for_state(live_state, dirty_dim).withColumn(
                        OP_COL, F.lit(OP_UPDATE)
                    )
                )

        if dim_changes is not None:
            if self.dim_store is None:
                raise ValueError("dim_changes on an MV without a dimension")
            self.dim_store.merge(dim_changes, batch_id)
            mat_dim = self.dim_store.batch_delta(batch_id)
            if mat_dim is not None:
                dim_changes = mat_dim
            dim_now = self.dim_store.read()
            dirty_dk = last_change_per_key(dim_changes, [self.dim_key]).select(self.dim_key)
            # upserted/renamed dims: rebuild their rows from current
            # state (dirty keys δ-bounded → broadcast; the dim scan
            # stays map-side)
            live_dim = dim_now.join(F.broadcast(dirty_dk), [self.dim_key], "left_semi")
            parts.append(
                self._mv_rows_for_state(self.state_store.read(), live_dim).withColumn(
                    OP_COL, F.lit(OP_UPDATE)
                )
            )
            # deleted dims: drop their MV rows (typed via existing
            # target rows). Anti-join against the already-pruned
            # live_dim keys, not the full dim — broadcastable build
            # side (a broadcast anti against dim_now would ship the
            # whole dimension).
            deleted = dirty_dk.join(
                F.broadcast(live_dim.select(self.dim_key)), [self.dim_key], "left_anti"
            )
            gone_rows = self.target.read().join(
                F.broadcast(deleted), [self.dim_key], "left_semi"
            )
            parts.append(gone_rows.withColumn(OP_COL, F.lit(OP_DELETE)))

        if not parts:
            return False
        if self.target_filter is not None:
            from tiflink_spark.changelog import apply_filter

            parts = [apply_filter(p, self.target_filter) for p in parts]
        # Later parts supersede earlier ones for the same key (the dim part
        # carries fresher dim values than the fact part). The part index IS
        # the sequence: explicit, rather than relying on
        # monotonically_increasing_id growing across union legs.
        mv_changes = parts[0].withColumn(SEQ_COL, F.lit(0).cast("long"))
        for i, p in enumerate(parts[1:], start=1):
            mv_changes = mv_changes.unionByName(
                p.withColumn(SEQ_COL, F.lit(i).cast("long"))
            )
        if state_future is not None:
            # state ∥ target: two δ-sized write jobs over the same
            # deterministic lineage run side by side — per-batch wall
            # drops by ~the smaller merge (see the comment above the
            # serial branch). The state merge was submitted before the
            # target legs were constructed.
            try:
                self.target.merge(mv_changes, batch_id)
                state_future.result()
            finally:
                state_pool.shutdown(wait=True)
        else:
            self.target.merge(mv_changes, batch_id)
        return True

    def read(self, version: int | None = None) -> DataFrame:
        return self.target.read(version)
