"""MVApp — the engine's user entry point.

Mirrors the reference's only public API, `TiFlinkApp.Builder` →
`build()` → `start()` (TiFlinkApp.java:70-116, §3.1 of SURVEY.md):

    app = (MVApp.builder(spark)
           .source("orders", "/data/orders.parquet", pk=["o_orderkey"])
           .source("customer", "/data/customer.parquet", pk=["c_custkey"])
           .query("SELECT c_custkey, c_name, (SELECT count(*) FROM orders o "
                  "WHERE o.o_custkey = c.c_custkey) AS order_cnt FROM customer c")
           .target("/data/mv_author_counts")
           .build())
    app.bootstrap()                      # snapshot phase: batch run -> v0
    app.start_streaming(changelog_dirs)  # CDC phase: readStream -> MERGE
    app.read()                           # consistent MV state
    app.read(version=2)                  # stale snapshot (README.md:18-22)

Lifecycle parity with the reference:
1. catalog registration  (TiFlinkApp.java:263-268)
2. query resolution — Catalyst resolves the SQL, `df.schema` is the MV
   schema, PK defaults to the first output column (TiFlinkApp.java:276-281)
3. target DDL (generated; executed only if a JDBC hook is supplied —
   TiJDBCHelper.java:111-140 analog)
4. bootstrap: batch snapshot published as version 0
5. maintenance: per-micro-batch refresh, exactly-once by batch_id
"""

from __future__ import annotations

import os
import re
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflink_spark.catalog import Catalog, default_pk
from tiflink_spark.changelog import apply_filter
from tiflink_spark.mv import (
    IncrementalAggMV,
    IncrementalCorrScalarAggMV,
    IncrementalCorrSemiJoinMV,
    IncrementalFullOuterJoinMV,
    IncrementalGlobalTopKMV,
    IncrementalGroupingSetsMV,
    IncrementalJoinAggMV,
    IncrementalJoinMV,
    IncrementalJoinProjectionMV,
    IncrementalProjectionMV,
    IncrementalSemiJoinMV,
    IncrementalSetOpMV,
    IncrementalTemporalJoinMV,
    IncrementalThetaJoinMV,
    IncrementalTopKMV,
    IncrementalUnionMV,
    IncrementalWindowMV,
    RecomputeMV,
)
from tiflink_spark.incremental import Measure
from tiflink_spark.planner import (
    match_agg_shape,
    match_projection_shape,
    normalize_query,
    match_correlated_count_shape,
    match_distinct_shape,
    match_global_agg_shape,
    match_grouping_sets_shape,
    match_join_agg_shape,
    match_join_projection_shape,
    match_order_limit_shape,
    match_semijoin_shape,
    match_corr_semijoin_shape,
    match_corr_exists_shape,
    match_corr_scalar_shape,
    match_join_shape,
    match_setop_shape,
    match_full_outer_shape,
    match_theta_join_shape,
    match_topn_shape,
    match_union_all_shape,
    match_window_shape,
    rewrite_mn_join_agg,
    rewrite_theta_tree,
    spark_executable_query,
    split_group_order_limit,
    split_nested_query,
)
from tiflink_spark.store import KeyedParquetStore
from tiflink_spark.types import create_table_ddl

# cost_advisor default: a join-agg view whose FULL query executes within
# this many seconds refreshes cheaper by recompute than by the
# incremental path's multi-merge floor (calibration in
# MVAppBuilder.cost_advisor — every measured point through sf10 / ~11s
# full-query favored recompute for the star shape).
ADVISOR_FULL_QUERY_SECS = 15.0

# Maintenance strategies the advisor arbitrates: the agg-shaped routes
# whose per-batch floor (state+target merges, retraction lookups) can
# exceed a small table's full recompute. Pure-join/projection routes
# have no such floor and are never advised.
_ADVISED_STRATEGIES = (
    "IncrementalJoinAggMV",
    "IncrementalAggMV",
    "IncrementalGroupingSetsMV",
)


def _timed_full_execution(spark, df, threshold_secs: float):
    """Time ONE full materialization of ``df`` for the cost advisor,
    aborted at the threshold.

    Full materialization = a noop-sink write: ``count()`` lets Catalyst
    prune un-referenced aggregate/measure expressions and join outputs,
    under-measuring the true cost and biasing the advisor toward
    recompute. The probe runs in its own job group and is CANCELLED
    once ``threshold_secs`` elapses — past the threshold the decision
    is already "incremental", and at 100 TB an un-aborted probe is an
    unbounded full scan just to produce a number nobody needs.

    Returns (elapsed_secs, aborted)."""
    import threading as _threading
    import time as _time

    group = f"tiflink-advisor-{id(df):x}"
    done = _threading.Event()
    err: list = []

    def run():
        try:
            spark.sparkContext.setJobGroup(
                group, "cost-advisor full-query probe", interruptOnCancel=True
            )
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # expected CancellationException on abort
            err.append(e)
        finally:
            done.set()

    t0 = _time.perf_counter()
    th = _threading.Thread(target=run, daemon=True, name="tiflink-advisor")
    th.start()
    if not done.wait(threshold_secs):
        spark.sparkContext.cancelJobGroup(group)
        done.wait(30)
        return _time.perf_counter() - t0, True
    elapsed = _time.perf_counter() - t0
    if err:
        raise err[0]
    return elapsed, False


class MVAppBuilder:
    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._sources: dict[str, tuple[str | DataFrame, list[str] | None]] = {}
        self._query: str | None = None
        self._target: str | None = None
        self._pk: list[str] | None = None
        self._num_buckets: int | None = None
        self._shuffle_partitions: int | None = None
        self._ddl_hook = None
        self._validate_pks = False
        self._column_names: list[str] | None = None
        self._window_strategy = "sort"
        self._drop_old_table = False
        self._force_new_table = False
        self._force_recompute = False
        self._cost_advisor = False
        self._advisor_threshold: float | None = None
        self._late_dim = "raise"

    def source(
        self,
        name: str,
        path_or_df,
        pk: list[str] | None = None,
        event_time: str | None = None,
    ) -> "MVAppBuilder":
        """Register a source. ``event_time`` names the column at which
        a change to this table takes effect — required on a dim joined
        with ``FOR SYSTEM_TIME AS OF`` (the versioned-table time
        attribute, Flink's temporal-join contract)."""
        self._sources[name] = (path_or_df, pk, event_time)
        return self

    def query(self, sql: str) -> "MVAppBuilder":
        self._query = sql
        return self

    def target(self, path: str, pk: list[str] | None = None) -> "MVAppBuilder":
        self._target = path
        self._pk = pk
        return self

    def num_buckets(self, n: int) -> "MVAppBuilder":
        self._num_buckets = n
        return self

    def shuffle_partitions(self, n: int) -> "MVAppBuilder":
        """Maintenance-job parallelism: sized to per-batch delta volume
        (the reference's explicit parallelism knob, TiFlinkApp.java:243-246)."""
        self._shuffle_partitions = n
        return self

    def ddl_hook(self, fn) -> "MVAppBuilder":
        """Optional callable receiving the generated target DDL at
        bootstrap — the reference executes its generated CREATE TABLE
        against the target database the same way
        (TiJDBCHelper.java:111-140). Pair with
        ``connectors.jdbc_execute`` to run it over JDBC:

            .ddl_hook(lambda ddl: jdbc_execute(spark, url, ddl))
        """
        self._ddl_hook = fn
        return self

    def window_strategy(self, strategy: str) -> "MVAppBuilder":
        """OVER-window maintenance strategy: "sort" (default; Spark's
        repartition+sort per partition) or "domain" — the skew-proof
        two-pass plan for PEER-UNIFORM window functions (rank/
        dense_rank/percent_rank/cume_dist, running SUM/COUNT/AVG/MIN/
        MAX): groupBy(partition, order-value) pre-aggregate + window
        over the distinct-order-value domain + join back, so a hot
        partition key cannot pin one task. Raises at build when the
        query's window items are per-row (row_number/lag/lead) — those
        genuinely need the sort."""
        self._window_strategy = strategy
        return self

    def column_names(self, names: list[str]) -> "MVAppBuilder":
        """Override the MV's OUTPUT column names — the reference
        builder's ``setColumnNames`` (README.md:56,
        TiFlinkApp.java:88-99). Maintenance runs on the query's own
        names throughout (every store, every matcher); the rename is
        the user-facing layer: the generated DDL advertises the new
        names and ``read()`` returns them. A declared ``target(pk=...)``
        keeps referring to the QUERY's column names; the DDL maps it
        through the rename positionally."""
        self._column_names = list(names)
        return self

    def force_recompute(self, enabled: bool = True) -> "MVAppBuilder":
        """Pin the view to the RecomputeMV fallback, skipping every
        incremental probe. Two uses: A/B-measuring incremental
        maintenance against its recompute baseline on the SAME query
        (bench.py's mv_refresh block), and views whose churn profile
        (full-table rewrites per batch) makes recompute the cheaper
        plan."""
        self._force_recompute = enabled
        return self

    def late_dim(self, mode: str = "reorder") -> "MVAppBuilder":
        """Temporal-join late-dim policy. The default contract is
        "raise": a dim change whose event time precedes the key's open
        version fails loudly (Flink's event-time temporal join requires
        watermark-ordered versions). "reorder" instead SPLICES the late
        version retroactively — the dirty keys' version chains are
        rebuilt in event-time order, re-splitting affected validity
        intervals, and the standard post-dim-batch fact re-derivation
        moves earlier events onto the corrected versions (the history
        store's version rows support splits natively). Costs
        O(versions of dirty keys) per dim batch instead of O(δ)."""
        if mode not in ("raise", "reorder"):
            raise ValueError(f"late_dim must be 'raise' or 'reorder', got {mode!r}")
        self._late_dim = mode
        return self

    def cost_advisor(
        self, enabled: bool = True, full_query_secs: float | None = None
    ) -> "MVAppBuilder":
        """Measured strategy advisor for AGGREGATE-shaped views: when
        the planner routes to an agg strategy (_ADVISED_STRATEGIES:
        join-agg, plain agg incl. median-class measures, grouping
        sets), time ONE full materialization of the query at build
        (noop sink — count() lets Catalyst prune the measures); if it
        completes within ``full_query_secs`` (default
        ADVISOR_FULL_QUERY_SECS), re-route the view to RecomputeMV —
        per-batch recompute is then predictably cheaper than the
        incremental path's multi-merge floor. The probe is CANCELLED
        at the threshold (job-group cancel): past it the decision is
        already "incremental", and at 100 TB an un-aborted probe is an
        unbounded full scan.

        Calibration (measured, 32-core local, BENCH r8/r9): the star
        join-agg's per-batch recompute is ~0.7x its full-query time,
        while the incremental path's floor is a fixed 2-4s of store
        merges plus a retraction scan that uniform churn degrades to
        O(table) — recompute won at every point measured through sf10
        (full query ~11s; speedups 0.67-0.87). The default threshold
        (15s) therefore routes everything up to ~sf10-scale to
        recompute and trusts O(δ) beyond, where a full join is
        minutes, not seconds. The decision (and the measured time) is
        recorded in describe()['advisor'] — the planner's charter
        applied to cost: a miss is never wrong, only slower.

        Opt-in: the probe costs one full query execution at build, and
        pinned-strategy tests/gates expect the un-advised route."""
        self._cost_advisor = enabled
        self._advisor_threshold = full_query_secs
        return self

    def drop_old_table(self, enabled: bool = True) -> "MVAppBuilder":
        """Wipe any existing target state before the first publish —
        the reference builder's ``setDropOldTable``
        (TiFlinkApp.java:215-218; ``jdbcHelper.dropTable`` in
        ``ensureTargetTable``, TiFlinkApp.java:104-115). At
        :meth:`MVApp.bootstrap` the entire target working directory
        (MV target, fact/state stores, cascade levels) is removed, so
        the bootstrap republishes from the CURRENT sources instead of
        attaching to the previous run's state."""
        self._drop_old_table = enabled
        return self

    def force_new_table(self, enabled: bool = True) -> "MVAppBuilder":
        """Refuse to bootstrap over an existing target — the reference
        builder's ``setForceNewTable`` (TiFlinkApp.java:220-223):
        CREATE TABLE without IF NOT EXISTS, i.e. an already-present
        table is an error unless ``drop_old_table`` removed it first.
        This repo's DEFAULT is the reference's ``false`` spelling
        (CREATE TABLE IF NOT EXISTS): bootstrap over a committed
        target ATTACHES idempotently — the batch-id replay guard the
        crash-recovery contract relies on."""
        self._force_new_table = enabled
        return self

    def validate_pks(self, enabled: bool = True) -> "MVAppBuilder":
        """Assert at bootstrap that every source really is unique on its
        declared PK (one COUNT vs COUNT-DISTINCT aggregate per source —
        a full pass, so opt-in; run it once when onboarding a dataset).
        A falsely-declared PK silently corrupts maintenance: the keyed
        stores MERGE by PK, so duplicate keys collapse into one row and
        every downstream delta is wrong. The reference never faces this
        — it reflects true PKs from the database's own constraints
        (TiJDBCHelper.java:85-109); declared PKs deserve the check the
        database would have enforced."""
        self._validate_pks = enabled
        return self

    def build(self) -> "MVApp":
        if not self._sources or self._query is None or self._target is None:
            raise ValueError("MVApp needs at least one source, a query, and a target")
        return MVApp(
            self._spark,
            self._sources,
            self._query,
            self._target,
            self._pk,
            self._num_buckets,
            self._shuffle_partitions,
            ddl_hook=self._ddl_hook,
            validate_pks=self._validate_pks,
            column_names=self._column_names,
            window_strategy=self._window_strategy,
            drop_old_table=self._drop_old_table,
            force_new_table=self._force_new_table,
            force_recompute=self._force_recompute,
            cost_advisor=self._cost_advisor,
            advisor_threshold=self._advisor_threshold,
            late_dim=self._late_dim,
        )


class _SharedMirrorStore:
    """The outer cascade level's mirror of the derived table, aliased
    to the INNER level's target store instead of a second physical
    copy. The inner refresh commits every batch into its target before
    the outer level runs, so the outer's own bootstrap and per-batch
    merge of the alias were pure write amplification: one bootstrap
    write that additionally RE-RAN the whole inner query (the
    placeholder frame), plus one delta write per batch per cascade
    level (measured 0.2–1.3s each at sf0.1 — guide §1.2, remove whole
    jobs). Reads delegate to the shared store with a projection to the
    columns the outer was planned against (the inner target may hold
    engine-internal hidden columns the outer must not see); writes are
    explicit no-ops — the inner level is the single writer. Every
    route already treats ``batch_id in committed_batches()`` as the
    crash-replay signal and reads its pre-batch state via
    ``version_before_batch`` — exactly the semantics a shared,
    already-committed store needs, so the routes run their (tested)
    replay discipline on every batch."""

    def __init__(self, store, cols: list):
        self._store = store
        self._cols = list(cols)

    def __getattr__(self, name):
        return getattr(self._store, name)

    def _project(self, df):
        from tiflink_spark.changelog import OP_COL, SEQ_COL

        by_lower = {c.lower(): c for c in df.columns}
        missing = [c for c in self._cols if c.lower() not in by_lower]
        if missing:
            raise ValueError(
                f"shared cascade target {self._store.path} lacks planned "
                f"column(s) {missing}"
            )
        want = [by_lower[c.lower()] for c in self._cols]
        have = {w.lower() for w in want}
        tail = [
            c
            for c in df.columns
            if c in (OP_COL, SEQ_COL) and c.lower() not in have
        ]
        if len(want) + len(tail) == len(df.columns):
            return df
        return df.select(*want, *tail)

    def read(self, version=None):
        return self._project(self._store.read(version))

    def read_keys(self, col, vals, version=None):
        return self._project(self._store.read_keys(col, vals, version))

    def read_buckets(self, bucket_ids, version=None, key_filter=None):
        return self._project(
            self._store.read_buckets(
                bucket_ids, version=version, key_filter=key_filter
            )
        )

    def batch_delta(self, batch_id):
        d = self._store.batch_delta(batch_id)
        return None if d is None else self._project(d)

    def bootstrap(self, df, batch_id=0) -> bool:
        return False  # the inner level bootstrapped the shared target

    def merge(self, changes, batch_id) -> bool:
        return False  # the inner level's refresh committed this batch


class CascadeMV:
    """Two-level maintenance for ``SELECT … FROM ( <inner> ) …``: the
    inner query is maintained as its own MV, and the outer query
    consumes the inner target's version diff as a changelog
    (store.changes_between — the store as a CDC source). This is the
    single-SQL form of MV cascading (the reference chains MVs the same
    way: every MV table is itself a TiKV table another TiFlinkApp can
    consume, README.md:8-16; Flink's update-mode planner nests
    update-producing operators directly).

    Both levels must have routed incrementally (the planner bails to
    plain recompute otherwise), so per-batch work is the inner route's
    cost plus the outer route's cost over the DELTA the inner emitted —
    never a full recompute at either level.
    """

    def __init__(self, inner: "MVApp", outer: "MVApp", alias: str):
        self.inner, self.outer, self.alias = inner, outer, alias
        # A grouping-sets outer has no single target store (one keyed
        # store per grouping set) — describe()/introspection tolerate
        # None; reads and versioning go through outer.read().
        self.target = getattr(outer._mv, "target", None)

    def bootstrap(self, batch_id=0) -> None:
        self.inner.bootstrap(batch_id)
        self.outer.bootstrap(batch_id)

    def refresh(self, changes, batch_id) -> bool:
        from tiflink_spark.changelog import OP_COL, SEQ_COL
        from tiflink_spark.store import changes_between

        # Split the batch between the levels: tables the inner route
        # maintains flow into it (their effect reaches the outer as the
        # inner target's version diff); base tables the OUTER references
        # directly (round 7 — e.g. the theta side of a theta-over-equi
        # tree) flow straight to the outer alongside that diff. A table
        # maintained at both levels goes to both — each keeps its own
        # store, both see the same changelog. MVApp.refresh already
        # refused tables neither level maintains.
        inner_tabs = self.inner.maintained_tables()
        outer_tabs = self.outer.maintained_tables() - {self.alias}
        inner_changes = {k: v for k, v in changes.items() if k in inner_tabs}
        outer_changes = {k: v for k, v in changes.items() if k in outer_tabs}
        # A single-target inner cascades through its target store; a
        # multi-store inner (grouping sets) exposes a store-shaped
        # composite façade as `cascade_target`.
        tgt = getattr(self.inner._mv, "cascade_target", None)
        if tgt is None:
            tgt = self.inner._mv.target
        pre = getattr(tgt, "pre_batch_version", None)
        if pre is not None:
            # Composite target: the batch may have committed in SOME
            # per-set stores before a crash. pre_batch_version returns
            # the crash-aware baseline (pre-batch version for committed
            # subs, current for the rest); the inner refresh must still
            # run unless EVERY sub committed, or the uncommitted subs
            # would never see the batch.
            v_from, fully_committed = pre(batch_id)
            if not fully_committed and inner_changes:
                self.inner.refresh(inner_changes, batch_id)
        elif batch_id in tgt.committed_batches():
            # crash replay: the inner committed but (possibly) the outer
            # did not — recover this batch's delta from the version log
            v_from = tgt.version_before_batch(batch_id)
        else:
            v_from = tgt.current_version()
            if inner_changes:
                self.inner.refresh(inner_changes, batch_id)
        v_to = tgt.current_version()
        if v_to != v_from:
            # Project through the inner query's schema PLUS the target's
            # own key columns (a bag inner's hidden branch tag completes
            # the true key the outer stores by); other engine-internal
            # columns (hidden DISTINCT counts etc.) the outer must not see.
            cols = list(
                dict.fromkeys(
                    [f.name for f in self.inner.mv_schema.fields] + list(tgt.pk)
                )
            )
            cb = getattr(tgt, "changes_between", None)
            delta = (
                cb(v_from, v_to)
                if cb is not None
                else changes_between(tgt, v_from, v_to)
            ).select(*cols, OP_COL, SEQ_COL)
            outer_changes = {self.alias: delta, **outer_changes}
        if not outer_changes:
            return False
        return self.outer.refresh(outer_changes, batch_id)

    def read(self, version: int | None = None):
        return self.outer.read(version)


class _Routed(NamedTuple):
    """What a route's build step hands MVApp's install step: the
    maintenance object, the MV key it enforces, whether that key is a
    true unique constraint (union-all, bag set ops, full outer and
    grouping sets overclaim it — no cascade may build on such a key),
    the source tables whose changelogs it consumes, their source
    stores, and how a changes dict reaches ``mv.refresh``."""

    mv: object
    mv_pk: list
    tables: frozenset
    stores: dict
    feed: Callable
    pk_is_unique: bool = True


def _dict_feed(mv, changes, batch_id):
    """Multi-table routes take the whole {table: changes} dict."""
    return mv.refresh(changes, batch_id)


def _pair_feed(left, right):
    """Two-sided routes take ``refresh(left_changes, right_changes)``."""

    def feed(mv, changes, batch_id):
        ld, rd = changes.get(left), changes.get(right)
        if ld is None and rd is None:
            return False
        return mv.refresh(ld, rd, batch_id)

    return feed


def _fact_feed(fact, dim=None, derive=(), where=None):
    """Fact (+dim) routes: computed keys are derived onto every fact
    batch and a row-local WHERE follows the stateless changelog filter
    rule (rows leaving the predicate become -D) — exactly how
    _fact_frame prepared the bootstrap frame."""

    def feed(mv, changes, batch_id):
        fd, dd = changes.get(fact), changes.get(dim)
        if fd is None and dd is None:
            return False
        if fd is not None:
            for alias, expr in derive:
                fd = fd.withColumn(alias, F.expr(expr))
            if where is not None:
                fd = apply_filter(fd, where)
        if dd is None:
            return mv.refresh(fd, batch_id)
        return mv.refresh(fd, batch_id, dim_changes=dd)

    return feed


class _Ctx(NamedTuple):
    """What a route's match and build steps read."""

    spark: SparkSession
    dfs: dict  # source name -> (TableSpec, DataFrame)
    query: str  # normalized
    pk: list | None  # declared target PK
    default_pk: list  # the first-output-column fallback
    cols: dict  # source name -> column names
    kw: dict  # work_dir / num_buckets / shuffle_partitions
    window_strategy: str

    @property
    def names(self) -> set:
        return set(self.dfs)

    @property
    def pks(self) -> dict:
        return {n: d[0].pk for n, d in self.dfs.items()}

    def df(self, name):
        return self.dfs[name][1]

    def pk_of(self, name):
        return self.dfs[name][0].pk

    def pk_ok(self, want) -> bool:
        """An undeclared target PK, or one equal to the route's key."""
        return self.pk is None or list(self.pk) == list(want)


def _verdict(shape, ok: bool) -> str:
    return "routed" if ok else "no_shape" if shape is None else "gate"


def _selects(out_cols, keys) -> bool:
    sel = {c.lower() for c in out_cols}
    return all(k.lower() in sel for k in keys)


def _covers_pk(c: _Ctx, fact, order_cols) -> bool:
    """Determinism rule of the ranking routes: the ORDER BY column set
    must cover the fact PK (a provably total order; ORDER BY the PK
    itself counts) — without it, rank slots on ties are ambiguous."""
    pk = c.pk_of(fact)
    return bool(pk) and {p.lower() for p in pk} <= {o.lower() for o in order_cols}


def _fact_frame(c: _Ctx, fact, where=None, derive=()):
    df = c.df(fact)
    for alias, expr in derive:
        df = df.withColumn(alias, F.expr(expr))
    return df if where is None else df.filter(F.expr(where))


def _fact_routed(mv, fact, mv_pk, where=None, derive=(), dim=None, unique=True):
    stores = {fact: mv.fact_store, **({dim: mv.dim_store} if dim else {})}
    feed = _fact_feed(fact, dim, tuple(derive), where)
    return _Routed(mv, list(mv_pk), frozenset(stores), stores, feed, unique)


def _pair_routed(mv, left, right, mv_pk, lstore, rstore, unique=True):
    stores = {left: lstore, right: rstore}
    return _Routed(mv, list(mv_pk), frozenset(stores), stores, _pair_feed(left, right), unique)


def _star_routed(mv, fact, dims, mv_pk):
    stores = {fact: mv.fact_store, **{d.dim: mv.dim_stores[d.dim] for d in dims}}
    return _Routed(mv, list(mv_pk), frozenset(stores), stores, _dict_feed)


# The route table. Each entry is (name, match, accept, build): ``match``
# calls one planner matcher, ``accept`` is the route's gate (declared-PK
# agreement, fact PK present, PK columns selected), ``build`` constructs
# the maintenance class and returns its _Routed record. MVApp._plan
# walks the entries in registration order and stops at the first
# accepted one, so ORDER IS PRECEDENCE: every richer shape is tried
# before the shapes whose syntax it would also satisfy.
_ROUTES: list[tuple] = []


def _route(name, match, accept):
    def register(build):
        _ROUTES.append((name, match, accept, build))
        return build

    return register


# The canonical single-table aggregate: per-batch work ∝ changed keys.
# The group-key set is the derived unique constraint (the reference's
# first PK-inference rule, TiFlinkApp.java:276-281). Computed group keys
# (GROUP BY date_trunc(...) AS day) derive onto the fact rows, after
# which they behave exactly like stored columns.
@_route(
    "agg",
    lambda c: match_agg_shape(c.query, c.names, c.cols),
    lambda c, s: c.pk_of(s.fact) and c.pk_ok(s.group_keys),
)
def _agg(c, s):
    mv = IncrementalAggMV(
        c.spark, _fact_frame(c, s.fact, s.where, s.key_exprs), c.pk_of(s.fact),
        list(s.group_keys), list(s.measures), target_filter=s.having, **c.kw,
    )
    return _fact_routed(mv, s.fact, s.group_keys, s.where, s.key_exprs)


# GROUPING SETS / ROLLUP / CUBE — one aggregate state per grouping set
# over a SHARED fact store (SURVEY §2.2 "expand to union of aggs"; the
# reference gets these from Flink's Expand node, TiFlinkApp.java:270).
# The view is a bag union (subtotal rows carry NULL keys), so no PK
# declaration is accepted and the key is not unique.
@_route(
    "grouping_sets",
    lambda c: match_grouping_sets_shape(c.query, c.names, c.cols),
    lambda c, s: c.pk_of(s.fact) and c.pk is None,
)
def _grouping_sets(c, s):
    mv = IncrementalGroupingSetsMV(
        c.spark, _fact_frame(c, s.fact, s.where, s.key_exprs), c.pk_of(s.fact),
        list(s.all_keys), list(s.sets), list(s.measures),
        grouping_items=list(s.grouping_items), gid_items=list(s.gid_items),
        tail_order=list(s.tail_order), target_filter=s.having,
        hidden_measures=list(s.hidden), having_gcalls=list(s.having_gcalls),
        **c.kw,
    )
    return _fact_routed(mv, s.fact, c.default_pk, s.where, s.key_exprs, unique=False)


# Global (no GROUP BY) aggregate — the dashboard total, keyed by a
# derived constant; the one row survives table emptiness at its zero
# state. The advertised PK stays the first-output-column fallback; the
# hidden "__g" key never reaches the query schema.
@_route(
    "global_agg",
    lambda c: match_global_agg_shape(c.query, c.names, c.cols),
    lambda c, s: c.pk_of(s.fact) and c.pk is None,
)
def _global_agg(c, s):
    derive = [("__g", "0")]
    mv = IncrementalAggMV(
        c.spark, _fact_frame(c, s.fact, s.where, derive), c.pk_of(s.fact),
        ["__g"], list(s.measures), global_group=True, **c.kw,
    )
    return _fact_routed(mv, s.fact, c.default_pk, s.where, derive)


# SELECT DISTINCT — a hidden COUNT(*)-per-key aggregate: a key's first
# arrival inserts the MV row, its last departure deletes it.
@_route(
    "distinct",
    lambda c: match_distinct_shape(c.query, c.names, c.cols),
    lambda c, s: c.pk_of(s.fact) and c.pk_ok(s.cols),
)
def _distinct(c, s):
    mv = IncrementalAggMV(
        c.spark, _fact_frame(c, s.fact, s.where), c.pk_of(s.fact),
        list(s.cols), [Measure("count", None, "__cnt")], **c.kw,
    )
    return _fact_routed(mv, s.fact, s.cols, s.where)


# Star/snowflake join aggregate (fact ⋈ dims GROUP BY): dirty-join-key
# re-derivation of the joined relation feeds the aggregate state merge;
# changelogs on ALL sides maintain the view.
@_route(
    "join_agg",
    lambda c: match_join_agg_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk_of(s.fact) and c.pk_ok(s.group_keys),
)
def _join_agg(c, s):
    mv = IncrementalJoinAggMV(
        c.spark, fact_name=s.fact, fact=c.df(s.fact), fact_pk=c.pk_of(s.fact),
        dims=list(s.dims), dim_dfs={d.dim: c.df(d.dim) for d in s.dims},
        group_keys=list(s.group_keys), measures=list(s.measures),
        fact_cols=list(s.fact_cols), where=s.where, target_filter=s.having,
        key_exprs=list(s.key_exprs), **c.kw,
    )
    return _star_routed(mv, s.fact, s.dims, s.group_keys)


# The reference's flagship: correlated scalar COUNT over a dimension
# (TiFlinkExample.java:10-16), decorrelated to the dim-joined
# IncrementalAggMV. A NULL fact FK matches no dim row and would crash
# the fk-keyed state store, so such rows are dropped at bootstrap AND
# per batch (the changelog filter demotes an update to a NULL fk to -D).
@_route(
    "correlated_count",
    lambda c: match_correlated_count_shape(c.query, c.names, c.pks, c.cols),
    lambda c, s: c.pk_of(s.fact) and c.pk_ok([s.dim_key]),
)
def _correlated_count(c, s):
    where = f"{s.fact_key} IS NOT NULL"
    mv = IncrementalAggMV(
        c.spark, _fact_frame(c, s.fact, where), c.pk_of(s.fact), s.fact_key,
        [Measure(s.agg_kind, s.agg_col, s.alias)], dim=c.df(s.dim),
        dim_key=s.dim_key, dim_cols=list(s.dim_cols), **c.kw,
    )
    return _fact_routed(mv, s.fact, [s.dim_key], where, dim=s.dim)


# Theta-correlated SCALAR aggregate: per-row sets cannot decorrelate to
# a keyed GROUP BY, so the aggregate is evaluated exactly per dirty dim
# row; fact churn re-evaluates only dim rows in theta range.
@_route(
    "corr_scalar",
    lambda c: match_corr_scalar_shape(c.query, c.names, c.pks, c.cols),
    lambda c, s: c.pk_of(s.fact) and c.pk_ok([s.dim_pk]),
)
def _corr_scalar(c, s):
    mv = IncrementalCorrScalarAggMV(
        c.spark, dim=c.df(s.dim), dim_pk=c.pk_of(s.dim), fact=c.df(s.fact),
        fact_pk=c.pk_of(s.fact), akind=s.akind, acol=s.acol, alias=s.alias,
        corr=list(s.corr), out_cols=list(s.out_cols),
        inner_where=s.inner_where, **c.kw,
    )
    return _pair_routed(mv, s.fact, s.dim, [s.dim_pk], mv.fact_store, mv.dim_store)


def _semi_gate(c, s) -> bool:
    """The existence-filter routes are keyed by the fact PK: both sides
    need a PK, and the fact PK must be selected."""
    fpk = c.pk_of(s.fact)
    return bool(fpk and c.pk_of(s.other) and _selects(s.out_cols, fpk) and c.pk_ok(fpk))


def _semi_kw(c, s) -> dict:
    return dict(
        fact=c.df(s.fact), fact_pk=c.pk_of(s.fact), other=c.df(s.other),
        other_pk=c.pk_of(s.other), out_cols=list(s.out_cols), anti=s.anti,
        where=s.where, **c.kw,
    )


def _semi_routed(c, s, mv):
    return _pair_routed(mv, s.fact, s.other, c.pk_of(s.fact), mv.fact_store, mv.other_store)


# EXISTS / NOT EXISTS / IN subquery — the streaming semi/anti join with
# presence state per key. NOT IN (null_aware) works on any inner column:
# the MV maintains the inner's null-presence bit explicitly.
@_route("semijoin", lambda c: match_semijoin_shape(c.query, c.names, c.cols), _semi_gate)
def _semijoin(c, s):
    mv = IncrementalSemiJoinMV(
        c.spark, fact_key=list(s.fact_keys), other_key=list(s.other_keys),
        null_aware=s.null_aware, **_semi_kw(c, s),
    )
    return _semi_routed(c, s, mv)


# Filtered / CORRELATED IN-subquery: row-local inner conjuncts keep the
# presence-state class with the filter applied to the inner store;
# correlated comparison terms switch to exact per-outer-row membership.
@_route(
    "corr_semijoin",
    lambda c: match_corr_semijoin_shape(c.query, c.names, c.cols),
    _semi_gate,
)
def _corr_semijoin(c, s):
    keys = dict(fact_key=s.fact_key, other_key=s.other_key, **_semi_kw(c, s))
    if s.corr:
        mv = IncrementalCorrSemiJoinMV(
            c.spark, corr=list(s.corr), inner_where=s.inner_where, **keys
        )
    else:
        mv = IncrementalSemiJoinMV(
            c.spark, null_aware=s.anti, other_where=s.inner_where, **keys
        )
    return _semi_routed(c, s, mv)


# Theta-EXISTS: correlation mixing equalities with non-equality terms
# (or none). Membership is per-row non-emptiness, evaluated exactly per
# dirty row; equality conjuncts ride as '=' theta terms.
@_route(
    "corr_exists",
    lambda c: match_corr_exists_shape(c.query, c.names, c.cols),
    _semi_gate,
)
def _corr_exists(c, s):
    mv = IncrementalCorrSemiJoinMV(
        c.spark, fact_key=None, other_key=None, corr=list(s.corr),
        inner_where=s.inner_where, exists_mode=True, **_semi_kw(c, s),
    )
    return _semi_routed(c, s, mv)


def _join_pk(c, s) -> list:
    return [*c.pk_of(s.left), *c.pk_of(s.right)]


# Bare two-sided equi-join: dirty-join-key recompute with changelogs on
# both sides. Keyed by the concatenated source PKs, all selected.
@_route(
    "join",
    lambda c: match_join_shape(c.query, c.names, c.cols),
    lambda c, s: c.pk_of(s.left) and c.pk_of(s.right)
    and _selects(s.out_cols, _join_pk(c, s)) and c.pk_ok(_join_pk(c, s)),
)
def _join(c, s):
    mv = IncrementalJoinMV(
        c.spark, left=c.df(s.left), left_pk=c.pk_of(s.left), right=c.df(s.right),
        right_pk=c.pk_of(s.right),
        join_key=s.join_key if s.right_key is None else (s.join_key, s.right_key),
        out_cols=list(s.out_cols), where=s.where, **c.kw,
    )
    return _pair_routed(mv, s.left, s.right, _join_pk(c, s), mv.left_store, mv.right_store)


# Two-sided NON-EQUI join (interval bands, BETWEEN, arbitrary theta):
# dirty-PK recompute over both post-merge states. After the equi routes.
@_route(
    "theta_join",
    lambda c: match_theta_join_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk_ok(_join_pk(c, s)),
)
def _theta_join(c, s):
    mv = IncrementalThetaJoinMV(
        c.spark, left=c.df(s.left), left_pk=c.pk_of(s.left), right=c.df(s.right),
        right_pk=c.pk_of(s.right), predicate=s.predicate,
        out_cols=list(s.out_cols), **c.kw,
    )
    return _pair_routed(mv, s.left, s.right, _join_pk(c, s), mv.left_store, mv.right_store)


# FULL OUTER equi-join — dirty-key recompute + diff over a synthetic row
# identity (dim-only rows carry NULL fact PKs), so the visible output
# has no unique column.
@_route(
    "full_outer",
    lambda c: match_full_outer_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk is None,
)
def _full_outer(c, s):
    mv = IncrementalFullOuterJoinMV(
        c.spark, fact=c.df(s.fact), fact_pk=c.pk_of(s.fact), dim=c.df(s.dim),
        dim_keys=list(s.dim_keys), fact_fks=list(s.fact_fks),
        out_cols=list(s.out_cols), where=s.where, **c.kw,
    )
    return _pair_routed(
        mv, s.fact, s.dim, c.pk_of(s.fact), mv.fact_store, mv.dim_store, unique=False
    )


# Lookup enrichment — the joined relation itself keyed by the fact PK:
# fact [LEFT] JOIN dims, each dim entering through its declared PK.
# After the bare join (which also handles M:N edges); adds LEFT dims,
# snowflake chains, composite keys and derived row-local expressions.
@_route(
    "join_projection",
    lambda c: match_join_projection_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk_of(s.fact) and c.pk_ok(c.pk_of(s.fact)),
)
def _join_projection(c, s):
    mv = IncrementalJoinProjectionMV(
        c.spark, fact_name=s.fact, fact=c.df(s.fact), fact_pk=c.pk_of(s.fact),
        dims=list(s.dims), dim_dfs={d.dim: c.df(d.dim) for d in s.dims},
        group_keys=[], measures=[], fact_cols=list(s.fact_cols), where=s.where,
        key_exprs=list(s.key_exprs), out_cols=list(s.out_cols), **c.kw,
    )
    return _star_routed(mv, s.fact, s.dims, c.pk_of(s.fact))


# Bare multi-branch UNION ALL — stateless under changelogs: each
# branch's changes project into the target keyed by (branch tag, PK).
# The advertised key (the shared key column) is unique per branch only.
@_route(
    "union_all",
    lambda c: match_union_all_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk is None,
)
def _union_all(c, s):
    tables = [t for t, _ in s.branches]
    mv = IncrementalUnionMV(
        c.spark,
        branches={t: (c.df(t), c.pk_of(t)[0], list(cols)) for t, cols in s.branches},
        out_cols=list(s.out_cols), key_pos=s.key_pos,
        wheres=dict(zip(tables, s.wheres or ())), **c.kw,
    )
    return _Routed(mv, [s.out_cols[s.key_pos]], frozenset(tables), {}, _dict_feed, False)


def _bag_setop(s) -> bool:
    return s.op in ("intersect_all", "except_all")


# Two-branch INTERSECT/EXCEPT: dual hidden count-per-tuple state,
# membership re-evaluated only for the tuples a batch touches. The bag
# (ALL) forms hold duplicate rows, so their key is not unique.
@_route(
    "setop",
    lambda c: match_setop_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk is None if _bag_setop(s) else c.pk_ok(s.out_cols),
)
def _setop(c, s):
    mv = IncrementalSetOpMV(
        c.spark, op=s.op, left=c.df(s.left), left_pk=c.pk_of(s.left),
        right=c.df(s.right), right_pk=c.pk_of(s.right),
        left_cols=list(s.left_cols), right_cols=list(s.right_cols),
        out_cols=list(s.out_cols), side_names=(s.left, s.right),
        wheres=(s.left_where, s.right_where), **c.kw,
    )
    bag = _bag_setop(s)
    stores = {s.left: mv._sides["a"].fact_store, s.right: mv._sides["b"].fact_store}
    return _Routed(
        mv, c.default_pk if bag else list(s.out_cols), frozenset(stores), stores,
        _dict_feed, not bag,
    )


# Per-group Top-N (the ROW_NUMBER <= k pattern Flink special-cases):
# dirty-group re-ranking over the FULL user order spec (+ a no-op
# trailing PK), so mid-spec tie columns are honored.
@_route(
    "topn",
    lambda c: match_topn_shape(c.query, c.names, c.cols),
    lambda c, s: _covers_pk(c, s.fact, [s.order_col, *s.tie])
    and c.pk_ok([s.group_key, s.rank_alias]),
)
def _topn(c, s):
    mv = IncrementalTopKMV(
        c.spark, fact=_fact_frame(c, s.fact, s.where), fact_pk=c.pk_of(s.fact),
        group_key=s.group_key,
        order_spec=[(s.order_col, s.descending)] + [(t, False) for t in s.tie],
        out_cols=[o for o in s.out_cols if o.lower() != s.rank_alias.lower()],
        k=s.k, rank_col=s.rank_alias, **c.kw,
    )
    return _fact_routed(mv, s.fact, [s.group_key, s.rank_alias], s.where)


# Partitioned OVER-window view (running sums, per-group ranks, lag/lead)
# — dirty-partition recompute, keyed by the fact PK.
@_route(
    "window",
    lambda c: match_window_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk_ok(c.pk_of(s.fact)),
)
def _window(c, s):
    mv = IncrementalWindowMV(
        c.spark, fact=_fact_frame(c, s.fact, s.where), fact_pk=c.pk_of(s.fact),
        group_key=list(s.group_keys),
        select_items=list(s.plain_cols) + [f"{e} AS {a}" for a, e in s.win_items],
        strategy=c.window_strategy, **c.kw,
    )
    return _fact_routed(mv, s.fact, c.pk_of(s.fact), s.where)


# Global ORDER BY + LIMIT (top-k without PARTITION BY), keyed by the
# selected fact PK.
@_route(
    "order_limit",
    lambda c: match_order_limit_shape(c.query, c.names, c.cols),
    lambda c, s: _covers_pk(c, s.fact, [o for o, _ in s.order_spec])
    and _selects(s.out_cols, c.pk_of(s.fact)) and c.pk_ok(c.pk_of(s.fact)),
)
def _order_limit(c, s):
    mv = IncrementalGlobalTopKMV(
        c.spark, fact=_fact_frame(c, s.fact, s.where), fact_pk=c.pk_of(s.fact),
        order_spec=list(s.order_spec), out_cols=list(s.out_cols), k=s.k, **c.kw,
    )
    return _fact_routed(mv, s.fact, c.pk_of(s.fact), s.where)


# Stateless projection/filter view — a stateless Calc node in Flink's
# planner. LAST among the single-table routes: every richer shape has
# already claimed its syntax. The changelog maps 1:1 onto the target,
# keyed by the projected fact PK; the route keeps no source store.
@_route(
    "projection",
    lambda c: match_projection_shape(c.query, c.names, c.cols, c.pks),
    lambda c, s: c.pk_ok(s.pk_out),
)
def _projection(c, s):
    mv = IncrementalProjectionMV(
        c.spark, fact=_fact_frame(c, s.fact, s.where), items=list(s.items),
        pk_out=list(s.pk_out), **c.kw,
    )
    feed = _fact_feed(s.fact, where=s.where)
    return _Routed(mv, list(s.pk_out), frozenset({s.fact}), {}, feed)


def _nested_spelling(c: _Ctx):
    """(inner_sql, alias, outer_sql) of the two-level spelling a cascade
    maintains, or None. Besides a literal ``FROM ( <inner> ) alias``,
    three flat shapes rewrite to it: GROUP BY … ORDER BY agg LIMIT n
    (inner aggregate, outer global top-k), a flat M:N join-aggregate
    (inner two-sided join keyed by both PKs, outer aggregate), and a
    three-table tree with ONE theta edge (inner equi-join, outer theta
    join through the cascade's base-table pass-through). Only the
    nested probe sees a rewrite; recompute keeps the original text."""
    nested = c.query
    gol = split_group_order_limit(c.query)
    if gol is not None:
        body, tail = gol
        try:
            body_cols = [f.name for f in c.spark.sql(body).schema.fields]
            nested = f"SELECT {', '.join(body_cols)} FROM ( {body} ) __agg {tail}"
        except Exception:
            nested = c.query
    for rewrite in (rewrite_mn_join_agg, rewrite_theta_tree):
        if nested == c.query:
            nested = rewrite(c.query, c.names, c.cols, c.pks) or nested
    return split_nested_query(nested)


class MVApp:
    @staticmethod
    def builder(spark: SparkSession) -> MVAppBuilder:
        return MVAppBuilder(spark)

    def __init__(
        self, spark, sources, query, target, pk, num_buckets,
        shuffle_partitions=None, ddl_hook=None, validate_pks=False,
        column_names=None, window_strategy="sort",
        drop_old_table=False, force_new_table=False,
        force_recompute=False, cost_advisor=False, advisor_threshold=None,
        late_dim="raise",
    ):
        # temporal-join late-dim policy (see IncrementalTemporalJoinMV:
        # "raise" fails loudly on out-of-order dim versions, "reorder"
        # splices them retroactively)
        self._late_dim = late_dim
        # Output-name override (the reference builder's setColumnNames,
        # README.md:56): planning/maintenance run on the query's own
        # names; _finish_column_names applies the user-facing rename
        # after whichever route's early return built the app.
        self._column_names = None
        self._window_strategy = window_strategy
        # Target lifecycle flags (TiFlinkApp.java:215-223); applied at
        # bootstrap() — building an MVApp plans, it does not write.
        self.drop_old_table = drop_old_table
        self.force_new_table = force_new_table
        self.advisor = None
        self._plan(
            spark, sources, query, target, pk, num_buckets,
            shuffle_partitions, ddl_hook, validate_pks,
            force_recompute=force_recompute,
        )
        if (
            cost_advisor
            and not force_recompute
            and self.maintenance_strategy in _ADVISED_STRATEGIES
        ):
            # Measured advisor (see MVAppBuilder.cost_advisor): one
            # timed full materialization of the (already-normalized)
            # query, aborted at the threshold; below it, per-batch
            # recompute is predictably cheaper than the incremental
            # path's merge floor, so re-plan onto RecomputeMV.
            thr = (
                advisor_threshold
                if advisor_threshold is not None
                else ADVISOR_FULL_QUERY_SECS
            )
            t_full, aborted = _timed_full_execution(
                spark, spark.sql(spark_executable_query(self.query)), thr
            )
            decision = (
                "recompute" if not aborted and t_full <= thr else "incremental"
            )
            self.advisor = {
                # None when aborted: the probe was cancelled AT the
                # threshold, so the true full-query time is unknown
                # (only that it exceeds thr)
                "full_query_secs": None if aborted else round(t_full, 3),
                "threshold_secs": thr,
                "aborted": aborted,
                "strategy": self.maintenance_strategy,
                "decision": decision,
            }
            if decision == "recompute":
                self._plan(
                    spark, sources, query, target, pk, num_buckets,
                    shuffle_partitions, ddl_hook, validate_pks,
                    force_recompute=True,
                )
        if column_names is not None:
            self._finish_column_names(column_names, target)

    def _finish_column_names(self, names, target):
        orig = [f.name for f in self.mv_schema.fields]
        if len(names) != len(orig):
            raise ValueError(
                f"column_names has {len(names)} names for {len(orig)} "
                f"output columns {orig}"
            )
        self._orig_out_names = orig
        self._column_names = list(names)
        from pyspark.sql.types import StructField, StructType

        self.mv_schema = StructType(
            [StructField(n, f.dataType, f.nullable) for n, f in zip(names, self.mv_schema.fields)]
        )
        lower = [c.lower() for c in orig]
        try:
            renamed_pk = [names[lower.index(p.lower())] for p in self.mv_pk]
        except ValueError:
            # PK column not in the visible output (hidden engine key):
            # advertise the rename positionally-unmapped DDL without it
            renamed_pk = list(self.mv_pk)
        self.ddl = create_table_ddl(os.path.basename(target), self.mv_schema, renamed_pk)

    def _plan(
        self, spark, sources, query, target, pk, num_buckets,
        shuffle_partitions=None, ddl_hook=None, validate_pks=False,
        force_recompute=False,
    ):
        self.spark = spark
        self.catalog = Catalog(spark)
        self.query = query
        self._ddl_hook = ddl_hook
        self._validate_pks = validate_pks
        self.target_path = target

        dfs: dict[str, tuple] = {}
        self._source_event_time: dict[str, str | None] = {}
        for name, value in sources.items():
            src, spk, *more = value
            self._source_event_time[name] = more[0] if more else None
            if isinstance(src, str):
                from tiflink_spark.session import read_parquet_normalized

                spec = self.catalog.register_parquet(name, src, spk)
                df = read_parquet_normalized(self.spark, src)
            else:
                spec = self.catalog.register_dataframe(name, src, spk)
                df = src
            dfs[name] = (spec, df)
        # kept for bootstrap-time PK validation (validate_pks) and the
        # recompute route's source-store bootstrap
        self._source_frames = {n: (d[0].pk, d[1]) for n, d in dfs.items()}
        cols = {n: [f.name for f in d[1].schema.fields] for n, d in dfs.items()}
        kw = dict(
            work_dir=target, num_buckets=num_buckets,
            shuffle_partitions=shuffle_partitions,
        )

        # FOR SYSTEM_TIME AS OF (temporal/versioned dim join) routes
        # through its own planner branch BEFORE normalization and the
        # Spark resolve probe — Spark SQL cannot parse the syntax, so
        # there is no recompute fallback to degrade to.
        if re.search(r"(?i)\bSYSTEM_TIME\b", query):
            # Flink's PROCESSING-TIME form — FOR SYSTEM_TIME AS OF
            # PROCTIME() — joins the dim's CURRENT state: for a
            # maintained MV that is exactly the lookup-enrichment
            # route (dim churn re-derives the matching fact rows), so
            # strip the clause and fall through to normal planning.
            # Only the event-time form needs versioned dim history.
            plain_pt, n_pt = re.subn(
                r"(?is)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+PROCTIME\s*\(\s*\)",
                " ",
                query,
            )
            if n_pt:
                query = plain_pt
            else:
                self._routing = [{"route": "temporal_join", "verdict": "routed"}]
                self._install(self._plan_temporal(spark, dfs, cols, query, pk, kw))
                return

        # Normalize before planning: semantics-preserving rewrites
        # (CTE inlining, comma-join -> JOIN ON, GROUP BY / ORDER BY
        # ordinals, RIGHT->LEFT join, bare ORDER BY removal) widen
        # every matcher's reach; the rewritten text is what the
        # recompute fallback executes too, so a rewrite is never a
        # correctness risk (planner.normalize_query).
        query = normalize_query(query, cols)
        self.query = query

        # Resolve the query against the catalog: schema + PK inference.
        # (spark_executable_query: subset-GROUPING_ID -> grouping()
        # arithmetic; Spark's analyzer rejects the subset form the
        # engine's SQL surface accepts.)
        self.mv_schema = spark.sql(spark_executable_query(query)).schema
        c = _Ctx(
            spark, dfs, query, pk, default_pk(self.mv_schema, pk), cols, kw,
            self._window_strategy,
        )

        # Explicit escape hatch (builder.force_recompute()) skips every
        # incremental probe — for A/B-measuring incremental maintenance
        # against the recompute baseline (bench.py's mv_refresh block)
        # and for pinning a view to recompute when its churn profile
        # makes that the cheaper plan. Otherwise the route table is
        # walked in order (planner.py matchers + their gates); the
        # first accepted entry wins, then the two-level cascade, then
        # recompute — a planner miss is never wrong, only slower.
        self._routing = routing = []
        if not force_recompute:
            for name, match, accept, build in _ROUTES:
                shape = match(c)
                ok = shape is not None and bool(accept(c, shape))
                routing.append({"route": name, "verdict": _verdict(shape, ok)})
                if ok:
                    self._install(build(c, shape))
                    return
            ns = _nested_spelling(c)
            r = None if ns is None else self._plan_cascade(c, ns, sources)
            routing.append({"route": "cascade", "verdict": _verdict(ns, r is not None)})
            if r is not None:
                self._install(r)
                return
        routing.append({"route": "recompute", "verdict": "routed"})
        self._install(self._plan_recompute(c))

    def _install(self, r: _Routed) -> None:
        """The one install step every route goes through."""
        self._route, self._mv, self._stores = r, r.mv, r.stores
        self.maintenance_mode = (
            "recompute" if isinstance(r.mv, RecomputeMV) else "incremental"
        )
        self.mv_pk = list(r.mv_pk)
        self.pk_is_unique = r.pk_is_unique
        self.ddl = create_table_ddl(
            os.path.basename(self.target_path), self.mv_schema, self.mv_pk
        )

    def _plan_cascade(self, c: _Ctx, ns, sources) -> _Routed | None:
        """Two-level nesting: SELECT … FROM ( <inner> ) … — an inner MV
        feeding an outer MV through the store's version-diff changelog
        (CascadeMV). None unless BOTH levels route incrementally."""
        inner_sql, alias, outer_sql = ns
        target = c.kw["work_dir"]
        inner_dir = os.path.join(target, "inner")
        inner_app = MVApp(
            c.spark, sources, inner_sql, inner_dir, None,
            c.kw["num_buckets"], c.kw["shuffle_partitions"],
        )
        outer_app = None
        # The outer's stores address rows by the inner's key, so it
        # must be a TRUE unique key. Two ways to have one:
        # - the inner's advertised PK is genuinely unique
        #   (pk_is_unique), or
        # - the inner is a BAG view that exposes its hidden
        #   uniqueness carrier (union-all's branch tag) via
        #   cascade_relation(): the outer consumes the relation
        #   WITH the hidden column, keyed by the target store's
        #   full compound PK, so cross-branch duplicates never
        #   collapse — bag semantics flow through the cascade.
        if inner_app.maintenance_mode == "incremental":
            rel_fn = getattr(inner_app._mv, "cascade_relation", None)
            if inner_app.pk_is_unique:
                placeholder = c.spark.sql(inner_sql)
                inner_key = inner_app.mv_pk
            elif rel_fn is not None:
                placeholder = rel_fn()
                ctgt = getattr(inner_app._mv, "cascade_target", None)
                inner_key = list(
                    ctgt.pk if ctgt is not None else inner_app._mv.target.pk
                )
            else:
                placeholder = None
            if placeholder is not None:
                outer_sources = {alias: (placeholder, inner_key)}
                # The outer level may reference BASE tables besides
                # the derived one (round 7: one theta edge over an
                # otherwise-equi tree — inner equi-join MV, outer
                # theta join against the third table). Pass those
                # through; CascadeMV splits each batch's changes
                # between the levels. Attachment is decided from
                # the PARSED relation positions (sqlast token
                # stream), not a regex over raw SQL — a source
                # name appearing as a column or inside a string
                # literal must not attach an unused store that
                # would then be bootstrapped and merged every
                # batch and silently absorb misdirected
                # changelogs. Tokenizer bail (None) falls back to
                # the conservative word-boundary scan.
                from tiflink_spark.sqlast import relation_names

                rels = relation_names(outer_sql)
                if rels is None:
                    rels = {
                        n2.lower()
                        for n2 in c.dfs
                        if re.search(rf"(?is)\b{re.escape(n2)}\b", outer_sql)
                    }
                for n2, (spec2, df2) in c.dfs.items():
                    if n2 != alias and n2.lower() in rels:
                        outer_sources[n2] = (df2, list(spec2.pk))
                outer_app = MVApp(
                    c.spark, outer_sources, outer_sql,
                    os.path.join(target, "outer"), c.pk,
                    c.kw["num_buckets"], c.kw["shuffle_partitions"],
                )
        if (
            outer_app is not None
            and outer_app.maintenance_mode == "incremental"
            and not isinstance(outer_app._mv, CascadeMV)
        ):
            # Share the inner TARGET as the outer's alias mirror:
            # the mirror held an exact copy the inner refresh had
            # already committed (see _SharedMirrorStore). Guarded
            # three ways: the outer route must declare it merges
            # source changelogs verbatim (_mirrors_sources_verbatim
            # — grouping sets enrich with a hidden __g, semijoins
            # pre-filter with WHERE, projections rename: those keep
            # the physical mirror), the shared side must be a plain
            # single store (not a composite grouping-sets façade),
            # and the keys must match.
            shared_tgt = getattr(inner_app._mv, "cascade_target", None)
            if shared_tgt is None:
                shared_tgt = getattr(inner_app._mv, "target", None)
            old_mirror = outer_app._stores.get(alias)
            if (
                getattr(outer_app._mv, "_mirrors_sources_verbatim", False)
                and isinstance(shared_tgt, KeyedParquetStore)
                and old_mirror is not None
                and [c2.lower() for c2 in old_mirror.pk]
                == [c2.lower() for c2 in shared_tgt.pk]
            ):
                shared = _SharedMirrorStore(shared_tgt, placeholder.columns)
                for k2, v2 in list(vars(outer_app._mv).items()):
                    if v2 is old_mirror:
                        setattr(outer_app._mv, k2, shared)
                    elif isinstance(v2, dict):
                        for dk2, dv2 in list(v2.items()):
                            if dv2 is old_mirror:
                                v2[dk2] = shared
                outer_app._stores[alias] = shared
            stores = dict(inner_app._stores)
            for n2, st2 in outer_app._stores.items():
                if n2 != alias:
                    stores.setdefault(n2, st2)
            # The TRUE set the two levels maintain — not set(sources):
            # a nested cascade (multi-theta tree, round 10) reports its
            # own union here, and the parent CascadeMV splits batches by
            # exactly this set. An over-claim would misroute an
            # outer-only base table's changelog into the inner cascade.
            tables = inner_app.maintained_tables() | (
                outer_app.maintained_tables() - {alias}
            )
            return _Routed(
                CascadeMV(inner_app, outer_app, alias), outer_app.mv_pk,
                frozenset(tables), stores, _dict_feed,
            )
        # A level fell back: remove the probe's directory skeletons,
        # but ONLY if they hold no data — a rebuild of a previously
        # committed cascade target whose planning now falls back
        # must never destroy committed MV state.
        for d in (inner_dir, os.path.join(target, "outer")):
            if os.path.isdir(d) and not any(files for _, _, files in os.walk(d)):
                import shutil

                shutil.rmtree(d, ignore_errors=True)
        return None

    def _plan_temporal(self, spark, dfs, cols, query, pk, kw) -> _Routed:
        """Route a ``FOR SYSTEM_TIME AS OF`` query (event-time temporal
        dim join) to IncrementalTemporalJoinMV, or raise: Spark SQL has
        no temporal-join syntax, so — uniquely among the routes — there
        is no recompute fallback to degrade to."""
        from tiflink_spark.planner import match_temporal_join_shape

        source_pks = {n: list(d[0].pk or []) for n, d in dfs.items()}
        shape = match_temporal_join_shape(query, set(dfs), cols, source_pks)
        if shape is None:
            raise ValueError(
                "FOR SYSTEM_TIME AS OF query doesn't fit the temporal-join "
                "envelope (one INNER temporal join, conjunctive-equality ON "
                "covering the dim's PK exactly, AS OF a fact column, plain "
                "column select including the whole fact PK) — and no "
                "recompute fallback exists: Spark SQL cannot execute the "
                "syntax"
            )
        dim_time = self._source_event_time.get(shape.dim)
        if dim_time is None:
            raise ValueError(
                f"temporal dim '{shape.dim}' needs event_time declared on "
                "its source (builder.source(name, df, pk=[...], "
                "event_time='col')) — the column at which each dim version "
                "takes effect (Flink's versioned-table time attribute)"
            )
        fact_pk = source_pks[shape.fact]
        if pk is not None and [c.lower() for c in pk] != [
            c.lower() for c in fact_pk
        ]:
            raise ValueError(
                f"temporal-join MV is keyed by the fact PK {fact_pk}; "
                f"declared target pk {list(pk)} disagrees"
            )
        # schema/DDL from the executable twin: the AS OF restriction
        # only drops rows, never changes the output schema
        plain = re.sub(
            r"(?is)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+[A-Za-z_]\w*"
            r"(\s*\.\s*[A-Za-z_]\w*)?",
            " ",
            query,
        )
        self.mv_schema = spark.sql(plain).schema
        mv = IncrementalTemporalJoinMV(
            spark,
            fact_name=shape.fact,
            fact=dfs[shape.fact][1],
            fact_pk=fact_pk,
            dim_name=shape.dim,
            dim=dfs[shape.dim][1],
            dim_pk=shape.dim_pk,
            dim_time_col=dim_time,
            fk=shape.fk,
            time_col=shape.time_col,
            out_cols=list(shape.out_cols),
            out_src=list(shape.out_src),
            fact_cols=list(shape.fact_cols),
            dim_cols=list(shape.dim_cols),
            late_dim=self._late_dim,
            **kw,
        )
        return _Routed(mv, fact_pk, frozenset({shape.fact, shape.dim}), {}, _dict_feed)

    def _plan_recompute(self, c: _Ctx) -> _Routed:
        """The fallback tail: full recompute per batch with a
        change-bounded sink — reached when no incremental route
        accepted, or directly via the builder's force_recompute() knob.
        Source-store bootstraps are deferred to bootstrap(): building
        an MVApp plans, it does not write (the cascade probe constructs
        and discards fallback apps)."""
        stores = {
            name: KeyedParquetStore(
                c.spark, os.path.join(c.kw["work_dir"], f"_src_{name}"),
                spec_.pk, c.kw["num_buckets"],
            )
            for name, (spec_, _df) in c.dfs.items()
        }
        # A grouping-body query (ROLLUP/CUBE/GROUPING SETS) that fell
        # through the incremental matcher — multi-table rollup, CUBE(7)+,
        # a non-maintainable HAVING — emits subtotal rows with NULL
        # grouping keys, which the first-output-column PK default
        # (TiFlinkApp.java:276-281) would crash on at store load. Such
        # views diff as BAGS: multiplicity transitions keyed by a hidden
        # null-safe row encoding + copy index (same shape as the setop
        # cascade façade's (tuple, __copy) contract).
        bag = c.pk is None and bool(
            re.search(r"(?is)\b(ROLLUP|CUBE|GROUPING\s+SETS)\s*\(", c.query)
        )
        mv = RecomputeMV(
            c.spark,
            stores,
            spark_executable_query(c.query),
            os.path.join(c.kw["work_dir"], "mv"),
            pk=c.default_pk,
            num_buckets=c.kw["num_buckets"],
            shuffle_partitions=c.kw["shuffle_partitions"],
            bag=bag,
        )
        return _Routed(mv, c.default_pk, frozenset(stores), stores, _dict_feed, not bag)

    # -- lifecycle -----------------------------------------------------------

    @property
    def maintenance_strategy(self) -> str:
        """The concrete maintenance class the planner routed to."""
        return type(self._mv).__name__

    def describe(self) -> dict:
        """Introspection snapshot: how the view is maintained and where
        it stands — the engine-side answer to the reference's
        coordinator visibility (txn table, GrpcService.java:40-160)."""
        target = getattr(self._mv, "target", None)
        strategy = self.maintenance_strategy
        if isinstance(self._mv, CascadeMV):
            strategy = (
                f"CascadeMV[{self._mv.inner.maintenance_strategy}"
                f" -> {self._mv.outer.maintenance_strategy}]"
            )
        if target is None and isinstance(self._mv, CascadeMV):
            target = getattr(self._mv.outer._mv, "target", None)
        return {
            "query": self.query,
            "maintenance_mode": self.maintenance_mode,
            "maintenance_strategy": strategy,
            # the route-table entries tried, in order, each with its
            # verdict: no_shape / gate (shape matched, gate rejected) /
            # routed — entries after the winner are never evaluated
            "routing": list(self._routing),
            # cost_advisor record (None unless the builder enabled it
            # and the planner hit an advised shape)
            "advisor": self.advisor,
            "mv_pk": list(self.mv_pk),
            "mv_columns": [f.name for f in self.mv_schema.fields],
            "ddl": self.ddl,
            "target_version": target.current_version() if target is not None else None,
            "committed_batches": sorted(
                map(str, target.committed_batches())
            ) if target is not None else [],
            "sources": sorted(self._stores),
            "drop_old_table": self.drop_old_table,
            "force_new_table": self.force_new_table,
            # per-batch refresh history off the target's commit manifest
            # (wall-time + touched rows/buckets captured by store.merge)
            "recent_batches": (
                target.recent_commits() if target is not None else []
            ),
        }

    def _all_stores(self) -> list[KeyedParquetStore]:
        """Every KeyedParquetStore the maintenance object owns (source,
        state, joined-relation, and target stores), deduped by id."""
        seen: dict[int, KeyedParquetStore] = {}

        if isinstance(self._mv, CascadeMV):
            stores = self._mv.inner._all_stores() + self._mv.outer._all_stores()
            for s in stores:
                seen.setdefault(id(s), s)
            return list(seen.values())

        def add(obj):
            if isinstance(obj, KeyedParquetStore):
                seen.setdefault(id(obj), obj)

        nested = [self._mv, getattr(self._mv, "_agg", None)]
        nested += list(getattr(self._mv, "_sides", {}).values())
        # grouping-sets decomposition: one sub-MV per set (shared fact
        # store dedupes by id; each sub's state/target is its own)
        nested += list(getattr(self._mv, "subs", []))
        for mv in nested:
            if mv is None:
                continue
            for attr in ("fact_store", "state_store", "dim_store",
                         "hist_store", "left_store", "right_store", "target"):
                try:
                    add(getattr(mv, attr, None))
                except AssertionError:
                    pass  # multi-dim dim_store accessor asserts single-dim
            for s in getattr(mv, "dim_stores", {}).values():
                add(s)
        for s in self._stores.values():
            add(s)
        return list(seen.values())

    def compact(self) -> "MVApp":
        """Rewrite every store's current state into a single fresh
        version (bounds manifest/bucket fragmentation on long-lived
        views); reads see the same data before and after."""
        for store in self._all_stores():
            store.compact()
        return self

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop unreferenced version directories older than the last
        ``keep_last`` (the time-travel window shrinks accordingly)."""
        removed: list[str] = []
        for store in self._all_stores():
            removed += store.vacuum(keep_last)
        return removed

    def _target_committed(self) -> bool:
        """True when ANY store under the target working dir holds a
        commit manifest — the 'table already exists' probe for the
        force_new_table / drop_old_table lifecycle flags."""
        from tiflink_spark.store import COMMITS_FILE

        if not os.path.isdir(self.target_path):
            return False
        for root, _dirs, files in os.walk(self.target_path):
            if COMMITS_FILE in files:
                return True
        return False

    def bootstrap(self, batch_id=0) -> "MVApp":
        # Target lifecycle (ensureTargetTable, TiFlinkApp.java:104-115):
        # drop_old_table wipes the previous run's entire target state so
        # this bootstrap republishes from the CURRENT sources;
        # force_new_table then refuses a still-existing target (CREATE
        # TABLE without IF NOT EXISTS). Default: attach idempotently.
        if self.drop_old_table and os.path.isdir(self.target_path):
            import shutil

            shutil.rmtree(self.target_path, ignore_errors=True)
        if self.force_new_table and self._target_committed():
            raise ValueError(
                f"target '{self.target_path}' already holds a committed MV "
                "and force_new_table is set — drop_old_table(True) to "
                "replace it, or leave force_new_table off to attach"
            )
        # Opt-in source-PK audit: a falsely-declared PK (duplicate or
        # NULL keys) corrupts MERGE-by-PK maintenance silently; fail
        # loudly here instead. One aggregate pass per source.
        if self._validate_pks:
            from pyspark.sql import functions as F

            for name, (pk_cols, df) in self._source_frames.items():
                if not pk_cols:
                    continue
                null_any = None
                for c in pk_cols:
                    cond = F.col(c).isNull()
                    null_any = cond if null_any is None else (null_any | cond)
                r = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(*[F.col(c) for c in pk_cols]).alias("d"),
                    F.sum(F.when(null_any, 1).otherwise(0)).alias("nulls"),
                ).head()
                if r["nulls"]:
                    raise ValueError(
                        f"source '{name}': {r['nulls']} rows have NULL in "
                        f"declared PK {list(pk_cols)} (PRIMARY KEY implies "
                        f"NOT NULL)"
                    )
                if r["n"] != r["d"]:
                    raise ValueError(
                        f"source '{name}' is not unique on declared PK "
                        f"{list(pk_cols)}: {r['n']} rows vs {r['d']} "
                        f"distinct keys — maintenance would silently "
                        f"collapse duplicates"
                    )

        # Target DDL executes before the first publish — the reference's
        # lifecycle step 3 (TiJDBCHelper.java:111-140).
        if self._ddl_hook is not None:
            self._ddl_hook(self.ddl)
        if self.maintenance_mode == "recompute":
            for name, store in self._stores.items():
                if not store.committed_batches():
                    store.bootstrap(self._source_frames[name][1], batch_id="src-init")
        self._mv.bootstrap(batch_id)
        return self

    def maintained_tables(self) -> set[str]:
        """Source tables whose changelogs this app's route consumes —
        what :meth:`refresh` accepts without raising. CascadeMV uses
        this to split a batch's changes between its two levels."""
        return set(self._route.tables)

    def refresh(self, changes: dict[str, DataFrame], batch_id) -> bool:
        """Apply one changelog micro-batch (table name → __op/__seq rows)."""
        unknown = set(changes) - self._route.tables
        if unknown:
            raise ValueError(
                f"{self.maintenance_strategy} maintains only "
                f"{sorted(self._route.tables)}; got changes for {sorted(unknown)}"
            )
        return self._route.feed(self._mv, changes, batch_id)

    def start_streaming(
        self,
        changelog_dirs: dict[str, str],
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_interval: str | None = None,
    ):
        """CDC phase: consume changelog directories as file streams and
        MERGE each micro-batch (FlinkTikvConsumer.java:92-106 handoff;
        foreachBatch is the exactly-once txn boundary).

        ``trigger_interval`` (e.g. ``"1 second"``) switches from the
        drain-and-stop ``availableNow`` mode to a LIVE continuously
        refreshing view — ``trigger(processingTime=...)``. This is the
        reference's only mode: its refresh rate IS the checkpoint
        interval (``setCheckpointInterval``, TiFlinkExample.java:22-23;
        README.md "This interval determines data refresh rate"). Live
        streams return immediately; call :meth:`stop_streaming` (or
        ``awaitTermination`` on the returned handles via
        ``self._streams``) to end them.

        Commit serialization: the keyed stores are single-writer, so
        drain mode runs streams ONE AT A TIME, and live mode wraps
        every foreachBatch in one shared lock — the engine-side analog
        of the reference's commit-ordering coordinator
        (maxConcurrentCheckpoints=1, TiFlinkApp.java:245; commit-in-
        checkpoint-order, GrpcService.java:87-135)."""
        import threading

        live = trigger_interval is not None
        commit_lock = threading.Lock()
        self._streams = []
        for name, d in changelog_dirs.items():
            schema = self.spark.read.parquet(d).schema

            def make_batch_fn(table):
                def fn(df, epoch_id):
                    with commit_lock:
                        self.refresh({table: df}, batch_id=f"{table}-{epoch_id}")

                return fn

            writer = (
                self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
                .writeStream.foreachBatch(make_batch_fn(name))
                .option("checkpointLocation", os.path.join(checkpoint_dir, name))
            )
            if live:
                q = writer.trigger(processingTime=trigger_interval).start()
                self._streams.append(q)
            else:
                q = writer.trigger(availableNow=available_now).start()
                q.awaitTermination()
        return self

    def stop_streaming(self) -> "MVApp":
        """Stop any live (processingTime-triggered) streams started by
        :meth:`start_streaming`."""
        for q in getattr(self, "_streams", []):
            q.stop()
        self._streams = []
        return self

    def read(self, version: int | None = None) -> DataFrame:
        """Consistent MV state, in the query's SELECT column order.

        The incremental maintenance routes store MV rows PK-first
        internally; the user-facing contract (mv_schema, the generated
        DDL, positional consumers) is the resolved query's column
        order, so the read projects through it."""
        out = self._mv.read(version)
        # With a column_names override the stores/maintenance carry the
        # query's own names; order by those, then rename for the user.
        ordered = (
            self._orig_out_names
            if self._column_names is not None
            else [f.name for f in self.mv_schema.fields]
        )
        # Subset-select also drops engine-internal columns (e.g. the
        # hidden DISTINCT count) that never belong to the query schema.
        if set(ordered) <= set(out.columns) and ordered != list(out.columns):
            out = out.select(*ordered)
        if self._column_names is not None:
            out = out.toDF(*self._column_names)
        # Stores home their frames on the maintenance session; hand the
        # user a frame on THEIR session so their conf governs execution
        # (and a concurrently-running refresh's tuning never does).
        from tiflink_spark.session import rehome

        return rehome(out, self.spark)
