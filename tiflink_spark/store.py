"""Keyed, versioned parquet store — the engine's exactly-once upsert sink.

The reference commits each checkpoint's upserts to TiKV with Percolator
2PC, serialized by a coordinator so MV versions commit in checkpoint
order (FlinkTikvProducer.java:96-198, GrpcService.java:110-121). On
Spark those guarantees are reproduced with storage-level mechanisms:

- **version manifest** (``_mv_commits``, JSON lines): each batch a
  store merges appends one line carrying the complete bucket→file
  mapping; data files are invisible until their line lands. The append
  is NOT the view's commit point: that is the view's batch log
  (``_mv_batches``, :func:`run_batch`), one transaction per checkpoint
  committed in order like the reference's (GrpcService.java:87-135).
- **idempotent publish**: a batch_id found in a store's manifest is a
  no-op, so a store fed straight from a stream (the ``keyed``
  connector) converges under redelivery (reference analog: roll-forward
  of PREWRITE transactions, FlinkTikvProducer.java:211-230).
- **hash-bucketed layout**: rows live in ``num_buckets`` PK-hash
  buckets. A MERGE only rewrites buckets containing changed keys, so
  per-batch write work scales with the touched key range, not the
  table (at 100 TB: 1024 buckets × bounded churn ≫ better than a
  full-table rewrite; same pruning idea as Delta's file-level MERGE).

Single-writer by design — the reference also serializes commits
(maxConcurrentCheckpoints=1, TiFlinkApp.java:245).

**What a route may call.** Maintenance routes (mv.Route) open stores
through their view's :class:`StoreSet` and then call only
:meth:`~KeyedParquetStore.bootstrap`, :meth:`~KeyedParquetStore.merge`,
:meth:`~KeyedParquetStore.read`, :meth:`~KeyedParquetStore.read_keys`,
:meth:`~KeyedParquetStore.read_before`,
:meth:`~KeyedParquetStore.bootstrap_rows` and, as a cascade's CDC
source, :meth:`~KeyedParquetStore.batch_delta`: a route keeps its view
in one target store merged once per batch, so the rows that merge
wrote are the view's changelog for the batch. ``merge`` returns a
:class:`MergedBatch`: the batch's recorded row count, its change rows
(``changes()``), the pre-batch rows they displaced (``displaced()``)
and the distinct values of a column among them (``column_values()``).
Every per-batch lookup a route needs goes through that record, so a
new read path (an Arrow one, say) slots in beneath these calls and not
inside each route.
"""

from __future__ import annotations

import contextvars
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflink_spark.changelog import (
    OP_COL,
    OP_DELETE,
    SEQ_COL,
    assert_valid_ops,
)
from tiflink_spark.session import maintenance_session, rehome

COMMITS_FILE = "_mv_commits"
BATCHES_FILE = "_mv_batches"
BUCKET_COL = "__bucket"
# Chain-position column written INTO each delta parquet at merge time
# (the commit version as a literal). Chain reconciliation orders by it;
# the file-path regexp over input_file_name() it replaces is UNRELIABLE
# whenever Catalyst fuses two chain reads into one stage (Spark's
# documented input_file_name limitation: undefined with multiple file
# sources per stage) — a plan joining two versioned reads of the same
# store then misattributes rows to the wrong delta and reconciles a
# WRONG winner. Legacy chains (pre-column files) keep the path regexp.
CHAIN_COL = "__cv"
HWM_TYPE = "hwm"

# Merge-on-read delta chain bound. A micro-batch MERGE appends the
# change rows as a small DELTA file instead of rewriting every touched
# bucket — hash-spread churn otherwise rewrites ~min(|changes|,
# num_buckets) whole buckets per batch, i.e. the full store for any
# uniform churn wider than the bucket count (measured: a 2.4k-row batch
# against a 6M-row store rewrote all 8 buckets, ~4s of pure write
# amplification per store per batch). Reads reconcile base ∪ deltas
# (latest row per PK wins, deletes drop); once the chain reaches this
# length — or one batch exceeds a bucket's worth of rows — the merge
# FOLDS: it rewrites exactly the buckets the chain touched and clears
# it. Same design as Hudi's merge-on-read / Paimon's LSM levels: O(δ)
# per-batch writes, amortized compaction, bounded read overhead.
MAX_PENDING_DELTAS = 4


def _int_id(batch_id) -> bool:
    return isinstance(batch_id, int) and not isinstance(batch_id, bool)


def _table_epoch(batch_id, tables) -> tuple[str, int] | None:
    """(table, epoch) of a streaming batch id ``{table}-{epoch}``
    (MVApp.start_streaming) for one of ``tables``, else None."""
    if not isinstance(batch_id, str):
        return None
    table, _, epoch = batch_id.rpartition("-")
    return (table, int(epoch)) if table in tables and epoch.isdigit() else None


# Maintenance commits (store folds and compactions) name no batch of the
# view: nothing asks whether they committed, so log compaction drops them.
_MAINTENANCE_IDS = ("__fold__", "__compact__")


class _CommittedBatches(set):
    """A batch log's idempotence set. Explicit batch ids from its
    lines, plus what past log truncations summarized: every integer
    batch_id <= ``int_hwm`` is committed, and every streaming id
    ``{table}-{epoch}`` with epoch <= ``table_hwms[table]``. Sound
    because one line is written per processed batch and batch ids
    (Structured Streaming epochs, per table) are monotone, so the
    truncated prefix is exactly {0..hwm}. Other string ids (ad-hoc
    writes) are carried explicitly — they are O(maintenance events),
    not O(batches)."""

    def __init__(self, explicit: set, int_hwm: int | None, table_hwms: dict | None = None):
        super().__init__(explicit)
        self.int_hwm = int_hwm
        self.table_hwms = dict(table_hwms or {})

    def __contains__(self, item) -> bool:  # type: ignore[override]
        if set.__contains__(self, item):
            return True
        if _int_id(item):
            return self.int_hwm is not None and item <= self.int_hwm
        te = _table_epoch(item, self.table_hwms)
        return te is not None and te[1] <= self.table_hwms[te[0]]

    def absorb(self, ids, tables) -> "_CommittedBatches":
        """This summary extended by the dropped ``ids``: integers and
        ``tables``' streaming ids raise their high-water marks,
        maintenance ids are forgotten, any other id stays explicit (ids
        this summary carried explicitly are re-sorted the same way)."""
        out = _CommittedBatches(set(), self.int_hwm, self.table_hwms)
        for b in [*self, *ids]:
            te = _table_epoch(b, tables)
            if _int_id(b):
                out.int_hwm = b if out.int_hwm is None else max(out.int_hwm, b)
            elif te is not None:
                out.table_hwms[te[0]] = max(out.table_hwms.get(te[0], te[1]), te[1])
            elif not str(b).startswith(_MAINTENANCE_IDS):
                set.add(out, b)
        return out


class _BatchLines:
    """A JSON-lines log with one line per batch: a store's commit
    manifest (``_mv_commits``) or a view's batch log (``_mv_batches``).
    Lines are appended; :meth:`compact` folds all but the tail into one
    high-water-mark line, and every rewrite is atomic (temp file +
    ``os.replace``)."""

    def __init__(self, path: str):
        self.path = path
        self._cache: tuple | None = None

    def parse(self) -> tuple[list[dict], _CommittedBatches]:
        """(batch lines, the summary past compactions left of the
        truncated prefix).

        Cached on the file's (mtime_ns, size): a refresh batch consults
        a manifest many times (idempotence check, version lookup, batch
        buckets, delta read-back) and re-parsing a long manifest per
        call is measurable driver overhead at the reference's 1s
        refresh cadence. Appends and rewrites both change the stat key,
        so the cache can never serve a stale parse."""
        lines: list[dict] = []
        done = _CommittedBatches(set(), None)
        try:
            st = os.stat(self.path)
        except OSError:
            return lines, done
        key = (st.st_mtime_ns, st.st_size)
        if self._cache is not None and self._cache[0] == key:
            return self._cache[1]
        with open(self.path) as f:
            raw = f.readlines()
        for i, line in enumerate(raw):
            if not line.strip():
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                # A TORN tail is expected: the background fold appends
                # its (multi-KB) commit line from another thread while
                # readers re-stat/re-parse — a reader can catch the
                # write mid-flight. The pre-append file is a consistent
                # snapshot, so ignore an unparseable LAST line (and
                # don't cache: the completed write changes
                # (mtime,size), forcing a clean re-parse). A torn line
                # anywhere else is real corruption — raise.
                if i == len(raw) - 1:
                    return lines, done
                raise
            if rec.get("type") == HWM_TYPE:
                h = rec.get("int_batch_hwm")
                done = done.absorb([*([h] if h is not None else []), *rec.get("other_batches", [])], ())
                for t, n in rec.get("table_hwms", {}).items():
                    done.table_hwms[t] = max(done.table_hwms.get(t, n), n)
            else:
                lines.append(rec)
        self._cache = (key, (lines, done))
        return lines, done

    def committed(self) -> _CommittedBatches:
        lines, done = self.parse()
        return _CommittedBatches(
            {c["batch_id"] for c in lines} | done, done.int_hwm, done.table_hwms
        )

    def append(self, rec: dict) -> None:
        # Single append = atomic-enough commit point for one writer.
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def rewrite(self, lines: list[dict], done: _CommittedBatches) -> None:
        if done.int_hwm is not None or done.table_hwms or set(done):
            hwm_line = {"type": HWM_TYPE, "int_batch_hwm": done.int_hwm, "ts": time.time()}
            if done.table_hwms:
                hwm_line["table_hwms"] = dict(sorted(done.table_hwms.items()))
            lines = [dict(hwm_line, other_batches=sorted(done, key=str)), *lines]
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(json.dumps(c) + "\n" for c in lines)
        os.replace(tmp, self.path)
        self._cache = None

    def compact(self, keep_last: int, tables=()) -> list[dict] | None:
        """Truncate the log to its last ``keep_last`` lines, summarizing
        the dropped prefix in one high-water-mark line (see
        :meth:`_CommittedBatches.absorb`; ``tables`` are the view's
        source tables, whose streaming ids summarize per table), so
        every dropped batch id still reads as committed. The kept
        lines, or None when there was nothing to drop."""
        lines, done = self.parse()
        if len(lines) <= keep_last:
            return None
        keep, dropped = lines[-keep_last:], lines[:-keep_last]
        self.rewrite(keep, done.absorb([c["batch_id"] for c in dropped], set(tables)))
        return keep


# Auto-sizing target: one bucket holds ~this many rows, so a touched-
# bucket rewrite stays a bounded quantum of work as the table grows
# (16 fixed buckets would make every MERGE rewrite 1/16 of a 100 TB
# table; ~1M-row buckets keep the rewrite ∝ churn instead).
ROWS_PER_BUCKET = 1_000_000
MIN_BUCKETS, MAX_BUCKETS = 4, 4096


def auto_num_buckets(n_rows: int) -> int:
    """Bucket count ∝ table size: next power of two of
    rows/ROWS_PER_BUCKET, clamped to [MIN_BUCKETS, MAX_BUCKETS]."""
    need = max(1, -(-n_rows // ROWS_PER_BUCKET))
    p = 1
    while p < need:
        p *= 2
    return max(MIN_BUCKETS, min(MAX_BUCKETS, p))


def _bucket_expr(pk: list[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in pk]), F.lit(num_buckets))


def _parquet_files(out_dir: str) -> list[str]:
    """The parquet data files of a written Spark output directory,
    partition subdirectories included. Listed explicitly: pyarrow's
    dataset discovery skips underscore-prefixed paths, which would
    silently drop every ``__bucket=N`` partition dir."""
    return [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(out_dir)
        for f in names
        if f.endswith(".parquet") or (f.startswith("part-") and not f.endswith(".crc"))
    ]


def _delta_stats(out_dir: str) -> tuple[int, list[int], int]:
    """(row count, distinct bucket ids, file count) of a just-written
    delta file, read DRIVER-SIDE from the parquet footers/pages
    (pyarrow) — no Spark job. Deltas are micro-batch-sized (≤
    ROWS_PER_BUCKET by the fold rule), so the single-column scan is
    milliseconds."""
    import pyarrow.dataset as pads

    files = _parquet_files(out_dir)
    if not files:
        return 0, [], 0
    dataset = pads.dataset(files, format="parquet")
    n = dataset.count_rows()
    if n == 0:
        return 0, [], len(files)
    buckets = set()
    for batch in dataset.to_batches(columns=[BUCKET_COL]):
        buckets.update(batch.column(0).unique().to_pylist())
    return n, sorted(int(b) for b in buckets), len(files)


# Above this many keys, a literal IN list is replaced by a min/max
# range: Catalyst's analysis walks an In expression's children per
# rule, so a 15k-literal IN costs SECONDS of driver-side JVM time per
# query (measured: ~10s/batch of pure planning gap at sf10, across the
# retraction + dim-lookup filters). The range is a SUPERSET filter
# with O(1) literals — callers join exactly afterwards (the documented
# contract), and parquet row-group min/max stats prune on a range at
# least as well as on a scattered IN.
MAX_IN_LIST = 1000

# Broadcast-safety bound for the merge-on-read reconciliation's distinct
# key set: at ~16 bytes/key this is ~8 MB serialized — inside Spark's
# default 10 MB autoBroadcastJoinThreshold. A chain whose recorded
# change-row total exceeds this (an oversized batch's pre-fold delta)
# joins unhinted instead, degrading to a shuffle rather than a
# driver-side collect that OOMs at scale.
BROADCAST_KEYS_MAX = 500_000

# One shared executor for every store's background folds (was one
# single-thread pool PER STORE, never shut down — a long-lived process
# opening many ephemeral stores leaked a thread each). The per-store
# single-writer invariant does not live here: it is enforced by
# merge() awaiting the store's own in-flight fold future before
# touching the chain, so a shared pool is safe and bounds the process
# to a fixed thread count however many stores exist.
_FOLD_POOL = None
_FOLD_POOL_LOCK = threading.Lock()


def _shared_fold_pool():
    from concurrent.futures import ThreadPoolExecutor

    global _FOLD_POOL
    with _FOLD_POOL_LOCK:
        if _FOLD_POOL is None:
            _FOLD_POOL = ThreadPoolExecutor(
                max_workers=8, thread_name_prefix="store-fold"
            )
        return _FOLD_POOL


def _in_filter(col: str, vals):
    """``col IN (vals)`` (small sets) or ``col BETWEEN min AND max``
    (large sets) as ONE Catalyst expression. ``Column.isin`` builds a
    literal per value — one py4j round-trip each, so a few-hundred-key
    retraction filter cost ~0.3s of driver latency per refresh just
    constructing the predicate. Int and string key sets (every store
    PK here) render as a single SQL text parsed JVM-side; anything
    else falls back to isin."""
    vs = list(vals)
    ints = vs and all(isinstance(v, int) and not isinstance(v, bool) for v in vs)
    strs = not ints and vs and all(isinstance(v, str) for v in vs)
    # Spark's SQL parser unescapes backslash sequences inside string
    # literals (escapedStringLiterals=false by default), so a raw
    # backslash must itself be escaped BEFORE quote-doubling —
    # otherwise a key like "a\\b" silently drops out of the predicate
    # and a retraction/dim lookup misses rows (wrong MV state).
    q = lambda s: "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"  # noqa: E731
    if len(vs) > MAX_IN_LIST and (ints or strs):
        lo, hi = min(vs), max(vs)
        if ints:
            return F.expr(f"`{col}` BETWEEN {lo} AND {hi}")
        return F.expr(f"`{col}` BETWEEN {q(lo)} AND {q(hi)}")
    if ints:
        return F.expr(f"`{col}` IN ({','.join(str(v) for v in vs)})")
    if strs:
        body = ",".join(q(v) for v in vs)
        return F.expr(f"`{col}` IN ({body})")
    return F.col(col).isin(vs)


def _assert_pk_not_null(df: DataFrame, pk: list[str]) -> DataFrame:
    """PRIMARY KEY implies NOT NULL (as in SQL, and as in the
    reference's integer handle, FlinkTikvProducer.java:77-79): a
    NULL-keyed row could never be addressed for retraction — the PK
    joins across the engine are null-unsafe by design — so it fails
    the job loudly here instead of silently becoming an immortal row.
    Lineage-embedded (codegen'd conditional); costs nothing."""
    guard = df
    for c in pk:
        guard = guard.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
                F.raise_error(F.lit(f"NULL primary-key column '{c}' in keyed store"))
            ),
        )
    return guard


class MergedBatch:
    """One batch as a store merged it — what :meth:`KeyedParquetStore.merge`
    returns. ``rows`` is the change-row count the merge recorded (None
    when the batch's line carries no merge stats). Neither frame is
    built until it is asked for, so a merge whose caller ignores the
    record costs no extra driver time. ``project``, when given, maps
    both frames (a cascade mirror's column projection)."""

    def __init__(self, store: "KeyedParquetStore", batch_id, changes: DataFrame, project=None):
        self._store, self._batch_id, self._input = store, batch_id, changes
        self._stats = store._batch_stats(batch_id)
        self.rows = self._stats.get("change_rows")
        self._project = project or (lambda df: df)
        self._changes: DataFrame | None = None

    def changes(self) -> DataFrame:
        """The batch's change rows: the delta parquet the merge wrote,
        or the input when it wrote none (an empty batch). Consumers
        after the merge should read these, not the input: the — often
        expensive — changelog lineage then runs exactly once, inside
        the merge, and everything after it scans a micro-batch-sized
        parquet."""
        if self._changes is None:
            delta = self._store.batch_delta(self._batch_id)
            self._changes = self._project(self._input if delta is None else delta)
        return self._changes

    def column_values(self, col: str):
        """Distinct values of ``col`` in the batch's change rows, read
        driver-side (see :meth:`KeyedParquetStore.batch_column_values`);
        None when unavailable or too many."""
        return self._store.batch_column_values(self._batch_id, col)

    def displaced(self) -> DataFrame:
        """The pre-batch rows of exactly the keys in :meth:`changes` —
        the old versions a retraction or a dirty-key derivation needs.
        Read from the version before the batch, pruned to the buckets
        its change rows hash into and IN-filtered on their first PK
        column (O(touched buckets), not a table scan; the whole
        pre-batch version when the buckets are unknown), then
        semi-joined to the changed PKs, broadcast while the batch stays
        within BROADCAST_KEYS_MAX rows."""
        store, pk = self._store, self._store.pk
        before = store.version_before_batch(self._batch_id)
        buckets = self._stats.get("batch_buckets")
        if buckets is None:
            old = store.read(before)
        else:
            kv = self.column_values(pk[0])
            keys = None if kv is None else (pk[0], kv)
            old = store.read_buckets(buckets, before, key_filter=keys)
        keys = self.changes().select(*pk).distinct()
        if self.rows is not None and self.rows <= BROADCAST_KEYS_MAX:
            keys = F.broadcast(keys)
        return self._project(old.join(keys, pk, "left_semi"))


class KeyedParquetStore:
    """A PK-keyed table with MERGE semantics and versioned commits.

    ``num_buckets=None`` (the default) auto-sizes from the bootstrap
    row count via :func:`auto_num_buckets`; the resolved count persists
    in the commit manifest, so every later open of the same store —
    whatever the constructor argument — reuses the committed layout
    (changing the bucket count mid-life would silently break pruning).

    A view's maintenance routes never construct stores themselves: they
    open them through the view's :class:`StoreSet`, which lists what it
    opened for compaction, vacuum and the refresh settings.
    """

    def __init__(
        self, spark: SparkSession, path: str, pk: list[str], num_buckets: int | None = None
    ):
        # The session the store was opened with (the view's, via its
        # StoreSet); ``spark`` resolves the running job's maintenance
        # session from it on every use. Opening creates the directory
        # and reads an existing manifest — no Spark job runs.
        self._spark = spark
        self.path = path
        self.pk = list(pk)
        self._log = _BatchLines(os.path.join(path, COMMITS_FILE))
        # (session, version, chain) -> built DataFrame. Plans are
        # immutable and a refresh re-reads the same committed version
        # several times (old-state read, dim read, target diff);
        # rebuilding the multi-path scan + MOR-chain reconciliation
        # costs ~0.1-0.25s of driver latency each time. Keyed by the
        # session the frame was built on, so a read always runs under
        # the current job's settings and a mid-batch re-tune costs a
        # rehome of each write, not of each read. Bounded: new
        # versions evict.
        self._read_cache: dict[tuple, DataFrame] = {}
        # In-flight asynchronous fold (see merge): at most one; the
        # next merge of this store awaits it before touching the chain.
        self._fold_future = None
        os.makedirs(path, exist_ok=True)
        committed = self._commits()
        if committed:
            # manifests predating auto-sizing carry no count: legacy 16
            self.num_buckets = committed[-1].get("num_buckets", 16)
        else:
            self.num_buckets = num_buckets  # None -> resolved at bootstrap

    @property
    def spark(self) -> SparkSession:
        """The maintenance session of the job running in this context
        (session.maintenance_session): every chain read is constructed
        on it and every merge or bootstrap write is rehomed onto it, so
        each job runs under its own fixed AQE/codegen/shuffle settings
        and none of them reaches a user query on the original session."""
        return maintenance_session(self._spark)

    # -- manifest -----------------------------------------------------------

    @property
    def _commits_path(self) -> str:
        return self._log.path

    def _commits(self) -> list[dict]:
        return self._log.parse()[0]

    def _commit_at(self, version: int | None) -> dict:
        """The manifest line of committed ``version`` (None: the latest)."""
        commits = self._commits()
        if not commits:
            raise FileNotFoundError(f"store at {self.path} has no committed version")
        if version is None:
            return commits[-1]
        matches = [c for c in commits if c["version"] == version]
        if not matches:
            raise KeyError(f"version {version} not in manifest")
        return matches[-1]

    def _batch_stats(self, batch_id) -> dict:
        """The merge stats recorded by ``batch_id``'s line ({} for a
        line without them, or when the batch has no line here)."""
        for c in reversed(self._commits()):
            if c["batch_id"] == batch_id:
                return c.get("stats") or {}
        return {}

    def _delta_stats_of(self, rel: str) -> dict:
        """The merge stats of the line that wrote delta ``rel`` ({} for
        legacy lines): its pinned schema and change-row count."""
        for c in reversed(self._commits()):
            st = c.get("stats") or {}
            if st.get("delta_rel") == rel:
                return st
        return {}

    def _batch_delta_dir(self, batch_id, max_rows: int | None = None) -> tuple[str, dict] | None:
        """(directory, stats) of ``batch_id``'s delta parquet; None when
        the batch wrote none, it was vacuumed, or it recorded more than
        ``max_rows`` change rows."""
        st = self._batch_stats(batch_id)
        rel = st.get("delta_rel")
        if not rel or (max_rows is not None and st.get("change_rows", 0) > max_rows):
            return None
        out = os.path.join(self.path, rel)
        return (out, st) if os.path.isdir(out) else None

    def committed_batches(self) -> set:
        return self._log.committed()

    def current_version(self) -> int | None:
        commits = self._commits()
        return commits[-1]["version"] if commits else None

    def recent_commits(self, n: int = 8) -> list[dict]:
        """The last ``n`` commits' observability records (newest last):
        batch id, version, timestamp, and the merge stats captured at
        commit time — what MVApp.describe() surfaces as the per-batch
        refresh history (the coordinator-visibility analog,
        GrpcService.java:87-135)."""
        out = []
        for c in self._commits()[-n:]:
            rec = {
                "batch_id": c["batch_id"],
                "version": c["version"],
                "ts": c.get("ts"),
            }
            if c.get("stats"):
                rec.update(c["stats"])
            out.append(rec)
        return out

    def _commit(
        self,
        batch_id,
        version: int,
        buckets: dict[int, str],
        schema_json: str,
        stats: dict | None = None,
        deltas: list[str] | None = None,
        delta_buckets: list[int] | None = None,
    ) -> None:
        # ``stats`` is the refresh-ops observability record (round-7
        # verdict #8 — the engine-side analog of the coordinator's txn
        # visibility, GrpcService.java:87-135): per-batch merge
        # wall-time and touched-work counts, free to capture because
        # the bucket-discovery action already runs. Readers .get() it;
        # absent on legacy lines and bootstraps.
        # ``deltas`` is the merge-on-read chain (ordered, oldest first)
        # this version's reads must reconcile over the base buckets;
        # ``delta_buckets`` the union of buckets those deltas touch
        # (recorded so the eventual fold rewrites exactly those). Every
        # commit line is a COMPLETE snapshot description — time travel
        # and crash replay read any line standalone.
        self._log.append(
            {
                "batch_id": batch_id,
                "version": version,
                "buckets": {str(k): v for k, v in buckets.items()},
                "schema": schema_json,
                "num_buckets": self.num_buckets,
                "ts": time.time(),
                **({"stats": stats} if stats else {}),
                **(
                    {
                        "deltas": list(deltas),
                        "delta_buckets": sorted(int(b) for b in (delta_buckets or [])),
                    }
                    if deltas
                    else {}
                ),
            }
        )

    # -- read ---------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Current state, or time-travel to an earlier committed version —
        the 'Stale Snapshot Isolation' read the reference's ordered
        commits provide (README.md:18-22). When the version carries a
        merge-on-read delta chain, the read reconciles base ∪ deltas
        (latest row per PK wins, deletes drop); a delta-free version is
        a plain bucket scan."""
        commit = self._commit_at(version)
        deltas = commit.get("deltas") or []
        ck = (self.spark, commit["version"], tuple(deltas))
        cached = self._read_cache.get(ck)
        if cached is not None:
            return cached
        base = self._read_base(commit)
        out = base if not deltas else self._apply_deltas(base, deltas)
        if len(self._read_cache) > 8:
            self._read_cache.clear()
        self._read_cache[ck] = out
        return out

    def read_before(self, batch_id) -> DataFrame:
        """The state ``batch_id``'s changes apply to: the version
        committed just before it when the batch already committed here
        (a store another level of the view merged first), the current
        state otherwise."""
        return self.read(self.version_before_batch(batch_id))

    def batch_delta(self, batch_id) -> DataFrame | None:
        """The materialized change rows of ``batch_id``'s merge — the
        delta parquet that merge's single write action produced —
        re-read as a DataFrame (bucket column dropped); None when the
        batch wrote none, or it was vacuumed. Routes reach it through
        :meth:`MergedBatch.changes`; a cascade's outer level reads the
        inner target's as its changelog (the store as a CDC SOURCE —
        the reference chains MVs the same way: every MV table is itself
        a TiKV table another TiFlinkApp can consume, README.md:8-16)."""
        found = self._batch_delta_dir(batch_id)
        if found is None:
            return None
        out, st = found
        # Schema pinned from the merge-time record (the change lineage's
        # own schema, captured for free): skipping footer inference
        # saves a driver-side job per read-back — a refresh re-binds to
        # the delta two or three times.
        sj = st.get("delta_schema")
        reader = self.spark.read
        if sj:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(sj)))
        return reader.parquet(out).drop(BUCKET_COL, CHAIN_COL)

    def batch_column_values(self, batch_id, col: str, max_values: int = 200_000):
        """Distinct values of ``col`` in ``batch_id``'s change rows,
        read DRIVER-SIDE from the delta parquet (pyarrow, no Spark
        job). Besides the PK retraction filter this serves the dim-
        lookup pruning of the join routes: the fact delta's FK values
        bound exactly which dim keys the batch can touch. None when
        unavailable, the column is absent, or the set exceeds
        ``max_values``."""
        import pyarrow.dataset as pads

        found = self._batch_delta_dir(batch_id, max_rows=max_values)
        files = _parquet_files(found[0]) if found is not None else []
        if not files:
            return None
        vals = set()
        try:
            for batch in pads.dataset(files, format="parquet").to_batches(columns=[col]):
                vals.update(batch.column(0).to_pylist())
        except Exception:
            # absent column (pyarrow raises its own error types),
            # unreadable file — the contract is "None when
            # unavailable"; callers fall back to the unpruned read
            return None
        vals.discard(None)
        if len(vals) > max_values:
            return None
        return sorted(vals)

    def read_keys(self, col: str, vals: list, version: int | None = None) -> DataFrame:
        """Current state restricted to ``col IN (vals)`` — the filter
        pushed into BOTH the base bucket scan and the delta chain, so
        parquet row-group stats (buckets are PK-sorted) skip everything
        outside the key set. The dim-lookup fast path of the join
        routes: a micro-batch's dim join needs only the dim rows its
        delta references, and a full dim scan per refresh is O(dim),
        not O(δ). Correct as a plain filter only for ``col`` = the
        single PK column (rows outside vals cannot match the caller's
        join anyway — callers join exactly afterwards)."""
        commit = self._commit_at(version)
        base = self._read_base(commit).filter(_in_filter(col, vals))
        deltas = commit.get("deltas") or []
        if not deltas:
            return base
        return self._apply_deltas(base, deltas, key_filter=(col, vals))

    def read_buckets(
        self,
        bucket_ids: list[int],
        version: int | None = None,
        key_filter: tuple[str, list] | None = None,
    ) -> DataFrame:
        """Bucket-pruned read: only the given PK-hash buckets (and the
        matching slice of any delta chain). The retraction fast path —
        an old-row lookup for a batch's keys needs only the buckets
        those keys hash into (MergedBatch.displaced), not the table.
        At scale this is the difference between a per-batch O(touched
        buckets) lookup and a full-table scan per refresh.

        ``key_filter`` = (column, values) additionally pushes an IN
        predicate into the scan — with PK-sorted buckets the parquet
        row-group stats skip everything outside the changed keys, so
        the lookup reads O(churn) row groups even when the keys hash
        into every bucket (hash-spread churn wider than the bucket
        count otherwise reads the whole table). Callers must still
        join exactly (the filter is a superset by first PK column)."""
        commit = self._commit_at(version)
        ids = {str(int(b)) for b in bucket_ids}
        paths = sorted(
            os.path.join(self.path, rel)
            for b, rel in commit["buckets"].items()
            if b in ids
        )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(commit["schema"]))
        if paths:
            base = self.spark.read.schema(schema).parquet(*paths)
        else:
            base = self.spark.createDataFrame([], schema)
        if key_filter is not None:
            col, vals = key_filter
            base = base.filter(_in_filter(col, vals))
        deltas = commit.get("deltas") or []
        if not deltas:
            return base
        want = [int(b) for b in bucket_ids]
        return self._apply_deltas(
            base, deltas, bucket_filter=want, key_filter=key_filter
        )

    def _read_base(self, commit: dict) -> DataFrame:
        paths = sorted(
            {os.path.join(self.path, rel) for rel in commit["buckets"].values()}
        )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(commit["schema"]))
        if not paths:  # every row deleted — empty state with the stored schema
            return self.spark.createDataFrame([], schema)
        # Schema pinned from the commit line: bucket files carry exactly
        # the committed schema (the partition column lives in the
        # directory name), and skipping inference saves a driver-side
        # footer read per store read — a refresh touches several stores
        # several times, so this is a measurable slice of per-batch
        # latency at the reference's 1s cadence.
        return self.spark.read.schema(schema).parquet(*paths)

    def _apply_deltas(
        self,
        base: DataFrame,
        deltas: list[str],
        bucket_filter: list[int] | None = None,
        key_filter: tuple[str, list] | None = None,
    ) -> DataFrame:
        """Reconcile the merge-on-read chain over ``base``: per PK the
        LATEST delta row wins (chain position, then ``__seq`` within a
        batch); a winning delete drops the key. One window + one
        anti-join — delta volume is bounded by MAX_PENDING_DELTAS
        micro-batches, so the overhead is O(δ), not O(table).
        ``bucket_filter`` restricts the chain to the given buckets (the
        read_buckets pruned path — pushed down to the delta parquet)."""
        from pyspark.sql import Window

        # ONE multi-path read for the whole chain (k separate reads
        # paid k footer inferences + a k-leg union plan). Chain order is
        # recovered from the file path: delta rels are data/v{N} with N
        # the commit version, monotone along the chain — so the version
        # number IS the chain index. (Fold dirs are v{N}f and never
        # appear in a chain.) The read pins the merge-time schema when
        # every chain member recorded the SAME one — no footer job;
        # heterogeneous or legacy chains fall back to inference.
        reader = self.spark.read
        stats = [self._delta_stats_of(rel) for rel in deltas]
        sjs = {st.get("delta_schema") for st in stats}
        uniform = len(sjs) == 1 and None not in sjs
        if uniform:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(next(iter(sjs)))))
        d = reader.parquet(*[os.path.join(self.path, rel) for rel in deltas])
        # chain position: the CHAIN_COL literal each merge writes into
        # its delta (data-borne, safe under any plan shape), also when
        # the members recorded different schemas (a column non-nullable
        # in one delta and nullable in the next) — a SINGLE-delta chain
        # (the steady state between folds) needs no position column at
        # all, which trims both the driver-side construction (this
        # method runs several times per refresh batch) and a sort key
        # from the window below. Legacy chains whose files predate the
        # column recover it from the file path — correct ONLY while the
        # plan keeps one file source per stage (input_file_name's
        # documented limitation); every fold or compact retires such
        # chains.
        if len(deltas) > 1:
            if CHAIN_COL in d.columns:
                d = d.withColumn("__didx", F.col(CHAIN_COL))
            else:
                d = d.withColumn(
                    "__didx",
                    F.regexp_extract(
                        F.input_file_name(), r"data/v(\d+)/", 1
                    ).cast("long"),
                )
        if bucket_filter is not None:
            d = d.filter(_in_filter(BUCKET_COL, bucket_filter))
        if key_filter is not None:
            d = d.filter(_in_filter(key_filter[0], key_filter[1]))
        order = (
            [F.col("__didx").desc(), F.col(SEQ_COL).desc()]
            if len(deltas) > 1
            else [F.col(SEQ_COL).desc()]
        )
        w = Window.partitionBy(*self.pk).orderBy(*order)
        last = d.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
        cols = base.columns
        live = last.filter(F.col(OP_COL) != OP_DELETE).select(*cols)
        # The chain's key set is USUALLY bounded by MAX_PENDING_DELTAS
        # micro-batches — broadcast it so the base scan never shuffles
        # (the reconciliation is then a map-side anti join over the
        # bucket files, whatever partition count the batch is tuned to).
        # But an oversized batch (> ROWS_PER_BUCKET change rows) commits
        # a table-scale delta before its fold completes, and a reader —
        # the fold itself, or anyone after a crash mid-fold — would then
        # broadcast (= collect to the driver) a table-scale key set and
        # OOM instead of degrading to a shuffle join. Gate the hint on
        # the chain's RECORDED row counts (manifest stats carry
        # change_rows per delta); unknown counts (legacy lines) are
        # treated as unbounded.
        # (A literal NOT-IN fast path replacing this anti-join was
        # measured and REJECTED here: embedding the chain's key values
        # as In-literals made every downstream action's Catalyst
        # analysis walk the list — +0.8s/batch at a few hundred keys,
        # the same pathology MAX_IN_LIST guards against. The broadcast
        # job is cheaper than literal-laden plans.)
        keys = last.select(*self.pk).distinct()
        counts = [st.get("change_rows") for st in stats]
        bounded = all(c is not None for c in counts) and sum(counts) <= BROADCAST_KEYS_MAX
        if bounded:
            keys = F.broadcast(keys)
        return base.join(keys, self.pk, "left_anti").unionByName(live)

    # -- maintenance ---------------------------------------------------------

    def compact(self, batch_id="__compact__") -> int:
        """Rewrite the current state as one fresh full version. A long-
        running MV accumulates versions whose buckets point at many old
        files; compaction collapses the live state into new files (the
        OPTIMIZE of a Delta-style table). History stays readable until
        vacuumed."""
        self._await_fold()
        current = self.read()
        commits = self._commits()
        version = commits[-1]["version"] + 1
        bucketed = current.withColumn(BUCKET_COL, _bucket_expr(self.pk, self.num_buckets))
        rel = self._write_buckets(bucketed, version)
        buckets = {b: f"{rel}/{BUCKET_COL}={b}" for b in self._present_buckets(rel)}
        n_rows = self._dir_rows(rel)
        self._commit(
            f"{batch_id}-{version}", version, buckets, commits[-1]["schema"],
            stats={"mode": "compact", "table_rows": n_rows}
            if n_rows is not None
            else None,
        )
        return version

    def vacuum(self, keep_last: int = 1, tables=()) -> list[str]:
        """Compact the manifest to its last ``keep_last`` versions, then
        delete the version data directories only dropped lines
        referenced. ``tables``: the view's source tables, whose
        streaming batch ids the compaction summarizes per table.

        Without compaction the manifest grows one JSON line per batch
        and is re-read driver-side on every store open — at the
        reference's 1s refresh cadence (TiFlinkExample.java:22-23)
        that is ~86k lines/day/store. Truncation preserves batch-id
        idempotence exactly (:meth:`_BatchLines.compact`):
        :meth:`committed_batches` treats any integer id <= the dropped
        prefix's high-water mark as committed — sound because the
        engine commits one manifest line per processed batch (empty
        deltas included) and streaming batch ids are monotone."""
        import shutil

        self._await_fold()
        keep = self._log.compact(keep_last, tables)
        if keep is None:
            return []
        live_dirs = {rel.split(f"/{BUCKET_COL}=")[0] for c in keep for rel in c["buckets"].values()}
        # kept versions' merge-on-read delta files are live data too
        live_dirs |= {rel for c in keep for rel in (c.get("deltas") or [])}
        data_root = os.path.join(self.path, "data")
        removed = []
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                rel = f"data/{d}"
                if rel not in live_dirs:
                    shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                    removed.append(rel)
        return removed

    def version_before_batch(self, batch_id) -> int | None:
        """Version committed immediately before ``batch_id``'s commit —
        the snapshot a later reader of that batch diffs against — or the
        current version when the batch has no line here. A batch
        swallowed by a past manifest compaction (committed per the
        high-water mark but its line truncated) raises loudly: its
        pre-state was vacuumed with the manifest tail, so a diff
        against it would be silently wrong."""
        commits, done = self._log.parse()
        prev = None
        for c in commits:
            if c["batch_id"] == batch_id:
                return prev
            prev = c["version"]
        if batch_id in done:
            raise KeyError(
                f"batch {batch_id!r} predates the manifest compaction window; "
                "its pre-state is no longer reconstructable"
            )
        return prev

    def rollback(self, batch_id) -> None:
        """Drop what an unfinished attempt at ``batch_id`` committed
        here — its manifest line and every later one, which may only be
        this store's own folds — so the batch reruns from the state
        before it (see :func:`run_batch`). The rerun reuses the dropped
        versions' ``data/v{n}`` paths, so the read cache is cleared."""
        if all(c["batch_id"] != batch_id for c in self._commits()):
            return
        self._await_fold()  # the attempt's fold appends to the tail
        commits, done = self._log.parse()
        i = next(i for i, c in enumerate(commits) if c["batch_id"] == batch_id)
        later = sorted({str(c["batch_id"]) for c in commits[i + 1:]})
        if any(not b.startswith("__fold__") for b in later):
            raise ValueError(
                f"store {self.path}: batch {batch_id!r} is not in the view's batch log, "
                f"but later batches {later} committed after it (a skipped unfinished "
                "batch, or a view written before it had a batch log)"
            )
        self._log.rewrite(commits[:i], done)
        self._read_cache.clear()

    # -- write --------------------------------------------------------------

    def _write_buckets(self, df: DataFrame, version: int) -> str:
        """Write df (with BUCKET_COL) partitioned by bucket under
        v{version}. Rows are sorted by PK within each bucket so parquet
        row-group min/max stats prune PK-IN lookups (the retraction
        fast path): without the sort, a scattered key set defeats
        row-group pruning and an old-row lookup degrades to reading
        every touched bucket in full."""
        rel = f"data/v{version}"
        out = os.path.join(self.path, rel)
        (
            df.repartition(BUCKET_COL)
            .sortWithinPartitions(*self.pk)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out)
        )
        return rel

    def bootstrap(self, df: DataFrame, batch_id=0) -> bool:
        """Publish the initial full state (MV bootstrap, TiFlinkApp.java:105-116).
        An existing store attaches, unless it was written with another key."""
        if batch_id in self.committed_batches():
            fields = json.loads(self._commit_at(None)["schema"])["fields"]
            missing = set(k.lower() for k in self.pk) - {f["name"].lower() for f in fields}
            if missing:
                raise ValueError(
                    f"store at {self.path} has no key column {sorted(missing)}: it was "
                    "written with another key; delete the view and bootstrap it again"
                )
            return False
        df = rehome(df, self.spark)  # write runs under the job's session
        if self.num_buckets is None:
            self.num_buckets = auto_num_buckets(df.count())
        version = (self.current_version() or 0) + 1 if self._commits() else 0
        df = _assert_pk_not_null(df, self.pk)
        bucketed = df.withColumn(BUCKET_COL, _bucket_expr(self.pk, self.num_buckets))
        rel = self._write_buckets(bucketed, version)
        buckets = {b: f"{rel}/{BUCKET_COL}={b}" for b in self._present_buckets(rel)}
        n_rows = self._dir_rows(rel)
        self._commit(
            batch_id, version, buckets, df.schema.json(),
            stats={"mode": "bootstrap", "table_rows": n_rows}
            if n_rows is not None
            else None,
        )
        return True

    def _dir_rows(self, rel: str) -> int | None:
        """Total row count of a written version dir, read DRIVER-SIDE
        from parquet footers (no Spark job — metadata only)."""
        try:
            import pyarrow.dataset as pads

            files = _parquet_files(os.path.join(self.path, rel))
            if not files:
                return 0
            return pads.dataset(files, format="parquet").count_rows()
        except Exception:
            return None

    def bootstrap_rows(self) -> int | None:
        """The table-scale signal recorded at bootstrap (and refreshed
        by compact): parquet-footer row count, no job. mv._maintenance
        uses it to decide whether a refresh can afford interpreted
        (codegen-off) execution — a pruning-hostile batch can scan the
        store whole. None for manifests predating the stat."""
        for c in reversed(self._commits()):
            st = c.get("stats") or {}
            if st.get("table_rows") is not None:
                return st["table_rows"]
        return None

    def _present_buckets(self, rel: str) -> list[int]:
        base = os.path.join(self.path, rel)
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith(f"{BUCKET_COL}=")
        )

    def merge(self, changes: DataFrame, batch_id) -> "MergedBatch":
        """MERGE an upsert-changelog batch (``__op``/``__seq`` columns)
        into the store.

        Merge-on-read: a micro-batch appends its change rows as ONE
        small delta file — O(δ) write work, where bucket copy-on-write
        would rewrite ~min(|changes|, num_buckets) whole buckets for
        hash-spread churn. Reads reconcile the chain; when it reaches
        MAX_PENDING_DELTAS (or a batch exceeds a bucket's worth of
        rows) the merge FOLDS instead: it rewrites exactly the buckets
        the chain touched and clears it — the Hudi-MOR / Paimon-LSM
        compaction contract.

        Returns the merged batch (:class:`MergedBatch`). A batch_id
        already committed here writes nothing and returns that batch's
        record — the idempotence that makes streaming redelivery
        exactly-once, and how the second route to merge one batch into
        a shared store gets the first one's change rows.
        """
        if batch_id in self.committed_batches():
            return MergedBatch(self, batch_id, changes)
        # A fold scheduled by an earlier merge may still be running in
        # its background thread; the chain (and the manifest tail) must
        # not move under it, so the next merge of this store is the
        # synchronization point. By then the fold has had the whole
        # inter-batch window — at the reference's 1s cadence it is
        # effectively free instead of a periodic latency spike on the
        # batch that happens to trip the chain bound.
        self._await_fold()
        t0 = time.monotonic()
        commits = self._commits()
        if not commits:
            raise RuntimeError("merge() before bootstrap()")
        missing = {OP_COL, SEQ_COL, *self.pk} - set(changes.columns)
        if missing:
            raise ValueError(f"changelog batch missing columns {sorted(missing)}")
        # Run the delta write under the job's maintenance session,
        # wherever the changelog lineage was built.
        # Contract guards ride the lineage (fail the job on an op
        # outside +I/+U/-D, or a NULL PK — an unaddressable row —
        # instead of silently corrupting the view).
        guarded = assert_valid_ops(_assert_pk_not_null(rehome(changes, self.spark), self.pk))
        last = commits[-1]
        prev = last["buckets"]
        prev_deltas = list(last.get("deltas") or [])
        prev_dbuckets = set(last.get("delta_buckets") or [])
        version = last["version"] + 1
        schema_json = last["schema"]

        # ONE Spark action per merge: write the change rows as a delta
        # file (this executes the — often expensive — changes lineage
        # exactly once), then read row count and touched buckets
        # DRIVER-SIDE from the written parquet footers. The old
        # two-action shape (bucket-discovery collect + write) paid the
        # whole lineage and a job round-trip twice per merge — at
        # micro-batch deltas that fixed cost dominated refresh latency.
        # The repartition on the bucket column bounds the delta's FILE
        # count to the touched buckets instead of the changes lineage's
        # native partitioning (which writes one tiny file per upstream
        # task — chain reads then pay per-file open cost); it shuffles
        # only δ rows and, unlike coalesce, leaves the upstream stages'
        # parallelism intact.
        rel = f"data/v{version}"
        out = os.path.join(self.path, rel)
        bucketed = guarded.withColumn(
            BUCKET_COL, _bucket_expr(self.pk, self.num_buckets)
        ).withColumn(CHAIN_COL, F.lit(version))
        # the write's own analyzed schema — recorded so every read-back
        # (batch_delta, chain reads) can pin it instead of paying a
        # footer-inference job
        delta_schema = bucketed.schema.json()
        bucketed.repartition(BUCKET_COL).write.mode("overwrite").parquet(out)
        n_change_rows, changed, n_files = _delta_stats(out)

        def stats(mode: str, touched: int, pending: int, bks: list[int]) -> dict:
            return {
                "change_rows": n_change_rows,
                "touched_buckets": touched,
                "mode": mode,
                "pending_deltas": pending,
                "merge_secs": round(time.monotonic() - t0, 3),
                # the buckets THIS batch's keys hash into — the pruning
                # handle for post-merge retraction lookups
                # (read_buckets): an old-row lookup for this batch's
                # keys needs only these buckets, not the table.
                "batch_buckets": bks,
                # the materialized change rows (delta read-back handle
                # for batch_delta), their file count (chain-read
                # overhead observability), and their pinned schema
                **(
                    {
                        "delta_rel": rel,
                        "delta_files": n_files,
                        "delta_schema": delta_schema,
                    }
                    if n_change_rows
                    else {}
                ),
            }

        if not changed:
            self._commit(
                batch_id, version, prev, schema_json,
                stats=stats("noop", 0, len(prev_deltas), []),
                deltas=prev_deltas or None,
                delta_buckets=sorted(prev_dbuckets),
            )
            return MergedBatch(self, batch_id, changes)

        chain = [*prev_deltas, rel]
        chain_buckets = prev_dbuckets | set(changed)
        if n_change_rows <= ROWS_PER_BUCKET:
            # Delta append: O(δ) write, base buckets untouched. The
            # batch COMMITS even when the chain trips its bound — the
            # fold runs in a background thread and lands as its own
            # maintenance commit, so chain compaction never sits on a
            # batch's latency (it gets the whole inter-batch window;
            # the next merge awaits it). Readers meanwhile reconcile
            # the slightly longer chain — bounded by MAX+1, since the
            # next merge is the synchronization point.
            self._commit(
                batch_id, version, prev, schema_json,
                stats=stats("delta", len(changed), len(chain), list(changed)),
                deltas=chain,
                delta_buckets=sorted(chain_buckets),
            )
            if len(chain) > MAX_PENDING_DELTAS:
                self._schedule_fold()
            return MergedBatch(self, batch_id, changes)

        # Oversized batch (a bucket's worth of rows or more): fold
        # synchronously — the batch itself is bucket-scale work, and
        # appending it as a "delta" would make every read reconcile a
        # table-sized chain member.
        touched = sorted(chain_buckets)
        self._commit(
            batch_id, version, prev, schema_json,
            stats=stats("fold", len(touched), 0, list(changed)),
            deltas=chain,
            delta_buckets=sorted(chain_buckets),
        )
        self._fold_chain()
        return MergedBatch(self, batch_id, changes)


    # -- chain folding --------------------------------------------------------

    def _schedule_fold(self) -> None:
        """Run :meth:`_fold_chain` on the shared background pool, under
        the settings of the merge that scheduled it (the context copy
        carries the job's session.JOB value into the fold thread).
        At most one in flight per store; the next merge awaits it
        (single-writer stays single-writer — the manifest tail cannot
        move under a running fold because only merge/fold append to it
        and merge is the awaiter)."""
        self._fold_future = _shared_fold_pool().submit(
            contextvars.copy_context().run, self._fold_chain
        )

    def _await_fold(self) -> None:
        fut, self._fold_future = self._fold_future, None
        if fut is not None:
            fut.result()  # propagate a failed fold loudly

    def _fold_chain(self) -> None:
        """Reconcile the pending merge-on-read chain over exactly the
        buckets it touches, rewrite those, clear it — the Hudi-MOR /
        Paimon-LSM compaction step, committed as its own maintenance
        line (``__fold__<version>``). Every commit line remains a
        complete snapshot, so a crash mid-fold just leaves the chain
        for the next trigger. A store whose directory disappears
        mid-fold (an ephemeral gate/test tearing down its work dir
        after reading its result) abandons silently — best-effort
        maintenance, nothing to maintain; every other failure
        propagates at the next merge's _await_fold."""
        try:
            self._fold_chain_inner()
        except Exception:
            # the manifest is the store's identity; a Spark write can
            # recreate data/ dirs under a deleted path, but never this
            if os.path.isfile(self._commits_path):
                raise

    def _fold_chain_inner(self) -> None:
        last = self._commits()[-1]
        chain = list(last.get("deltas") or [])
        if not chain:
            return
        t0 = time.monotonic()
        prev = last["buckets"]
        schema_json = last["schema"]
        version = last["version"] + 1
        touched = sorted(set(last.get("delta_buckets") or []))
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(schema_json))
        touched_paths = [
            os.path.join(self.path, prev[str(b)]) for b in touched if str(b) in prev
        ]
        if touched_paths:
            base = self.spark.read.schema(schema).parquet(*touched_paths)
        else:
            base = self.spark.createDataFrame([], schema)
        merged = self._apply_deltas(base, chain)
        bucketed = merged.withColumn(BUCKET_COL, _bucket_expr(self.pk, self.num_buckets))
        # distinct dir: data/v{N}f — the fold lazily READS the chain's
        # data/v{M} deltas, so it must not overwrite any of them
        rel2 = self._write_buckets(bucketed, f"{version}f")
        buckets = dict(prev)
        written = set(self._present_buckets(rel2))
        for b in touched:
            if b in written:
                buckets[str(b)] = f"{rel2}/{BUCKET_COL}={b}"
            else:
                # bucket emptied by deletes
                buckets.pop(str(b), None)
        self._commit(
            f"__fold__{version}",
            version,
            buckets,
            schema_json,
            stats={
                "mode": "fold",
                "touched_buckets": len(touched),
                "folded_deltas": len(chain),
                "pending_deltas": 0,
                "merge_secs": round(time.monotonic() - t0, 3),
            },
        )


class StoreSet:
    """The keyed stores of one view, opened through the view that owns
    them (TiFlinkApp likewise builds and owns its source and sink
    connectors; Flink operators register state with a backend instead
    of holding it unlisted).

    :meth:`open` opens ``root/name`` with the view's bucket count and
    remembers it: :attr:`all` is what compaction and vacuum walk,
    :attr:`scale` the source-scale stores whose bootstrap size decides
    whether a refresh keeps whole-stage codegen on (mv._job_settings).
    A nested route — a set-op side, a grouping set, a join aggregate's
    inner aggregate — opens under :meth:`under`, a subdirectory that
    shares the view's lists, so the view's job settings cover it.

    ``offers`` maps a store name to a store another owner maintains;
    :meth:`open` returns it instead of opening ``root/name``, and
    :attr:`all` leaves it out (its owner compacts it), while
    ``scale=True`` still lists it. A grouping set is offered the shared
    fact store; a cascade's outer route is offered the inner level's
    target as its mirror of the derived table.

    :attr:`log` is the view's batch log, ``root/_mv_batches``: a set
    made by :meth:`under` shares its root's log (see :func:`run_batch`)."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int | None = None, offers=None):
        self._spark = spark
        self.root = root
        self.num_buckets = num_buckets
        self.offers = dict(offers or {})
        self.log = _BatchLines(os.path.join(root, BATCHES_FILE))
        # path -> store; shared with every set made by under()
        self._all: dict[str, KeyedParquetStore] = {}
        self._scale: dict[str, object] = {}

    def open(self, name: str, pk: list[str], scale: bool = False):
        store = self.offers.get(name)
        if store is None:
            store = KeyedParquetStore(
                self._spark, os.path.join(self.root, name), pk, self.num_buckets
            )
            self._all[store.path] = store
        if scale:
            self._scale[store.path] = store
        return store

    def under(self, name: str, offers=None) -> "StoreSet":
        sub = StoreSet(self._spark, os.path.join(self.root, name), self.num_buckets, offers)
        sub._all, sub._scale, sub.log = self._all, self._scale, self.log
        return sub

    @property
    def all(self) -> list[KeyedParquetStore]:
        return list(self._all.values())

    @property
    def scale(self) -> list:
        return list(self._scale.values())


# True while a view's batch runs (run_batch): nested maintenance calls —
# cascade levels, set-op sides, grouping-set subs, the join aggregate's
# inner route, thread-pool work carrying the context — run only their step.
_IN_BATCH: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "tiflink_in_batch", default=False
)


def run_batch(log: _BatchLines, stores: list[KeyedParquetStore], batch_id, step, refresh: bool):
    """Run ``step`` as batch ``batch_id`` of one view, exactly once.

    The view's batch log is its commit point: a batch is done exactly
    when its id is in ``log`` (appended after ``step`` returns), and
    such a refresh returns False. Any other refresh first rolls back
    what a crashed attempt left in ``stores``, so ``step`` only ever
    sees a first attempt. A bootstrap is never rolled back (its stores
    no-op on their own manifests); an already-logged one, attaching to
    an existing view, runs and logs nothing."""
    if _IN_BATCH.get():
        return step()
    logged = batch_id in log.committed()
    if refresh:
        if logged:
            return False
        for store in stores:
            store.rollback(batch_id)
    token = _IN_BATCH.set(True)
    try:
        out = step()
    finally:
        _IN_BATCH.reset(token)
    if not logged:
        log.append({"batch_id": batch_id, "ts": time.time()})
    return out
