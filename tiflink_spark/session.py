"""SparkSession construction and test-table loading.

Tuned for the harness (local[32], 128 GiB) but every setting is chosen
for cluster scale first:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion — the knobs that keep a
  100 TB plan healthy without hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
  real cluster AQE's coalescing makes the initial number a ceiling,
  not a target.
- Arrow enabled for every pandas_udf / mapInPandas operator (the LLM
  pack), batch size sized so a batch of 64-float embeddings stays in
  L2-ish territory.

MV maintenance never changes these settings on a live session. Each
maintenance job (a route's bootstrap or refresh) runs on a clone of the
user session whose AQE, codegen and shuffle settings are fixed when the
clone is created — :func:`maintenance_session`, the analog of TiFlink
setting its job's parallelism and checkpointing once when it builds the
Flink environment (TiFlinkApp.java:241-246). The running job's
:class:`JobSettings` travel in the :data:`JOB` context variable.
"""

from __future__ import annotations

import contextvars
import os
import threading
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class JobSettings(NamedTuple):
    """The execution settings of one maintenance job (a route's
    bootstrap or refresh). Each distinct value owns one maintenance
    session whose confs are set when it is created and never again."""

    refresh: bool  # AQE off: per-stage replan jobs dominate a delta-sized batch
    codegen: bool  # whole-stage codegen on (off = interpreted execution)
    partitions: int | None  # spark.sql.shuffle.partitions; None keeps the user's


# Outside any job (folds scheduled outside one, compact, vacuum, reads
# handed back to the user): the user's own settings as cloned.
IDLE = JobSettings(refresh=False, codegen=True, partitions=None)

# The settings of the job running in this context. The outermost
# maintenance bootstrap/refresh sets it, nested routes inherit it, and
# a delta-sized re-tune replaces it for the rest of the batch. Worker
# threads see it only through contextvars.copy_context().run. None: no
# job is running.
JOB: contextvars.ContextVar[JobSettings | None] = contextvars.ContextVar(
    "tiflink_job", default=None
)

# user session -> {JobSettings: maintenance session}. Weak keys: a
# stopped/discarded user session must not be pinned alive by its clones
# (the clones reference the dict, never the user session).
_MAINT_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MAINT_LOCK = threading.Lock()


def maintenance_session(spark: SparkSession) -> SparkSession:
    """The MAINTENANCE session that the job running in this context
    executes on: same SparkContext, isolated SQLConf and temp views.

    There is one clone per (user session, :class:`JobSettings`). The
    first, for :data:`IDLE`, is cloned from the user session at first
    use, so the user's tuning is inherited once; every other clone is
    cloned from that one. A clone's AQE, codegen and shuffle confs are
    set when it is created and never change afterwards, so concurrent
    jobs with different settings cannot disturb each other, and a user
    query on the original session never runs interpreted or with AQE
    off. Accepts the user session or any of its maintenance sessions."""
    family = getattr(spark, "_tiflink_family", None)
    if family is None:
        family = _MAINT_SESSIONS.get(spark)
    settings = JOB.get() or IDLE
    m = family.get(settings) if family is not None else None
    if m is not None:
        return m
    with _MAINT_LOCK:
        if family is None:
            family = _MAINT_SESSIONS.setdefault(spark, {})
        for s in (IDLE, settings):
            if s in family:
                continue
            base = family.get(IDLE, spark)
            try:
                # private[sql] in Scala is public in bytecode; clone
                # inherits runtime conf AND temp views at this instant
                m = SparkSession(base.sparkContext, base._jsparkSession.cloneSession())
            except Exception:
                m = base.newSession()  # fresh conf from context defaults
            if s.refresh:
                m.conf.set("spark.sql.adaptive.enabled", "false")
            if not s.codegen:
                m.conf.set("spark.sql.codegen.wholeStage", "false")
                m.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
            if s.partitions is not None:
                m.conf.set("spark.sql.shuffle.partitions", str(s.partitions))
            m._tiflink_family = family
            family[s] = m
        return family[settings]


def rehome(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Re-bind a DataFrame's logical plan onto another session sharing
    the same SparkContext. Actions execute under the session the frame
    is homed to — this is how a store write runs under the current
    job's maintenance session whichever session built its lineage (the
    user's changelog, or an earlier setting of the same batch), and how
    MV reads handed back to the user run under theirs.
    The ANALYZED plan is re-bound: re-analyzing the parsed plan would
    resolve a SQL text's table names against the other session's temp
    views (a maintenance clone holds the user's views as they were when
    it was cloned, plus the recompute route's store views), so a
    ``spark.sql`` frame could read another view's data.
    Falls back to the original frame if the classic Dataset bridge is
    unavailable (plan semantics are identical either way; only the
    governing conf differs)."""
    if df.sparkSession is spark:
        return df
    try:
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().analyzed()
        )
        return DataFrame(jdf, spark)
    except Exception:
        return df

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Primary keys of the driver-generated tables — catalog metadata, the
# role TiDB's PK index plays for the reference (TiFlinkCatalog.java:387-401).
TABLE_PKS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    # The driver's synthetic lineitem has NO natural key — even
    # (l_orderkey, l_linenumber[, l_partkey, l_suppkey]) collide. Declared
    # keyless: scan/join only, cannot back a keyed MV store.
    "lineitem": [],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def get_spark(app_name: str = "tiflink_spark", *, extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # PySpark 4's per-op call-site capture (error debugging aid)
        # costs ~3 py4j round trips + a Python stack walk on EVERY
        # DataFrame method — measured ~0.2s/batch of pure driver
        # latency on the refresh hot path (~60 wrapped ops/batch at
        # 3.3ms each). An embedded engine builds plans continuously;
        # turn it off in production sessions.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # FileOutputCommitter v2 commits task output on task commit
        # instead of a serial job-commit rename pass — measured ~45 ms
        # off EVERY parquet write job (the MV store path writes one
        # delta file per refresh, so lifecycle queries pay this floor
        # 10-16x per run). Visibility of store state is gated by the
        # store's own manifest line, not the _SUCCESS marker, so the
        # weaker job-abort atomicity of v2 is immaterial here.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# (session id, app id, sf_dir) -> table dict. DataFrames are immutable
# plans, so handing the same objects to every query is safe; this skips
# re-reading 10 parquet footers + re-registering views on every registry
# call. The application id guards against id() reuse: a stopped session's
# object can be GC'd and a new one allocated at the same address, and
# serving it the dead session's DataFrames fails obscurely.
_TABLE_CACHE: dict[tuple[int, str, str, bool], dict[str, DataFrame]] = {}

# (session id, app id) -> the sf_dir whose tables currently own the
# standard view names on that session. Re-registering 10 unchanged temp
# views costs ~5 ms of py4j each (~55 ms per load_tables call — measured
# r10, ~20% of some sub-second query timings), so registration is skipped
# while the owner is unchanged. Anything that rebinds one of the TABLES
# names to a different frame must call invalidate_table_views().
_VIEW_OWNER: dict[tuple[int, str], str] = {}


def invalidate_table_views(spark: SparkSession) -> None:
    """Forget which sf_dir owns the standard table view names on this
    session, forcing the next load_tables() to re-register them. Called
    by any code path that binds a TABLES name to a different DataFrame
    (e.g. Catalog registrations)."""
    _VIEW_OWNER.pop((id(spark), spark.sparkContext.applicationId), None)


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    *,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables and register temp views.

    The reference reflects source tables by name out of TiDB's catalog
    (TiFlinkCatalog.java:92-198); here the same role is played by
    registering each parquet table as a temp view so the full SQL
    surface can name them.
    """
    key = (id(spark), spark.sparkContext.applicationId, sf_dir, register_views)
    skey = (id(spark), spark.sparkContext.applicationId)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        if register_views and _VIEW_OWNER.get(skey) != sf_dir:
            # Re-register only when another sf_dir (or a Catalog
            # registration) has claimed the names since we last did.
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _VIEW_OWNER[skey] = sf_dir
        return dict(cached)
    # Testdata timestamps have shipped in two physical forms:
    #   - timestamp[ns] parquet (rejected by the vectorized reader) — read
    #     as long nanos via the legacy conf and rebuilt to micros with
    #     integer floor-division (`/ 1000` goes through double and loses
    #     integer precision above 2^53);
    #   - timestamp[us] naive parquet — Spark reads TIMESTAMP_NTZ, which
    #     half the function surface (unix_micros, watermarks, windows)
    #     rejects. Cast to session-local TIMESTAMP; under the forced UTC
    #     session timezone the cast is value-preserving and matches the
    #     DuckDB oracle's naive reads.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Timestamp semantics must not depend on who built the session
        # (the driver passes its own): the DuckDB oracle reads naive
        # timestamps, which only match under UTC.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # already set via builder, or not runtime-settable on this build

    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = normalize_timestamps(spark.read.parquet(path), _nano_ts_columns(path))
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    if register_views:
        _VIEW_OWNER[skey] = sf_dir
    _TABLE_CACHE[key] = dict(out)
    return out


def normalize_timestamps(df: DataFrame, nano_long_cols: list[str] | None = None) -> DataFrame:
    """Bring every timestamp column to session-TZ TIMESTAMP (LTZ).

    ``nano_long_cols`` are columns the legacy nanos-as-long conf read as
    raw int64 nanoseconds; they are floor-divided to micros. TIMESTAMP_NTZ
    columns are cast (identity under UTC). Everything else passes through.
    """
    nano_long_cols = nano_long_cols or []
    dtypes = dict(df.dtypes)
    for f_ in nano_long_cols:
        if dtypes.get(f_) == "bigint":
            df = df.withColumn(f_, F.timestamp_micros(F.expr(f"`{f_}` div 1000")))
    for f_, t in dtypes.items():
        if t == "timestamp_ntz":
            df = df.withColumn(f_, F.col(f_).cast("timestamp"))
    return df


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table with every timestamp layout repaired.

    Detects legacy TIMESTAMP(NANOS) columns from the parquet footer and
    threads them into :func:`normalize_timestamps`, so every reader —
    catalog, MVApp sources, ad-hoc — gets the same repair `load_tables`
    applies (a nanos-era file read without the column list would
    otherwise pass through as raw bigint)."""
    return normalize_timestamps(spark.read.parquet(path), _nano_ts_columns(path))


def load_catalog(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
    """Load the testdata tables into a PK-carrying Catalog — the engine's
    analog of reflecting TiDB's schema (TiFlinkCatalog.java:92-198).
    Registers the repaired DataFrames (ns->us timestamps fixed), so MV
    stores keyed off catalog PKs see the same data every query sees."""
    from tiflink_spark.catalog import Catalog

    cat = Catalog(spark)
    for name, df in load_tables(spark, sf_dir).items():
        cat.register_dataframe(name, df, TABLE_PKS.get(name))
    return cat


def _nano_ts_columns(path: str) -> list[str]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return [
        schema.field(i).name
        for i in range(len(schema))
        if str(schema.field(i).type) == "timestamp[ns]"
    ]
