"""Streaming surface: time windows (TUMBLE/HOP/SESSION), watermarked
streaming aggregation, streaming dedup, and the full Structured-
Streaming MV pipeline (readStream → foreachBatch MERGE).

The reference exposes Flink SQL 1.13's group windows by delegation
(README.md:8); here they are Spark-native ``F.window`` /
``F.session_window``. Every query is batch-checkable: window semantics
are deterministic, so a DuckDB oracle can replicate them with
date_trunc / generate-offsets / gaps-and-islands SQL. The two
``streaming_*`` queries and the MV pipeline run a REAL ``readStream``
(file source, availableNow-style bounded input) so the plan exercised
is the streaming one, not a batch re-expression.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiflink_spark.changelog import SEQ_COL
from tiflink_spark.incremental import Measure
from tiflink_spark.mv import IncrementalAggMV
from tiflink_spark.queries import _t, register
from tiflink_spark.store import StoreSet
# one oracle + one pattern spec for BOTH funnel gates (batch gate in
# queries_ext) — the two entry points cannot drift apart
from tiflink_spark.queries_ext import (
    FUNNEL_DEFINE as _FUNNEL_DEFINE,
    FUNNEL_MEASURES as _FUNNEL_MEASURES,
    FUNNEL_ORACLE_SQL as _FUNNEL_ORACLE_SQL,
    FUNNEL_PATTERN as _FUNNEL_PATTERN,
)

# ---------------------------------------------------------------------------
# Time windows (batch semantics of the streaming operators)
# ---------------------------------------------------------------------------


@register(
    "window_tumble",
    """
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="TUMBLE window (1h) aggregate over event time — F.window fixed windows.",
    tags=("streaming", "window-time"),
)
def window_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "window_hop",
    """
    SELECT window_start, count(*) AS n_events
    FROM (
        SELECT CAST(time_bucket(INTERVAL 30 minutes, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                 - k * INTERVAL 30 minutes AS window_start
        FROM events, UNNEST([0, 1]) AS t(k)
    )
    GROUP BY window_start
    """,
    doc=(
        "HOP window (1h size, 30min slide): every event lands in size/slide = 2 "
        "overlapping windows — F.window(ts, '1 hour', '30 minutes')."
    ),
    tags=("streaming", "window-time"),
)
def window_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "window_session",
    """
    WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 10 minutes
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps)
    SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc=(
        "SESSION window (10min gap) per user — F.session_window; oracle uses the "
        "classic gaps-and-islands construction."
    ),
    tags=("streaming", "window-time"),
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Real Structured Streaming runs (bounded file-stream input)
# ---------------------------------------------------------------------------


def _stream_events(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """events as an actual streaming DataFrame (file source).

    The testdata table is a single parquet file; the file-stream source
    requires a directory, so it is exposed through a symlink dir. The
    nanosecond ``ts`` arrives as raw longs on this path (the batch-side
    repair in load_tables doesn't apply to readStream) and is rebuilt
    to a microsecond timestamp in-stream.
    """
    try:
        # Self-contained: don't rely on a prior load_tables call having
        # enabled the nanos-as-long parquet repair (or UTC semantics) on
        # this session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(path, os.path.join(stream_dir, "events.parquet"))
    schema = spark.read.parquet(path).schema
    df = spark.readStream.schema(schema).parquet(stream_dir)
    ts_type = schema["ts"].dataType.typeName()
    if ts_type == "long":  # legacy nanos-as-long layout
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df, stream_dir


def _run_stream_to_df(
    spark: SparkSession,
    streaming_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a bounded streaming query to completion into a memory
    sink and return the final result (stream-stream joins require
    append mode; aggregations use complete).

    The stateful-operator partition count is pinned low for these
    bounded gate runs: each state partition carries per-batch store
    init/commit overhead (a stream-stream join keeps 4 stores per
    partition), which at 64 partitions costs minutes for kilobyte
    state. On a real cluster this is the knob you size to executor
    count x state volume — it is fixed at the first checkpoint.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Materialize: the memory sink table is session-scoped and mutable.
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "streaming_tumble_agg",
    """
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
    doc=(
        "REAL Structured Streaming run: readStream(events) -> watermark(ts, 1h) "
        "-> tumbling-window agg -> memory sink, bounded by availableNow. "
        "Checked against the batch oracle: streaming == batch on bounded input."
    ),
    tags=("streaming", "window-time"),
)
def streaming_tumble_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, stream_dir = _stream_events(spark, sf_dir)
    try:
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        )
        return _run_stream_to_df(spark, agg, "streaming_tumble_agg_sink")
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@register(
    "streaming_dedup",
    """
    SELECT user_id, event_type, count(*) AS n
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY user_id, event_type
    """,
    doc=(
        "Streaming dropDuplicates (state-backed dedup) on a real readStream, "
        "aggregated so the complete-mode memory sink stays bounded."
    ),
    tags=("streaming", "dedup"),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, stream_dir = _stream_events(spark, sf_dir)
    try:
        dedup = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
        agg = dedup.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
        return _run_stream_to_df(spark, agg, "streaming_dedup_sink")
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@register(
    "streaming_stateful_counts",
    """
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
    doc=(
        "Custom stateful streaming operator via applyInPandasWithState "
        "(GroupState per user): the surface SURVEY §2.1 maps the reference's "
        "transaction-buffering source state onto. Bounded availableNow input "
        "-> final state equals the batch aggregate."
    ),
    tags=("streaming", "stateful"),
)
def streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev, stream_dir = _stream_events(spark, sf_dir)
    try:

        def update(key, pdfs, state: GroupState):
            (user_id,) = key
            n, total, types = state.get if state.exists else (0, 0.0, "")
            typeset = set(types.split("|")) - {""}
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
                typeset |= set(pdf["event_type"])
            state.update((n, total, "|".join(sorted(typeset))))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "n_types": [len(typeset)],
                }
            )

        counts = (
            ev.select("user_id", "event_type", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long, total_value double, n_types long",
                stateStructType="n long, total double, types string",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        # update-mode emits one row per user per trigger; availableNow over a
        # single file yields exactly the final state per user.
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                counts.writeStream.format("memory")
                .queryName("streaming_stateful_sink")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.table("streaming_stateful_sink").localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# The full streaming MV pipeline: changelog file stream -> foreachBatch MERGE
# ---------------------------------------------------------------------------


@register(
    "mv_flagship_streaming",
    """
    WITH final_orders AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < 20000000
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS o_custkey
        FROM (
            SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + 20000000, o_custkey FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT c_custkey, c_name,
           (SELECT count(*) FROM final_orders o WHERE o.o_custkey = c.c_custkey) AS order_cnt
    FROM customer c
    """,
    doc=(
        "END-TO-END streaming MV: the scripted changelog is written to a "
        "directory, consumed by spark.readStream (file source), and applied "
        "through writeStream.foreachBatch -> IncrementalAggMV.refresh (MERGE "
        "into the versioned keyed store) — the reference's full pipeline "
        "(TiFlinkApp.java:70-116) on Spark-native mechanisms. The changelog "
        "carries a globally monotonic __seq, so convergence is independent of "
        "how the file source groups files into micro-batches."
    ),
    tags=("mv", "streaming", "flagship"),
)
def mv_flagship_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.queries_mv import scripted_batches

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_stream_")
    chlog_dir = os.path.join(work, "changelog")
    os.makedirs(chlog_dir)
    try:
        # Script the changelog to files with a globally monotonic __seq.
        offset = 0
        batches = scripted_batches(t["orders"])
        for i, b in enumerate(batches, start=1):
            n = b.count()
            b = b.withColumn(SEQ_COL, F.lit(offset) + F.col(SEQ_COL))
            b.coalesce(1).write.mode("overwrite").parquet(os.path.join(chlog_dir, f"batch_{i}"))
            offset += n + 1_000_000  # keep per-batch seq ranges disjoint

        mv = IncrementalAggMV(
            spark,
            fact=t["orders"],
            fact_pk=["o_orderkey"],
            group_key="o_custkey",
            measures=[Measure("count", None, "order_cnt")],
            stores=StoreSet(spark, os.path.join(work, "mv"), 4),
            dim=t["customer"],
            dim_key="c_custkey",
            dim_cols=["c_name"],
            shuffle_partitions=8,
        )
        mv.bootstrap()

        schema = spark.read.parquet(os.path.join(chlog_dir, "batch_1")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(chlog_dir, "batch_*"))
        )
        # Per-micro-batch MERGE parallelism comes from the MV's own
        # shuffle_partitions knob: each refresh runs on a maintenance
        # session created with that sizing (see session.JobSettings).
        q = (
            stream.writeStream.foreachBatch(
                lambda df, epoch_id: mv.refresh(df, batch_id=f"stream-{epoch_id}")
            )
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return mv.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "streaming_interval_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    doc=(
        "REAL stream-stream interval join (Flink SQL's interval join, the "
        "reference's delegated surface): two watermarked readStreams of the "
        "same source, inner-joined on user_id with a [0, 1h] event-time "
        "range; append output. State on each side is bounded by the "
        "watermark + range condition, so it survives unbounded input — "
        "the 100 TB/day story is state TTL, not state growth."
    ),
    tags=("streaming", "join-interval"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views, dir1 = _stream_events(spark, sf_dir)
    purchases, dir2 = _stream_events(spark, sf_dir)
    try:
        v = (
            views.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        p = (
            purchases.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        joined = v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        ).select("view_id", "purchase_id", "user_id")
        return _run_stream_to_df(
            spark, joined, "streaming_interval_join_sink", output_mode="append"
        )
    finally:
        shutil.rmtree(dir1, ignore_errors=True)
        shutil.rmtree(dir2, ignore_errors=True)


@register(
    "streaming_hop_agg",
    """
    SELECT window_start, count(*) AS n_events
    FROM (
        SELECT CAST(time_bucket(INTERVAL 30 minutes, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                 - k * INTERVAL 30 minutes AS window_start
        FROM events, UNNEST([0, 1]) AS t(k)
    )
    GROUP BY window_start
    """,
    doc=(
        "REAL streaming HOP window (1h size / 30min slide): watermarked "
        "readStream -> sliding-window agg -> complete-mode memory sink. "
        "Streaming == batch on bounded input (same oracle as window_hop)."
    ),
    tags=("streaming", "window-time"),
)
def streaming_hop_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, stream_dir = _stream_events(spark, sf_dir)
    try:
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )
        return _run_stream_to_df(spark, agg, "streaming_hop_sink")
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@register(
    "streaming_session_agg",
    """
    WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 10 minutes
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps)
    SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc=(
        "REAL streaming SESSION window (10min gap) per user: watermarked "
        "readStream -> session_window agg (merging-window state) -> "
        "complete-mode sink; oracle is the gaps-and-islands construction."
    ),
    tags=("streaming", "window-time"),
)
def streaming_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, stream_dir = _stream_events(spark, sf_dir)
    try:
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
            )
        )
        return _run_stream_to_df(spark, agg, "streaming_session_sink")
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@register(
    "streaming_static_join",
    """
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc=(
        "REAL stream-static join: readStream(events) enriched by the "
        "static customer dimension (explicit broadcast — the dim is "
        "re-broadcast per micro-batch, never shuffled into stream "
        "state), then a streaming aggregate. The canonical streaming "
        "enrichment shape: fact stream x slowly-changing dim."
    ),
    tags=("streaming", "join"),
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, stream_dir = _stream_events(spark, sf_dir)
    try:
        cust = _t(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
        joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        agg = joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        return _run_stream_to_df(spark, agg, "streaming_static_join_sink")
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@register(
    "streaming_rate_changelog",
    """
    SELECT r.range AS key, CAST(r.range + 2500 AS DOUBLE) AS amount
    FROM range(500) r WHERE r.range % 3 <> 0
    """,
    doc=(
        "REAL Structured-Streaming run over a NON-FILE source: the "
        "rate-changelog connector synthesizes the +I/+U/-D contract from "
        "Spark's rate-micro-batch source (live-CDC analog, "
        "FlinkTikvConsumer.java:92-131) and foreachBatch MERGEs each "
        "micro-batch into the exactly-once keyed store. The three-phase "
        "script (insert all 500 keys, update all, then delete keys "
        "divisible by 3 / update the rest) makes the final store state a "
        "pure function of the script regardless of micro-batch "
        "boundaries — which is what lets a DuckDB oracle check a live "
        "stream."
    ),
    tags=("streaming", "connector", "real-stream"),
)
def streaming_rate_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    from tiflink_spark.connectors import ConnectorOptions, get_connector
    from tiflink_spark.store import KeyedParquetStore

    TOTAL, KEYS = 3000, 500
    work = tempfile.mkdtemp(prefix="rate_cl_")
    store = None
    try:
        stream = get_connector("rate-changelog").read_stream(
            spark,
            ConnectorOptions(
                path="", extra={"total": TOTAL, "num_keys": KEYS, "rows_per_batch": 600}
            ),
        )
        store = KeyedParquetStore(spark, os.path.join(work, "store"), ["key"], 4)
        store.bootstrap(
            spark.createDataFrame([], "key long, amount double"), batch_id="b0"
        )
        seen = {"n": 0}

        def fb(df, epoch_id):
            n = df.count()
            if n:
                store.merge(df, batch_id=f"rate-{epoch_id}")
            seen["n"] += n

        q = (
            stream.writeStream.foreachBatch(fb)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = _time.time() + 180
        while seen["n"] < TOTAL and q.isActive and _time.time() < deadline:
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination()
        if seen["n"] < TOTAL:
            raise AssertionError(
                f"rate stream delivered {seen['n']}/{TOTAL} scripted rows"
            )
        return store.read().localCheckpoint(eager=True)
    finally:
        # a merge that reached the delta-chain bound scheduled a fold;
        # it must land before its directory is removed
        if store is not None:
            store._await_fold()
        shutil.rmtree(work, ignore_errors=True)


@register(
    "streaming_pattern_funnel",
    _FUNNEL_ORACLE_SQL,
    doc=(
        "STREAMING MATCH_RECOGNIZE (patterns.match_recognize_stream): "
        "the view -> click+ -> purchase funnel detected over a LIVE "
        "file stream drained in three time-ordered micro-batches "
        "(maxFilesPerTrigger=1), with per-user pattern state carried "
        "across triggers via applyInPandasWithState — Flink's "
        "streaming CEP, the reference's stream-first operating mode "
        "(TiFlinkApp.java:270). Matches that SPAN micro-batch "
        "boundaries are the point: the state holds the pending row "
        "suffix (from the first position whose greedy attempt ran out "
        "of rows — a mid-pattern mismatch is permanent, an end-of-data "
        "one is not) plus the match ordinal, so emission is "
        "append-mode exactly-once per completed match. The drained "
        "result equals the batch answer, so the SAME independent "
        "gaps-and-islands SQL oracle checks it."
    ),
    tags=("streaming", "pattern", "cep", "stateful"),
)
def streaming_pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.patterns import match_recognize_stream
    from tiflink_spark.session import load_tables

    events = load_tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    stream_dir = tempfile.mkdtemp(prefix="pattern_stream_")
    try:
        # three files in global (ts, event_id) order — each trigger
        # consumes one, so pattern candidates straddle the boundaries
        w = Window.orderBy("ts", "event_id")
        chunked = events.withColumn("__c", F.ntile(3).over(w))
        for i in (1, 2, 3):
            tmp = os.path.join(stream_dir, f"_w{i}")
            (
                chunked.filter(F.col("__c") == i)
                .drop("__c")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = next(
                f for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = os.path.join(stream_dir, f"chunk{i}.parquet")
            os.rename(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        schema = spark.read.parquet(os.path.join(stream_dir, "chunk1.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        out = match_recognize_stream(
            stream,
            partition_by=["user_id"],
            order_by=["ts", "event_id"],
            pattern=_FUNNEL_PATTERN,
            define=_FUNNEL_DEFINE,
            measures=_FUNNEL_MEASURES,
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                out.writeStream.format("memory")
                .queryName("streaming_pattern_sink")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return (
                spark.table("streaming_pattern_sink")
                .select(
                    "user_id",
                    "match_seq",
                    "v_event",
                    "n_clicks",
                    F.round(F.col("clicks_value") * 100)
                    .cast("bigint")
                    .alias("clicks_cents"),
                    "p_event",
                )
                .localCheckpoint(eager=True)
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


_NAV_ORACLE_SQL = """
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pv
        FROM events),
    f AS (
        SELECT user_id, rn, value,
               CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END AS d
        FROM ordered),
    starts AS (
        SELECT user_id, rn, value, d,
               CASE WHEN d = 1 AND COALESCE(lag(d) OVER (
                      PARTITION BY user_id ORDER BY rn), 0) = 0
                    THEN 1 ELSE 0 END AS is_start
        FROM f),
    g AS (
        SELECT user_id, rn, value, d,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY rn) AS grp
        FROM starts),
    isl AS (
        SELECT user_id, grp, min(rn) AS s_rn, max(rn) AS e_rn,
               CAST(count(*) AS BIGINT) AS n_down
        FROM g WHERE d = 1 GROUP BY user_id, grp)
    SELECT i.user_id,
           CAST(row_number() OVER (PARTITION BY i.user_id ORDER BY i.s_rn)
                AS BIGINT) AS match_seq,
           (SELECT value FROM g o WHERE o.user_id = i.user_id
              AND o.rn = i.s_rn - 1) AS start_v,
           (SELECT value FROM g o WHERE o.user_id = i.user_id
              AND o.rn = i.e_rn) AS bottom,
           i.n_down
    FROM isl i
    """


@register(
    "streaming_pattern_nav",
    _NAV_ORACLE_SQL,
    doc=(
        "STREAMING MATCH_RECOGNIZE with PREV() PHYSICAL navigation in "
        "DEFINE (round 10; the r9 documented refusal, patterns.py): "
        "maximal strictly-descending runs — PATTERN (S D+), D AS "
        "value < PREV(value) — detected over a LIVE file stream "
        "drained in four time-ordered micro-batches. lag/lead cannot "
        "see across a trigger boundary, so nav-bearing DEFINEs compile "
        "through the run-state grammar and the nav columns are "
        "computed by pandas shift over the cross-batch pending buffer; "
        "a k_prev-row context tail retained before the pending suffix "
        "lets PREV at a match start navigate into a previous trigger's "
        "already-decided rows. A per-user high-value sentinel row "
        "appended to the final chunk terminates every run so the "
        "drained result is complete (sentinels produce no matches and "
        "change none — the oracle runs on the raw table). The oracle "
        "is independent gaps-and-islands SQL: islands of "
        "value<lag(value) rows; measures avoid cross-engine float "
        "arithmetic (untouched doubles + BIGINT counts)."
    ),
    tags=("streaming", "pattern", "cep", "navigation"),
)
def streaming_pattern_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.patterns import match_recognize_stream
    from tiflink_spark.session import load_tables

    events = load_tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "value"
    )
    # per-user sentinel: highest value, after every real row — breaks
    # any in-flight descending run so edge-held candidates resolve
    sentinels = events.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
        (F.max("event_id") + F.lit(10_000_000)).alias("event_id"),
        F.lit(1e18).alias("value"),
    ).select("user_id", "ts", "event_id", "value")
    data = events.unionByName(sentinels)

    stream_dir = tempfile.mkdtemp(prefix="pattern_nav_stream_")
    try:
        w = Window.orderBy("ts", "event_id")
        chunked = data.withColumn("__c", F.ntile(4).over(w))
        for i in (1, 2, 3, 4):
            tmp = os.path.join(stream_dir, f"_w{i}")
            (
                chunked.filter(F.col("__c") == i)
                .drop("__c")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = next(
                f for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = os.path.join(stream_dir, f"chunk{i}.parquet")
            os.rename(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        schema = spark.read.parquet(os.path.join(stream_dir, "chunk1.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        out = match_recognize_stream(
            stream,
            partition_by=["user_id"],
            order_by=["ts", "event_id"],
            pattern=[("S", "1"), ("D", "+")],
            define={"D": "value < PREV(value)"},
            measures=[
                ("start_v", "S", "value", "first"),
                ("bottom", "D", "value", "last"),
                ("n_down", "D", None, "count"),
            ],
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                out.writeStream.format("memory")
                .queryName("streaming_pattern_nav_sink")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return (
                spark.table("streaming_pattern_nav_sink")
                .select("user_id", "match_seq", "start_v", "bottom", "n_down")
                .localCheckpoint(eager=True)
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
