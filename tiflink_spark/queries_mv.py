"""Driver-checkable MV-engine queries: incremental ≡ batch, proven
through the DuckDB oracle.

Each query feeds a *deterministic scripted changelog* (inserts, deletes,
key-changing updates — the full +I/-D/+U contract of
TikvDynamicSource.java:47-53) through the MV engine in three
micro-batches and returns the final MV state. The oracle expresses the
same mutations as pure SQL over the original tables, so a green row is
a machine-checked proof that incremental maintenance converges to the
batch answer — the property the reference's consistency machinery
exists to guarantee (README.md:18-22).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL
from tiflink_spark.incremental import Measure
from tiflink_spark.mv import IncrementalAggMV, RecomputeMV
from tiflink_spark.queries import _t, register
from tiflink_spark.store import StoreSet

BIG = 20_000_000  # inserted keys live above this; delete/update scripts stay below


def scripted_batches(orders: DataFrame) -> list[DataFrame]:
    """The canonical 3-batch changelog script over ``orders``:

    B1  +I: copy of every orderkey % 100 == 0 row at key+BIG
    B2  -D: every original orderkey % 7 == 0
    B3  +U: every original orderkey % 5 == 0 not deleted in B2,
            with the GROUP KEY changed (o_custkey -> o_custkey%100+1) —
            the retract-old-group / add-new-group case.
    """
    b1 = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
        .withColumn(OP_COL, F.lit(OP_INSERT))
        .withColumn(SEQ_COL, F.monotonically_increasing_id())
    )
    b2 = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn(OP_COL, F.lit(OP_DELETE))
        .withColumn(SEQ_COL, F.monotonically_increasing_id())
    )
    b3 = (
        orders.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
        .withColumn("o_custkey", F.col("o_custkey") % 100 + 1)
        .withColumn(OP_COL, F.lit(OP_UPDATE))
        .withColumn(SEQ_COL, F.monotonically_increasing_id())
    )
    return [b1, b2, b3]


# The same final-orders state, as SQL for the DuckDB oracle.
_FINAL_ORDERS_SQL = f"""
    final_orders AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS o_custkey,
               o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 100 = 0
        )
    )
"""


@register(
    "mv_flagship_incremental",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT c_custkey, c_name,
           (SELECT count(*) FROM final_orders o WHERE o.o_custkey = c.c_custkey) AS order_cnt
    FROM customer c
    """,
    doc=(
        "Flagship MV (TiFlinkExample.java:10-16 shape) maintained INCREMENTALLY "
        "through a scripted +I/-D/+U changelog; result is the final MV store "
        "state. Green == incremental converged to the batch answer."
    ),
    tags=("mv", "incremental", "flagship"),
)
def mv_flagship_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_flag_")
    try:
        mv = IncrementalAggMV(
            spark,
            fact=t["orders"],
            fact_pk=["o_orderkey"],
            group_key="o_custkey",
            measures=[Measure("count", None, "order_cnt")],
            # 4 buckets: a deployment knob, small at gate SF, ~1024 at 100 TB
            stores=StoreSet(spark, work, 4),
            dim=t["customer"],
            dim_key="c_custkey",
            dim_cols=["c_name"],
            shuffle_partitions=8,  # sized to delta volume, not source volume
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            mv.refresh(b, batch_id=i)
        # Materialize off the store before the workdir is removed.
        out = mv.read().localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_groupagg_incremental",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM final_orders
    GROUP BY o_custkey
    """,
    doc=(
        "Pure GROUP-BY MV with invertible (COUNT/SUM) and non-invertible "
        "(MIN/MAX via dirty-group recompute) aggregates, maintained through "
        "the scripted changelog; deletes shrink groups, key-changing updates "
        "move rows across groups, emptied groups leave the MV."
    ),
    tags=("mv", "incremental"),
)
def mv_groupagg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_agg_")
    try:
        mv = IncrementalAggMV(
            spark,
            fact=t["orders"],
            fact_pk=["o_orderkey"],
            group_key="o_custkey",
            measures=[
                Measure("count", None, "n_orders"),
                Measure("sum", "o_totalprice", "total_price_raw"),
                Measure("min", "o_totalprice", "min_price"),
                Measure("max", "o_totalprice", "max_price"),
            ],
            stores=StoreSet(spark, work, 4),
            shuffle_partitions=8,
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            mv.refresh(b, batch_id=i)
        out = (
            mv.read()
            .select(
                "o_custkey",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
                "min_price",
                "max_price",
            )
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_join_incremental",
    f"""
    WITH final_orders AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 8 = 0 AND o_orderkey % 9 <> 0
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS custkey,
               CASE WHEN o_orderkey % 4 = 0 AND o_orderkey % 9 <> 0
                    THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 9 <> 0
        UNION ALL
        SELECT o_orderkey + {BIG}, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 50 = 0
    ),
    final_customer AS (
        SELECT c_custkey AS custkey,
               CASE WHEN c_custkey % 3 = 0 THEN c_name || '*' ELSE c_name END AS c_name
        FROM customer WHERE c_custkey % 11 <> 0
    )
    SELECT o_orderkey, custkey, o_totalprice, c_name
    FROM final_orders JOIN final_customer USING (custkey)
    """,
    doc=(
        "Incremental two-sided JOIN MV (stream-stream join of SURVEY §2.2): "
        "changelogs hit BOTH sides — order deletes/updates (incl. join-key-"
        "moving updates), customer renames and deletes (orphaning their "
        "orders out of the MV), late order inserts. Maintained by dirty-join-"
        "key recompute: per batch only touched keys' join slices are "
        "recomputed and diffed."
    ),
    tags=("mv", "incremental", "join"),
)
def mv_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.mv import IncrementalJoinMV

    t = _t(spark, sf_dir)
    left = t["orders"].select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    right = t["customer"].select(F.col("c_custkey").alias("custkey"), "c_name")
    work = tempfile.mkdtemp(prefix="mv_join_")
    try:
        mv = IncrementalJoinMV(
            spark,
            left=left,
            left_pk=["o_orderkey"],
            right=right,
            right_pk=["custkey"],
            join_key="custkey",
            out_cols=["o_orderkey", "custkey", "o_totalprice", "c_name"],
            stores=StoreSet(spark, work, 4),
            shuffle_partitions=8,
        )
        mv.bootstrap()

        # B1 — orders: delete %9, update %4 (price +10; %8 also moves the
        # JOIN KEY to another customer).
        b1_del = (
            left.filter(F.col("o_orderkey") % 9 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
        )
        b1_upd = (
            left.filter((F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") % 9 != 0))
            .withColumn(
                "custkey",
                F.when(F.col("o_orderkey") % 8 == 0, F.col("custkey") % 100 + 1).otherwise(
                    F.col("custkey")
                ),
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + 10)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
        )
        b1 = b1_del.unionByName(b1_upd).withColumn(SEQ_COL, F.monotonically_increasing_id())
        mv.refresh(b1, None, batch_id=1)

        # B2 — customer: rename %3, delete %11 (their orders drop out).
        b2_upd = (
            right.filter(F.col("custkey") % 3 == 0)
            .withColumn("c_name", F.concat(F.col("c_name"), F.lit("*")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
        )
        b2_del = right.filter(F.col("custkey") % 11 == 0).withColumn(OP_COL, F.lit(OP_DELETE))
        b2 = b2_upd.unionByName(b2_del).withColumn(SEQ_COL, F.monotonically_increasing_id())
        mv.refresh(None, b2, batch_id=2)

        # B3 — late order inserts (keys above BIG, original customers).
        b3 = (
            left.filter(F.col("o_orderkey") % 50 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        mv.refresh(b3, None, batch_id=3)

        return mv.read().select(
            "o_orderkey", "custkey", "o_totalprice", "c_name"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_lifecycle",
    f"""
    WITH orders_v1 AS (
        SELECT o_orderkey, o_custkey FROM orders
        UNION ALL
        SELECT o_orderkey + {BIG}, o_custkey FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT c_custkey, c_name,
           (SELECT count(*) FROM orders_v1 o WHERE o.o_custkey = c.c_custkey) AS order_cnt
    FROM customer c
    """,
    doc=(
        "The public MVApp API end-to-end (TiFlinkApp.Builder parity, SURVEY "
        "§3.1): builder -> catalog registration -> PK/schema inference -> DDL "
        "-> bootstrap -> changelog file stream via start_streaming "
        "(foreachBatch MERGE) -> consistent read."
    ),
    tags=("mv", "app", "flagship"),
)
def mvapp_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tiflink_spark.app import MVApp
    from tiflink_spark.changelog import OP_INSERT

    work = tempfile.mkdtemp(prefix="mvapp_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_app", os.path.join(sf_dir, "orders.parquet"), pk=["o_orderkey"])
            .source("customer_app", os.path.join(sf_dir, "customer.parquet"), pk=["c_custkey"])
            .query(
                """SELECT c_custkey, c_name,
                          (SELECT count(*) FROM orders_app o
                           WHERE o.o_custkey = c.c_custkey) AS order_cnt
                   FROM customer_app c"""
            )
            .target(os.path.join(work, "mv"))
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        app.bootstrap()
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        changes = (
            orders.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        chlog = os.path.join(work, "chlog")
        changes.coalesce(1).write.parquet(chlog)
        app.start_streaming({"orders_app": chlog}, checkpoint_dir=os.path.join(work, "ckpt"))
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_window_incremental",
    f"""
    WITH final_events AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 AND event_id % 13 <> 0
                    THEN value + 5 ELSE value END AS value,
               CASE WHEN event_id % 14 = 0 AND event_id % 13 <> 0
                    THEN CAST(ts AS TIMESTAMP) + INTERVAL 2 hours
                    ELSE CAST(ts AS TIMESTAMP) END AS ts
        FROM events WHERE event_id % 13 <> 0
        UNION ALL
        SELECT event_id + {BIG}, value, CAST(ts AS TIMESTAMP) + INTERVAL 2 hours
        FROM events WHERE event_id % 40 = 0
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM final_events GROUP BY 1
    """,
    doc=(
        "Incrementally-maintained TUMBLING-WINDOW aggregate MV: the group key "
        "is the derived hour bucket, so late inserts, deletes, value updates "
        "and window-moving timestamp updates each retract/add into the right "
        "buckets. The composition the reference serves with Flink group "
        "windows over a changelog (SURVEY §2.2 'time windows' + MV)."
    ),
    tags=("mv", "incremental", "window-time"),
)
def mv_window_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    ev = t["events"].select("event_id", "ts", "value")

    def with_window(df: DataFrame) -> DataFrame:
        return df.withColumn("wstart", F.date_trunc("hour", F.col("ts")))

    fact = with_window(ev)
    work = tempfile.mkdtemp(prefix="mv_win_")
    try:
        mv = IncrementalAggMV(
            spark,
            fact=fact,
            fact_pk=["event_id"],
            group_key="wstart",
            measures=[
                Measure("count", None, "n_events"),
                Measure("sum", "value", "total_value_raw"),
            ],
            stores=StoreSet(spark, work, 4),
            shuffle_partitions=8,
        )
        mv.bootstrap()

        two_h = F.expr("INTERVAL 2 HOURS")
        b1 = with_window(
            ev.filter(F.col("event_id") % 40 == 0)
            .withColumn("event_id", F.col("event_id") + BIG)
            .withColumn("ts", F.col("ts") + two_h)
        ).withColumn(OP_COL, F.lit(OP_INSERT))
        b2 = with_window(ev.filter(F.col("event_id") % 13 == 0)).withColumn(
            OP_COL, F.lit(OP_DELETE)
        )
        b3 = with_window(
            ev.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 13 != 0))
            .withColumn("value", F.col("value") + 5)
            .withColumn(
                "ts",
                F.when(F.col("event_id") % 14 == 0, F.col("ts") + two_h).otherwise(
                    F.col("ts")
                ),
            )
        ).withColumn(OP_COL, F.lit(OP_UPDATE))

        for i, b in enumerate([b1, b2, b3], start=1):
            mv.refresh(b.withColumn(SEQ_COL, F.monotonically_increasing_id()), batch_id=i)

        return (
            mv.read()
            .select(
                F.col("wstart"),
                "n_events",
                F.round("total_value_raw", 2).alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_flagship_recompute",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT c_custkey, c_name,
           (SELECT count(*) FROM final_orders o WHERE o.o_custkey = c.c_custkey) AS order_cnt
    FROM customer c
    """,
    doc=(
        "Same flagship MV maintained by the RECOMPUTE fallback mode "
        "(full re-run per batch, change-bounded MERGE sink via state diff) — "
        "the maintenance mode for query shapes outside the incremental kit."
    ),
    tags=("mv", "recompute", "flagship"),
)
def mv_flagship_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_rec_")
    try:
        stores = StoreSet(spark, work, 4)
        src = stores.open("orders", ["o_orderkey"])
        src.bootstrap(t["orders"])
        cust = stores.open("customer", ["c_custkey"])
        cust.bootstrap(t["customer"])
        rmv = RecomputeMV(
            spark,
            {"orders_live": src, "customer_live": cust},
            """SELECT c_custkey, c_name,
                      (SELECT count(*) FROM orders_live o
                       WHERE o.o_custkey = c.c_custkey) AS order_cnt
               FROM customer_live c""",
            stores,
            shuffle_partitions=8,
        )
        rmv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            rmv.refresh({"orders_live": b}, batch_id=i)
        return rmv.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_distinct_incremental",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT c_custkey, c_name,
           (SELECT count(DISTINCT o_totalprice) FROM final_orders o
            WHERE o.o_custkey = c.c_custkey) AS n_prices
    FROM customer c
    """,
    doc=(
        "COUNT DISTINCT MV maintained incrementally through the scripted "
        "+I/-D/+U changelog (dirty-group recompute path — see "
        "incremental.NON_INVERTIBLE for the state-vs-recompute trade). "
        "Dim left join presents absent groups as 0 distinct values."
    ),
    tags=("mv", "incremental", "distinct"),
)
def mv_distinct_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_dist_")
    try:
        mv = IncrementalAggMV(
            spark,
            fact=t["orders"],
            fact_pk=["o_orderkey"],
            group_key="o_custkey",
            measures=[Measure("count_distinct", "o_totalprice", "n_prices")],
            stores=StoreSet(spark, work, 4),
            dim=t["customer"],
            dim_key="c_custkey",
            dim_cols=["c_name"],
            shuffle_partitions=8,
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            mv.refresh(b, batch_id=i)
        return mv.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "txn_resolution",
    """
    SELECT o_orderkey, o_custkey, o_orderkey * 2 + 1 AS commit_ts
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    doc=(
        "Transaction-event resolution (SURVEY §2.1 op #3): a scripted "
        "Percolator-style log over orders — every order prewrites at "
        "start_ts = 2*key; key%3==0 commits at start_ts+1, key%3==1 stays "
        "in flight (never visible), key%3==2 rolls back. The resolver "
        "must emit exactly the committed payloads with their commit_ts "
        "(FlinkTikvConsumer.java:161-199 semantics)."
    ),
    tags=("mv", "changelog", "txn"),
)
def txn_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.changelog import (
        TXN_COMMIT,
        TXN_PREWRITE,
        TXN_ROLLBACK,
        resolve_transactions,
    )

    t = _t(spark, sf_dir)
    orders = t["orders"].select("o_orderkey", "o_custkey")
    start = (F.col("o_orderkey") * 2).alias("start_ts")
    null_l = F.lit(None).cast("long")
    pre = orders.select(
        start,
        "o_orderkey",
        "o_custkey",
        null_l.alias("commit_ts"),
        F.lit(TXN_PREWRITE).alias("kind"),
    )
    commits = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        start,
        null_l.alias("o_orderkey"),
        null_l.alias("o_custkey"),
        (F.col("o_orderkey") * 2 + 1).alias("commit_ts"),
        F.lit(TXN_COMMIT).alias("kind"),
    )
    rollbacks = orders.filter(F.col("o_orderkey") % 3 == 2).select(
        start,
        null_l.alias("o_orderkey"),
        null_l.alias("o_custkey"),
        null_l.alias("commit_ts"),
        F.lit(TXN_ROLLBACK).alias("kind"),
    )
    log = pre.unionByName(commits).unionByName(rollbacks)
    return resolve_transactions(log, ["o_orderkey", "o_custkey"])


@register(
    "mv_multikey_incremental",
    f"""
    WITH final_orders2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS o_custkey,
               o_orderstatus, o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT o_custkey, o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders2
    GROUP BY o_custkey, o_orderstatus
    """,
    doc=(
        "Composite-group-key MV: GROUP BY (o_custkey, o_orderstatus) "
        "maintained incrementally through the scripted +I/-D/+U changelog — "
        "the multi-column GROUP BY every real Flink SQL MV uses; state "
        "store keyed by the full key tuple."
    ),
    tags=("mv", "incremental", "multikey"),
)
def mv_multikey_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_mk_")
    try:
        mv = IncrementalAggMV(
            spark,
            fact=t["orders"],
            fact_pk=["o_orderkey"],
            group_key=["o_custkey", "o_orderstatus"],
            measures=[
                Measure("count", None, "n_orders"),
                Measure("sum", "o_totalprice", "total_price_raw"),
            ],
            stores=StoreSet(spark, work, 4),
            shuffle_partitions=8,
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            mv.refresh(b, batch_id=i)
        return (
            mv.read()
            .select(
                "o_custkey",
                "o_orderstatus",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_cascade",
    f"""
    WITH final_orders3 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + {BIG}, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT c_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
    FROM final_orders3 JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    doc=(
        "MV CASCADE: an upstream join MV (orders x customer, dirty-key "
        "incremental) feeds a downstream aggregate MV through "
        "KeyedParquetStore.batch_delta — the rows the upstream target's merge wrote "
        "for a batch ARE the downstream changelog, exactly how the reference chains MVs "
        "(every MV table is consumable as a source, README.md:8-16). "
        "Scripted inserts + deletes flow through both stages incrementally."
    ),
    tags=("mv", "incremental", "cascade"),
)
def mv_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tiflink_spark.mv import IncrementalJoinMV

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_cascade_")
    try:
        orders = t["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
        # IncrementalJoinMV joins on a shared column name; align them.
        left = orders.withColumnRenamed("o_custkey", "custkey")
        right = t["customer"].select(
            F.col("c_custkey").alias("custkey"), "c_name"
        )
        join_mv = IncrementalJoinMV(
            spark,
            left=left,
            left_pk=["o_orderkey"],
            right=right,
            right_pk=["custkey"],
            join_key="custkey",
            out_cols=["custkey", "o_orderkey", "o_totalprice"],
            stores=StoreSet(spark, os.path.join(work, "join"), 4),
            shuffle_partitions=8,
        )
        join_mv.bootstrap(batch_id="b0")

        # Downstream agg MV bootstraps from the upstream target state.
        agg_mv = IncrementalAggMV(
            spark,
            fact=join_mv.read().select("o_orderkey", "custkey", "o_totalprice"),
            fact_pk=["o_orderkey"],
            group_key="custkey",
            measures=[
                Measure("count", None, "n_orders"),
                Measure("sum", "o_totalprice", "total_price_raw"),
            ],
            stores=StoreSet(spark, os.path.join(work, "agg"), 4),
            shuffle_partitions=8,
        )
        agg_mv.bootstrap(batch_id="b0")

        # Scripted upstream changelog: inserts then deletes on orders.
        b1 = (
            left.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            left.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        for bid, batch in (("b1", b1), ("b2", b2)):
            join_mv.refresh(batch, None, batch_id=bid)
            # The cascade edge: the rows the upstream target's merge
            # wrote are the downstream changelog (none: no change).
            downstream = join_mv.target.batch_delta(bid)
            if downstream is not None:
                agg_mv.refresh(
                    downstream.select(
                        "o_orderkey", "custkey", "o_totalprice", OP_COL, SEQ_COL
                    ),
                    batch_id=bid,
                )

        return (
            agg_mv.read()
            .select(
                F.col("custkey").alias("c_custkey"),
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_topk_incremental",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey, rank, o_orderkey, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM final_orders)
    WHERE rank <= 3
    """,
    doc=(
        "Per-group top-3 MV (non-invertible rank shape) maintained "
        "INCREMENTALLY through the scripted +I/-D/+U changelog via "
        "dirty-group re-rank (IncrementalTopKMV). Deletes inside the "
        "top-k promote successor rows; group-changing updates re-rank "
        "both groups; shrunk groups drop orphaned rank slots (-D)."
    ),
    tags=("mv", "incremental", "topk"),
)
def mv_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.mv import IncrementalTopKMV

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_topk_")
    try:
        mv = IncrementalTopKMV(
            spark,
            fact=t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
            fact_pk=["o_orderkey"],
            group_key="o_custkey",
            order_col="o_totalprice",
            out_cols=["o_orderkey", "o_totalprice"],
            k=3,
            stores=StoreSet(spark, work, 4),
            shuffle_partitions=8,
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            mv.refresh(b, batch_id=i)
        return mv.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_incremental",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM final_orders
    GROUP BY o_custkey
    """,
    doc=(
        "MVApp with the maintenance-strategy planner (planner.py): the "
        "canonical single-table GROUP BY is auto-routed to IncrementalAggMV "
        "— the engine's analog of the reference delegating incremental "
        "planning to Flink's update-mode planner (TiFlinkApp.java:270) — "
        "and maintained through the scripted +I/-D/+U changelog. The fn "
        "raises if the planner picked the recompute fallback, so a green "
        "row proves both the routing and the convergence."
    ),
    tags=("mv", "incremental", "planner"),
)
def mvapp_auto_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_auto_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_auto", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_custkey, count(*) AS n_orders,
                          sum(o_totalprice) AS total_price_raw,
                          min(o_totalprice) AS min_price,
                          max(o_totalprice) AS max_price
                   FROM orders_auto GROUP BY o_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_mode != "incremental":
            raise AssertionError("planner failed to route the agg shape")
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_auto": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_custkey",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
                "min_price",
                "max_price",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


_PRED = 250_000  # ~median o_totalprice: updates genuinely cross it both ways


@register(
    "mvapp_auto_filtered",
    f"""
    WITH final AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice - 100000
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_orderkey + {BIG}, o_custkey, o_totalprice * 2 FROM orders
    )
    SELECT o_custkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           max(o_totalprice) AS max_price
    FROM final WHERE o_totalprice > {_PRED}
    GROUP BY o_custkey
    """,
    doc=(
        "Filtered incremental MV via the planner: WHERE over the fact is "
        "maintained by the stateless-filter changelog rule (SURVEY §2.2 / "
        "changelog.apply_filter) — price updates push rows across the "
        "predicate in BOTH directions (leaving rows demote to -D, entering "
        "rows upsert), deletes and inserts interleave, and the MV still "
        "converges to the filtered batch answer."
    ),
    tags=("mv", "incremental", "planner", "filter"),
)
def mvapp_auto_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_filt_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_filt", t["orders"], pk=["o_orderkey"])
            .query(
                f"""SELECT o_custkey, count(*) AS n_orders,
                           sum(o_totalprice) AS total_price_raw,
                           max(o_totalprice) AS max_price
                    FROM orders_filt WHERE o_totalprice > {_PRED}
                    GROUP BY o_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_mode != "incremental":
            raise AssertionError("planner failed to route the filtered agg shape")
        orders = t["orders"]
        b1 = (
            orders.withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            orders.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") - 100000)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            orders.filter(F.col("o_orderkey") % 10 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.bootstrap()
        for i, b in enumerate((b1, b2, b3), start=1):
            app.refresh({"orders_filt": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_custkey",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
                "max_price",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_having",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey, round(sum(o_totalprice), 2) AS total_price
    FROM final_orders
    GROUP BY o_custkey
    HAVING count(*) >= 8
    """,
    doc=(
        "HAVING maintained incrementally — including AGGREGATE-CALL form: "
        "count(*) >= 8 is not in the select list, so the planner adds it "
        "as a HIDDEN measure of the same GROUP BY state and filters the "
        "target side on it (mv.IncrementalAggMV target_filter); read() "
        "projects the hidden column away. A group whose count crosses the "
        "threshold enters or leaves the view as the scripted changelog "
        "moves rows across groups. The fn raises unless the planner "
        "routed incrementally with the hidden measure."
    ),
    tags=("mv", "incremental", "planner", "filter"),
)
def mvapp_auto_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_hav_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_hav", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_custkey, sum(o_totalprice) AS total_price_raw
                   FROM orders_hav GROUP BY o_custkey
                   HAVING count(*) >= 8"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_mode != "incremental":
            raise AssertionError("planner failed to route the HAVING agg shape")
        if "__hav0" not in {mm.alias for mm in app._mv.measures}:
            raise AssertionError("HAVING count(*) was not routed as a hidden measure")
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_hav": b}, batch_id=i)
        return (
            app.read()
            .select("o_custkey", F.round("total_price_raw", 2).alias("total_price"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_join",
    f"""
    WITH final_orders AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 8 = 0 AND o_orderkey % 9 <> 0
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS custkey,
               CASE WHEN o_orderkey % 4 = 0 AND o_orderkey % 9 <> 0
                    THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 9 <> 0
        UNION ALL
        SELECT o_orderkey + {BIG}, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 50 = 0
    ),
    final_customer AS (
        SELECT c_custkey AS custkey,
               CASE WHEN c_custkey % 3 = 0 THEN c_name || '*' ELSE c_name END AS c_name
        FROM customer WHERE c_custkey % 11 <> 0
    )
    SELECT o_orderkey, custkey, o_totalprice, c_name
    FROM final_orders JOIN final_customer USING (custkey)
    """,
    doc=(
        "Two-sided equi-join MV auto-routed by the planner (USING form -> "
        "IncrementalJoinMV, dirty-join-key recompute): the same churn "
        "script as mv_join_incremental — order deletes / join-key-moving "
        "updates, customer renames and deletes, late inserts — driven "
        "through the MVApp builder API. The fn raises unless the planner "
        "routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    left = t["orders"].select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    right = t["customer"].select(F.col("c_custkey").alias("custkey"), "c_name")
    work = tempfile.mkdtemp(prefix="mvapp_join_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_j", left, pk=["o_orderkey"])
            .source("customer_j", right, pk=["custkey"])
            .query(
                "SELECT o_orderkey, custkey, o_totalprice, c_name "
                "FROM orders_j JOIN customer_j USING (custkey)"
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_mode != "incremental":
            raise AssertionError("planner failed to route the join shape")
        app.bootstrap()

        b1_del = left.filter(F.col("o_orderkey") % 9 == 0).withColumn(
            OP_COL, F.lit(OP_DELETE)
        )
        b1_upd = (
            left.filter((F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") % 9 != 0))
            .withColumn(
                "custkey",
                F.when(F.col("o_orderkey") % 8 == 0, F.col("custkey") % 100 + 1).otherwise(
                    F.col("custkey")
                ),
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + 10)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
        )
        b1 = b1_del.unionByName(b1_upd).withColumn(SEQ_COL, F.monotonically_increasing_id())
        app.refresh({"orders_j": b1}, batch_id=1)

        b2_upd = (
            right.filter(F.col("custkey") % 3 == 0)
            .withColumn("c_name", F.concat(F.col("c_name"), F.lit("*")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
        )
        b2_del = right.filter(F.col("custkey") % 11 == 0).withColumn(OP_COL, F.lit(OP_DELETE))
        b2 = b2_upd.unionByName(b2_del).withColumn(SEQ_COL, F.monotonically_increasing_id())
        app.refresh({"customer_j": b2}, batch_id=2)

        b3 = (
            left.filter(F.col("o_orderkey") % 50 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_j": b3}, batch_id=3)

        return app.read().select(
            "o_orderkey", "custkey", "o_totalprice", "c_name"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_join_agg",
    f"""
    WITH {_FINAL_ORDERS_SQL},
    final_customer AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN (c_nationkey + 7) % 25
                    ELSE c_nationkey END AS c_nationkey
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_nationkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_totalprice) AS min_price
    FROM final_orders o JOIN final_customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_nationkey
    """,
    doc=(
        "The canonical star-join aggregate (fact JOIN dim ON fk = pk "
        "GROUP BY dim attr) auto-routed by the planner to "
        "IncrementalJoinAggMV — dirty-join-key re-derivation of the "
        "joined relation feeding the aggregate state merge, the shape "
        "the reference gets from Flink's update-mode planner "
        "(TiFlinkApp.java:270). Maintained through two-sided churn: the "
        "scripted orders +I/-D/+U script PLUS dim churn that moves "
        "customers across nations (whole groups shift) and deletes "
        "customers (their orders leave the inner join). The fn raises "
        "unless the planner routed to IncrementalJoinAggMV, so a green "
        "row proves routing, qualified-column matching, and convergence."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_ja_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_ja", t["orders"], pk=["o_orderkey"])
            .source("customer_ja", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c.c_nationkey, count(*) AS n_orders,
                          sum(o.o_totalprice) AS total_price_raw,
                          min(o.o_totalprice) AS min_price
                   FROM orders_ja o JOIN customer_ja c
                     ON o.o_custkey = c.c_custkey
                   GROUP BY c.c_nationkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed join+agg to {app.maintenance_strategy}, "
                "not IncrementalJoinAggMV"
            )
        app.bootstrap()
        cust = t["customer"]
        dim_batch = (
            cust.filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        batches = scripted_batches(t["orders"])
        app.refresh({"orders_ja": batches[0]}, batch_id=1)
        app.refresh({"customer_ja": dim_batch}, batch_id=2)
        app.refresh({"orders_ja": batches[1]}, batch_id=3)
        app.refresh({"orders_ja": batches[2]}, batch_id=4)
        return (
            app.read()
            .select(
                "c_nationkey",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
                "min_price",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_star_agg",
    """
    WITH final_orders_sn AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 9 <> 0
    ),
    final_customer_sn AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN (c_nationkey + 7) % 25
                    ELSE c_nationkey END AS c_nationkey
        FROM customer WHERE c_custkey % 10 <> 4
    ),
    final_nation_sn AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 3 = 0 THEN n_name || '_X'
                    ELSE n_name END AS n_name
        FROM nation WHERE n_nationkey <> 7
    )
    SELECT n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_sn o
      JOIN final_customer_sn c ON o.o_custkey = c.c_custkey
      JOIN final_nation_sn n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
    doc=(
        "Snowflake-join aggregate MV (orders -> customer -> nation, the "
        "leaf dim TWO hops from the fact) auto-routed by the planner to "
        "IncrementalJoinAggMV with a multi-dim join tree. Churned on "
        "ALL THREE tables: fact deletes/price updates, middle-dim "
        "nation moves and deletes, leaf-dim renames (whole groups "
        "re-key) and a delete. Leaf-dim dirt reaches the fact only by "
        "propagating through the customer hop — a green row proves "
        "multi-hop dirty-key propagation, N-dim matching, and "
        "convergence. Reference analog: Flink's update-mode planner "
        "maintains arbitrary join trees the same way (TiFlinkApp.java:270)."
    ),
    tags=("mv", "incremental", "planner", "join", "snowflake"),
)
def mvapp_auto_star_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_snow_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_sn", t["orders"], pk=["o_orderkey"])
            .source("cust_sn", t["customer"], pk=["c_custkey"])
            .source("nat_sn", t["nation"], pk=["n_nationkey"])
            .query(
                """SELECT n.n_name,
                          count(*) AS n_orders,
                          sum(o.o_totalprice) AS total_raw
                   FROM ord_sn o
                     JOIN cust_sn c ON o.o_custkey = c.c_custkey
                     JOIN nat_sn n ON c.c_nationkey = n.n_nationkey
                   GROUP BY n.n_name"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed snowflake join+agg to {app.maintenance_strategy}"
            )
        b1 = (
            t["orders"].filter(F.col("o_orderkey") % 9 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                t["orders"].filter(
                    (F.col("o_orderkey") % 9 != 0) & (F.col("o_orderkey") % 4 == 0)
                )
                .withColumn("o_totalprice", F.col("o_totalprice") + 10)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            t["nation"].filter(F.col("n_nationkey") % 3 == 0)
            .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_X")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["nation"].filter(F.col("n_nationkey") == 7).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.bootstrap()
        app.refresh({"ord_sn": b1}, batch_id=1)
        app.refresh({"cust_sn": b2}, batch_id=2)
        app.refresh({"nat_sn": b3}, batch_id=3)
        return (
            app.read()
            .select(
                "n_name",
                "n_orders",
                F.round("total_raw", 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_distinct",
    f"""
    WITH final_orders_dd AS (
        SELECT o_custkey,
               CASE WHEN o_custkey % 10 = 1 THEN '9-SYNTH'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_custkey % 10 <> 2
        UNION ALL
        SELECT o_custkey + {BIG}, '9-NEW'
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT DISTINCT o_custkey, o_orderpriority
    FROM final_orders_dd WHERE o_custkey % 3 = 0
    """,
    doc=(
        "SELECT DISTINCT auto-routed by the planner to the "
        "count-per-key IncrementalAggMV (a key's first arrival inserts "
        "the MV row, its last departure deletes it — the count-based "
        "DISTINCT maintenance of every update-mode planner, here with "
        "a row-local WHERE kept incremental via the changelog filter "
        "rule). Churn: priority moves re-key pairs, customer deletes "
        "drain keys to zero, inserts create brand-new pairs. The fn "
        "raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "dedup"),
)
def mvapp_auto_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_dd_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_dd", t["orders"], pk=["o_orderkey"])
            .query(
                "SELECT DISTINCT o_custkey, o_orderpriority "
                "FROM orders_dd WHERE o_custkey % 3 = 0"
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_mode != "incremental":
            raise AssertionError("planner failed to route SELECT DISTINCT")
        app.bootstrap()
        ords = t["orders"]
        b1 = (
            ords.filter(F.col("o_custkey") % 10 == 1)
            .withColumn("o_orderpriority", F.lit("9-SYNTH"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                ords.filter(F.col("o_custkey") % 10 == 2).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_dd": b1}, batch_id=1)
        b2 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn("o_custkey", F.col("o_custkey") + BIG)
            .withColumn("o_orderpriority", F.lit("9-NEW"))
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_dd": b2}, batch_id=2)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_left_join_agg",
    """
    WITH final_customer_lj AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0
    ),
    final_orders_lj AS (
        SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 8 <> 0
    )
    SELECT o_orderpriority,
           count(*) AS n_all,
           count(c_name) AS n_matched,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_lj o
      LEFT JOIN final_customer_lj c ON o.o_custkey = c.c_custkey
    GROUP BY o_orderpriority
    """,
    doc=(
        "LEFT-JOIN aggregate MV auto-routed to IncrementalJoinAggMV "
        "with how=left: unmatched fact rows STAY in the view with NULL "
        "dim columns instead of leaving the join, so count(*) holds "
        "while count(dim_col) drops as the dim churns. Dim deletes move "
        "whole groups of rows from matched to unmatched; fact deletes "
        "retract. A green row proves the preserved-side semantics "
        "survive incremental maintenance."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_lj_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_lj", t["orders"], pk=["o_orderkey"])
            .source("cust_lj", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT o_orderpriority, count(*) AS n_all,
                          count(c_name) AS n_matched,
                          sum(o_totalprice) AS total_raw
                   FROM ord_lj o LEFT JOIN cust_lj c
                     ON o.o_custkey = c.c_custkey
                   GROUP BY o_orderpriority"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed left join+agg to {app.maintenance_strategy}"
            )
        app.bootstrap()
        b1 = (
            t["customer"].filter(F.col("c_custkey") % 3 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"cust_lj": b1}, batch_id=1)
        b2 = (
            t["orders"].filter(F.col("o_orderkey") % 8 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_lj": b2}, batch_id=2)
        return (
            app.read()
            .select(
                "o_orderpriority",
                "n_all",
                "n_matched",
                F.round("total_raw", 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_topn",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM final_orders) WHERE rn <= 2
    """,
    doc=(
        "Per-group Top-N MV auto-routed by the planner: the ROW_NUMBER "
        "<= k SQL pattern (the exact shape Flink's update-mode planner "
        "special-cases as its Top-N operator) routes to "
        "IncrementalTopKMV dirty-group re-ranking. The canonical "
        "3-batch churn script moves orders across customers (groups "
        "shrink below k, lower rows promote; groups grow, slots "
        "displace). The fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "topk"),
)
def mvapp_auto_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_tn_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_tn", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_custkey, o_orderkey, rn FROM (
                     SELECT *, ROW_NUMBER() OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey) AS rn
                     FROM orders_tn) t WHERE rn <= 2"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalTopKMV":
            raise AssertionError(
                f"planner routed Top-N to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_tn": b}, batch_id=i)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_star_streaming",
    """
    WITH final_orders_sn AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 9 <> 0
    ),
    final_customer_sn AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN (c_nationkey + 7) % 25
                    ELSE c_nationkey END AS c_nationkey
        FROM customer WHERE c_custkey % 10 <> 4
    ),
    final_nation_sn AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 3 = 0 THEN n_name || '_X'
                    ELSE n_name END AS n_name
        FROM nation WHERE n_nationkey <> 7
    )
    SELECT n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_sn o
      JOIN final_customer_sn c ON o.o_custkey = c.c_custkey
      JOIN final_nation_sn n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
    doc=(
        "END-TO-END streaming snowflake MV: the three-table churn "
        "script (fact, middle dim, leaf dim) is written as changelog "
        "directories, consumed by spark.readStream file sources through "
        "MVApp.start_streaming, and applied via writeStream.foreachBatch "
        "-> IncrementalJoinAggMV.refresh (MERGE into the versioned "
        "keyed store) — the reference's full multi-source pipeline "
        "(TiFlinkApp.java:70-116) on the multi-dim maintenance route, "
        "proving the planner's join tree survives the real streaming "
        "lifecycle, not just scripted refresh calls."
    ),
    tags=("mv", "streaming", "planner", "join", "snowflake"),
)
def mvapp_star_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_snowstream_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_ss", t["orders"], pk=["o_orderkey"])
            .source("cust_ss", t["customer"], pk=["c_custkey"])
            .source("nat_ss", t["nation"], pk=["n_nationkey"])
            .query(
                """SELECT n.n_name,
                          count(*) AS n_orders,
                          sum(o.o_totalprice) AS total_raw
                   FROM ord_ss o
                     JOIN cust_ss c ON o.o_custkey = c.c_custkey
                     JOIN nat_ss n ON c.c_nationkey = n.n_nationkey
                   GROUP BY n.n_name"""
            )
            .target(os.path.join(work, "mv"))
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed snowflake join+agg to {app.maintenance_strategy}"
            )
        b_ord = (
            t["orders"].filter(F.col("o_orderkey") % 9 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                t["orders"].filter(
                    (F.col("o_orderkey") % 9 != 0) & (F.col("o_orderkey") % 4 == 0)
                )
                .withColumn("o_totalprice", F.col("o_totalprice") + 10)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_nat = (
            t["nation"].filter(F.col("n_nationkey") % 3 == 0)
            .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_X")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["nation"].filter(F.col("n_nationkey") == 7).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        dirs = {}
        for name, b in (("ord_ss", b_ord), ("cust_ss", b_cust), ("nat_ss", b_nat)):
            d = os.path.join(work, f"chlog_{name}")
            b.coalesce(1).write.mode("overwrite").parquet(d)
            dirs[name] = d
        app.bootstrap()
        app.start_streaming(dirs, checkpoint_dir=os.path.join(work, "ckpt"))
        return (
            app.read()
            .select(
                "n_name",
                "n_orders",
                F.round("total_raw", 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_stats_agg",
    f"""
    WITH final_orders_sa AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        FROM (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_orderpriority, o_totalprice * 2
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT o_orderpriority,
           count(*) AS n,
           round(stddev_samp(o_totalprice), 2) AS sd_price,
           round(var_samp(o_totalprice) / 1000000, 2) AS var_price_m,
           round(sum(DISTINCT o_totalprice), 2) AS sdist,
           round(avg(DISTINCT o_totalprice), 2) AS adist
    FROM final_orders_sa GROUP BY o_orderpriority
    """,
    doc=(
        "STDDEV/VARIANCE and SUM/AVG(DISTINCT) maintained incrementally "
        "(planner-routed IncrementalAggMV): all four are non-invertible "
        "— the estimators suffer catastrophic cancellation under heavy "
        "retraction, and DISTINCT strips the multiplicities delta "
        "arithmetic relies on — so they ride the dirty-group recompute "
        "path (one stable pass over touched groups only), composing "
        "freely with invertible COUNT in the same view. Churn: deletes, "
        "price updates, and doubled-price inserts across all groups."
    ),
    tags=("mv", "incremental", "planner", "stats"),
)
def mvapp_auto_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_sa_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_sa", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderpriority, count(*) AS n,
                          stddev(o_totalprice) AS sd_raw,
                          variance(o_totalprice) AS var_raw,
                          sum(DISTINCT o_totalprice) AS sdist_raw,
                          avg(DISTINCT o_totalprice) AS adist_raw
                   FROM orders_sa GROUP BY o_orderpriority"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalAggMV":
            raise AssertionError(
                f"planner routed stats agg to {app.maintenance_strategy}"
            )
        app.bootstrap()
        ords = t["orders"]
        b1 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            ords.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 100)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        for i, b in enumerate((b1, b2, b3), start=1):
            app.refresh({"orders_sa": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderpriority",
                "n",
                F.round("sd_raw", 2).alias("sd_price"),
                # variance magnitude ~1e10: present in millions so the
                # rounding grain sits far above cross-engine double ulp
                F.round(F.col("var_raw") / 1_000_000, 2).alias("var_price_m"),
                F.round("sdist_raw", 2).alias("sdist"),
                F.round("adist_raw", 2).alias("adist"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_union",
    """
    WITH final_east AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 8 = 2 THEN o_totalprice + 5
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 8 <> 0
    ),
    final_west AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 <> 0
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM (SELECT * FROM final_east UNION ALL SELECT * FROM final_west)
    """,
    doc=(
        "Multi-source UNION ALL ingestion MV auto-routed to "
        "IncrementalUnionMV — the one set operation that is stateless "
        "under changelogs: each branch's changes project straight into "
        "the target keyed by (branch tag, PK), no joins and no state "
        "reads, per-batch work = the batch itself. Two disjoint 'region "
        "shards' of orders churn independently (deletes + price "
        "updates on each side). The fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "union"),
)
def mvapp_auto_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    east = t["orders"].filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    west = t["orders"].filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="mvapp_un_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_east", east, pk=["o_orderkey"])
            .source("ord_west", west, pk=["o_orderkey"])
            .query(
                "SELECT o_orderkey, o_custkey, o_totalprice FROM ord_east "
                "UNION ALL "
                "SELECT o_orderkey, o_custkey, o_totalprice FROM ord_west"
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalUnionMV":
            raise AssertionError(
                f"planner routed UNION ALL to {app.maintenance_strategy}"
            )
        app.bootstrap()
        b_east = (
            east.filter(F.col("o_orderkey") % 8 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                east.filter(F.col("o_orderkey") % 8 == 2)
                .withColumn("o_totalprice", F.col("o_totalprice") + 5)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_west = (
            west.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                west.filter(
                    (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 != 0)
                )
                .withColumn("o_totalprice", F.col("o_totalprice") * 2)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_east": b_east}, batch_id=1)
        app.refresh({"ord_west": b_west}, batch_id=2)
        return (
            app.read()
            .select(
                "o_orderkey",
                "o_custkey",
                F.round("o_totalprice", 2).alias("price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_corr_sum",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT c_custkey, c_name,
           round(coalesce((SELECT sum(o.o_totalprice) FROM final_orders o
                           WHERE o.o_custkey = c.c_custkey), 0), 2) AS total
    FROM customer c
    """,
    doc=(
        "The flagship correlated-scalar shape generalized beyond "
        "COUNT(*): a correlated SUM over the fact decorrelates to the "
        "dim-joined IncrementalAggMV exactly like the reference's "
        "count view (TiFlinkExample.java:10-16), maintained through "
        "the canonical churn script (inserts, deletes, customer-moving "
        "updates). NULL-for-empty scalar-subquery semantics are "
        "preserved by the LEFT JOIN (coalesced to 0 only in this "
        "gate's presentation, identically on both engines)."
    ),
    tags=("mv", "incremental", "planner", "flagship"),
)
def mvapp_auto_corr_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_cs_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_cs", t["orders"], pk=["o_orderkey"])
            .source("customer_cs", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_custkey, c_name,
                          (SELECT sum(o.o_totalprice) FROM orders_cs o
                           WHERE o.o_custkey = c.c_custkey) AS total_raw
                   FROM customer_cs c"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalAggMV":
            raise AssertionError(
                f"planner routed correlated SUM to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_cs": b}, batch_id=i)
        return (
            app.read()
            .select(
                "c_custkey",
                "c_name",
                F.round(F.coalesce(F.col("total_raw"), F.lit(0)), 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_time_rollup",
    f"""
    WITH final_orders_tr AS (
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
        FROM (
            SELECT o_orderkey, o_orderdate, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_orderdate, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT date_trunc('day', o_orderdate) AS day,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_tr
    GROUP BY date_trunc('day', o_orderdate)
    """,
    doc=(
        "Time-grain rollup MV with a COMPUTED group key: GROUP BY "
        "date_trunc('day', ts) auto-routes to IncrementalAggMV — the "
        "planner derives the expression onto the fact rows (bootstrap "
        "and every changelog batch), after which the day column "
        "behaves exactly like a stored key. The canonical churn script "
        "(inserts, deletes, price updates) moves per-day counts and "
        "sums. This is the hypertable-style continuous-aggregate shape "
        "every metrics pipeline maintains."
    ),
    tags=("mv", "incremental", "planner", "time"),
)
def mvapp_auto_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_tr_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_tr", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT date_trunc('day', o_orderdate) AS day,
                          count(*) AS n,
                          sum(o_totalprice) AS total_raw
                   FROM orders_tr
                   GROUP BY date_trunc('day', o_orderdate)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalAggMV":
            raise AssertionError(
                f"planner routed time rollup to {app.maintenance_strategy}"
            )
        app.bootstrap()
        ords = t["orders"]
        b1 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            ords.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 50)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        for i, b in enumerate((b1, b2, b3), start=1):
            app.refresh({"orders_tr": b}, batch_id=i)
        return (
            app.read()
            .select("day", "n", F.round("total_raw", 2).alias("total"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_deep_chain",
    """
    WITH final_orders_dc AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 6 <> 0
    ),
    final_customer_dc AS (
        SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 12 <> 5
    ),
    final_region_dc AS (
        SELECT r_regionkey,
               CASE WHEN r_regionkey % 2 = 0 THEN r_name || '_R'
                    ELSE r_name END AS r_name
        FROM region WHERE r_regionkey <> 3
    )
    SELECT r_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_dc o
      JOIN final_customer_dc c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN final_region_dc r ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name
    """,
    doc=(
        "FOUR-table, THREE-hop snowflake chain (orders -> customer -> "
        "nation -> region) auto-routed to IncrementalJoinAggMV. The "
        "leaf dim (region) sits three joins from the fact: its churn "
        "(renames re-keying whole groups, one delete emptying a "
        "region) must propagate through nation AND customer to reach "
        "the orders that move — a green row proves arbitrary-depth "
        "dirty-key propagation, not just the 2-hop case."
    ),
    tags=("mv", "incremental", "planner", "join", "snowflake"),
)
def mvapp_auto_deep_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_dc_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_dc", t["orders"], pk=["o_orderkey"])
            .source("cust_dc", t["customer"], pk=["c_custkey"])
            .source("nat_dc", t["nation"], pk=["n_nationkey"])
            .source("reg_dc", t["region"], pk=["r_regionkey"])
            .query(
                """SELECT r.r_name,
                          count(*) AS n_orders,
                          sum(o.o_totalprice) AS total_raw
                   FROM ord_dc o
                     JOIN cust_dc c ON o.o_custkey = c.c_custkey
                     JOIN nat_dc n ON c.c_nationkey = n.n_nationkey
                     JOIN reg_dc r ON n.n_regionkey = r.r_regionkey
                   GROUP BY r.r_name"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed deep chain to {app.maintenance_strategy}"
            )
        app.bootstrap()
        b1 = (
            t["orders"].filter(F.col("o_orderkey") % 6 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_dc": b1}, batch_id=1)
        b2 = (
            t["customer"].filter(F.col("c_custkey") % 12 == 5)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"cust_dc": b2}, batch_id=2)
        # leaf churn, three hops from the fact
        b3 = (
            t["region"].filter(F.col("r_regionkey") % 2 == 0)
            .withColumn("r_name", F.concat(F.col("r_name"), F.lit("_R")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["region"].filter(F.col("r_regionkey") == 3).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"reg_dc": b3}, batch_id=3)
        return (
            app.read()
            .select(
                "r_name",
                "n_orders",
                F.round("total_raw", 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_setops",
    """
    WITH east_f AS (
        SELECT o_custkey FROM orders
        WHERE o_orderkey % 2 = 0 AND o_custkey % 5 <> 0),
    west_f AS (
        SELECT o_custkey FROM orders
        WHERE o_orderkey % 2 = 1 AND o_custkey % 2 <> 0)
    SELECT 'intersect' AS op, o_custkey
    FROM (SELECT o_custkey FROM east_f INTERSECT SELECT o_custkey FROM west_f)
    UNION ALL
    SELECT 'except' AS op, o_custkey
    FROM (SELECT o_custkey FROM east_f EXCEPT SELECT o_custkey FROM west_f)
    UNION ALL
    SELECT 'union' AS op, o_custkey
    FROM (SELECT o_custkey FROM east_f UNION SELECT o_custkey FROM west_f)
    """,
    doc=(
        "INTERSECT, EXCEPT, and UNION (set semantics) auto-routed to "
        "IncrementalSetOpMV: dual hidden count-per-tuple state per "
        "side, membership re-evaluated only for tuples a batch touches "
        "— the dual-count maintenance Flink's update-mode planner uses "
        "for the same ops (UNION's rule is presence on EITHER side, so "
        "a tuple survives one side's total departure). Churn deletes "
        "ALL of one side's rows for half the key space, draining tuples "
        "out of the intersect and into the except. All ops' final "
        "states returned under an op tag; the fns raise unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "setop"),
)
def mvapp_auto_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    east = t["orders"].filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    west = t["orders"].filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey"
    )
    out = None
    for op in ("INTERSECT", "EXCEPT", "UNION"):
        work = tempfile.mkdtemp(prefix=f"mvapp_so_{op}_")
        try:
            app = (
                MVApp.builder(spark)
                .source(f"east_{op}", east, pk=["o_orderkey"])
                .source(f"west_{op}", west, pk=["o_orderkey"])
                .query(
                    f"SELECT o_custkey FROM east_{op} {op} "
                    f"SELECT o_custkey FROM west_{op}"
                )
                .target(work)
                .num_buckets(4)
                .shuffle_partitions(8)
                .build()
            )
            if app.maintenance_strategy != "IncrementalSetOpMV":
                raise AssertionError(
                    f"planner routed {op} to {app.maintenance_strategy}"
                )
            app.bootstrap()
            w_del = (
                west.filter(F.col("o_custkey") % 2 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            e_del = (
                east.filter(F.col("o_custkey") % 5 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({f"west_{op}": w_del}, batch_id=1)
            app.refresh({f"east_{op}": e_del}, batch_id=2)
            part = app.read().select(
                F.lit(op.lower()).alias("op"), "o_custkey"
            ).localCheckpoint(eager=True)
            out = part if out is None else out.unionByName(part)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "mvapp_auto_filter_agg",
    f"""
    WITH final_orders_fa AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS o_custkey,
               o_totalprice, o_orderstatus, o_orderpriority
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderpriority
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_totalprice, o_orderstatus, o_orderpriority
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT o_custkey,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), -1), 2) AS urgent_rev,
           coalesce(max(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), -1) AS max_open
    FROM final_orders_fa
    GROUP BY o_custkey
    """,
    doc=(
        "Conditional (FILTER-clause) aggregates maintained incrementally: "
        "the planner rewrites agg(x) FILTER (WHERE row-local-pred) to its "
        "CASE form (count(CASE WHEN p THEN 1 END) / agg(CASE WHEN p THEN "
        "x END)) and routes to IncrementalAggMV — invertible kinds merge "
        "by delta arithmetic, MAX FILTER rides the dirty-group recompute. "
        "The fn raises unless the planner routed incrementally; the "
        "scripted +I/-D/+U churn moves group keys, so a green row proves "
        "FILTER semantics (NULL when no qualifying row — surfaced via "
        "coalesce so the hash pins it) converge to the batch answer."
    ),
    tags=("mv", "incremental", "planner", "filter"),
)
def mvapp_auto_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_fa_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_fa", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_custkey,
                          count(*) AS n_orders,
                          count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
                          sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_rev_raw,
                          max(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS max_open_raw
                   FROM orders_fa
                   GROUP BY o_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalAggMV":
            raise AssertionError(
                f"planner routed FILTER aggregates to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_fa": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_custkey",
                "n_orders",
                "n_finished",
                F.round(F.coalesce("urgent_rev_raw", F.lit(-1)), 2).alias("urgent_rev"),
                F.coalesce("max_open_raw", F.lit(-1)).alias("max_open"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_join_rollup",
    f"""
    WITH final_orders_jr AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_orderdate, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    ),
    final_customer_jr AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN (c_nationkey + 7) % 25
                    ELSE c_nationkey END AS c_nationkey
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_nationkey,
           date_trunc('month', o_orderdate) AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM final_orders_jr o JOIN final_customer_jr c ON o.o_custkey = c.c_custkey
    GROUP BY c_nationkey, month
    """,
    doc=(
        "Star-join time-grain rollup: a COMPUTED group key "
        "(date_trunc('month', fact ts)) over fact JOIN dim auto-routes "
        "to IncrementalJoinAggMV — the planner derives the expression "
        "onto every joined-relation row (bootstrap and each per-batch "
        "J-changelog), so the month key behaves like a stored column "
        "while dim churn (customers moving nations, deletes) still "
        "re-derives only reachable fact rows. The canonical "
        "revenue-by-month-by-region MV every reporting pipeline "
        "maintains; the fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "join", "time"),
)
def mvapp_auto_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_jr_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_jr", t["orders"], pk=["o_orderkey"])
            .source("customer_jr", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c.c_nationkey,
                          date_trunc('month', o.o_orderdate) AS month,
                          count(*) AS n_orders,
                          sum(o.o_totalprice) AS revenue_raw
                   FROM orders_jr o JOIN customer_jr c
                     ON o.o_custkey = c.c_custkey
                   GROUP BY c.c_nationkey, month"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed join rollup to {app.maintenance_strategy}"
            )
        app.bootstrap()
        ords, cust = t["orders"], t["customer"]
        b1 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            ords.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 50)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        dim_batch = (
            cust.filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_jr": b1}, batch_id=1)
        app.refresh({"customer_jr": dim_batch}, batch_id=2)
        app.refresh({"orders_jr": b2}, batch_id=3)
        app.refresh({"orders_jr": b3}, batch_id=4)
        return (
            app.read()
            .select(
                "c_nationkey",
                "month",
                "n_orders",
                F.round("revenue_raw", 2).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_global_agg",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           round(min(o_totalprice), 2) AS min_price,
           count(DISTINCT o_custkey) AS n_custs
    FROM final_orders
    WHERE o_totalprice > 500
    """,
    doc=(
        "Global (no GROUP BY) aggregate MV — the dashboard-total view — "
        "auto-routed to IncrementalAggMV keyed by a derived constant. "
        "COUNT/SUM merge by delta arithmetic, MIN and COUNT DISTINCT by "
        "dirty-group recompute; the row-local WHERE stays incremental "
        "via the changelog filter rule, and the single row would survive "
        "table emptiness at its zero state (COUNT 0, SUM/MIN NULL — "
        "SQL's empty-input global aggregate). The fn raises unless "
        "routed incrementally; the scripted +I/-D/+U churn proves "
        "convergence to the batch answer."
    ),
    tags=("mv", "incremental", "planner", "global"),
)
def mvapp_auto_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_ga_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_ga", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT count(*) AS n_orders,
                          sum(o_totalprice) AS revenue_raw,
                          min(o_totalprice) AS min_price_raw,
                          count(DISTINCT o_custkey) AS n_custs
                   FROM orders_ga
                   WHERE o_totalprice > 500"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalAggMV" or not getattr(
            app._mv, "global_group", False
        ):
            raise AssertionError(
                f"planner routed the global aggregate to {app.maintenance_strategy} "
                f"(global_group={getattr(app._mv, 'global_group', None)})"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_ga": b}, batch_id=i)
        return (
            app.read()
            .select(
                "n_orders",
                F.round("revenue_raw", 2).alias("revenue"),
                F.round("min_price_raw", 2).alias("min_price"),
                "n_custs",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_join_on",
    f"""
    WITH final_orders_jo AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    final_customer_jo AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN c_name || '_X' ELSE c_name END AS c_name
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM final_orders_jo o JOIN final_customer_jo c ON o.o_custkey = c.c_custkey
    """,
    doc=(
        "Bare ON-form equi-join MV (no aggregate): table aliases and "
        "qualified references resolve per side and route to "
        "IncrementalJoinMV dirty-join-key recompute with changelogs on "
        "BOTH sides — the differently-named key pair (o_custkey = "
        "c_custkey) is the case the USING-form route could not express. "
        "Churn: fact deletes, dim renames, and dim deletes (their "
        "orders leave the join). The fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_join_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_jo_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_jo", t["orders"], pk=["o_orderkey"])
            .source("customer_jo", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_totalprice
                   FROM orders_jo o JOIN customer_jo c
                     ON o.o_custkey = c.c_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinMV":
            raise AssertionError(
                f"planner routed the ON-form join to {app.maintenance_strategy}"
            )
        app.bootstrap()
        ords, cust = t["orders"], t["customer"]
        b1 = (
            ords.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            cust.filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_name", F.concat(F.col("c_name"), F.lit("_X")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_jo": b1}, batch_id=1)
        app.refresh({"customer_jo": b2}, batch_id=2)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_order_limit",
    f"""
    WITH final_orders_ol AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_totalprice + 500000 ELSE o_totalprice END AS o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM final_orders_ol
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    doc=(
        "Global ORDER BY + LIMIT MV (top-k without PARTITION BY) "
        "auto-routed to IncrementalGlobalTopKMV: while a batch touches "
        "no current member the k-th sort value is a rising bound, so "
        "the new top-k is topk(old members + changed rows) — a "
        "k+batch-sized candidate set; member deletes/updates trigger "
        "one TakeOrdered re-rank of the fact store (no sort shuffle). "
        "The scripted churn exercises both paths: inserts and +500k "
        "price boosts push rows in via the candidate merge, and the "
        "deletes of o_orderkey % 7 rows remove current members. The fn "
        "raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "topk"),
)
def mvapp_auto_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_ol_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_ol", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_ol
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGlobalTopKMV":
            raise AssertionError(
                f"planner routed ORDER BY+LIMIT to {app.maintenance_strategy}"
            )
        app.bootstrap()
        ords = t["orders"]
        b1 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            ords.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 500000)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        for i, b in enumerate((b1, b2, b3), start=1):
            app.refresh({"orders_ol": b}, batch_id=i)
        return (
            app.read()
            .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_order_limit_multi",
    f"""
    WITH final_orders_olm AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_totalprice + 500000 ELSE o_totalprice END AS o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM final_orders_olm
    ORDER BY o_custkey ASC, o_totalprice DESC, o_orderkey DESC LIMIT 25
    """,
    doc=(
        "Global top-k whose ORDER BY is MULTI-COLUMN with mixed "
        "per-column directions and the PK in a non-trailing position "
        "(custkey ASC, price DESC, orderkey DESC) — routed because the "
        "order column set covers the declared PK (provably total), the "
        "generalization of the old literal trailing-PK rule (r6, the "
        "same totality rule as the per-row window route). Same "
        "3-batch churn as mvapp_auto_order_limit. The fn raises "
        "unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "topk"),
)
def mvapp_auto_order_limit_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_olm_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_olm", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_olm
                   ORDER BY o_custkey ASC, o_totalprice DESC, o_orderkey DESC
                   LIMIT 25"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGlobalTopKMV":
            raise AssertionError(
                f"planner routed multi-dir ORDER BY+LIMIT to {app.maintenance_strategy}"
            )
        app.bootstrap()
        ords = t["orders"]
        b1 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            ords.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 500000)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        for i, b in enumerate((b1, b2, b3), start=1):
            app.refresh({"orders_olm": b}, batch_id=i)
        app.refresh({"orders_olm": b3}, batch_id=3)  # crash replay: no-op
        return (
            app.read()
            .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _semijoin_churn(spark: SparkSession, sf_dir: str, query: str, select_fn):
    """Shared lifecycle for the EXISTS/NOT EXISTS gates: build, assert
    the semi-join route, churn both sides, return the final MV state.

    Script: B1 deletes every order of customers ≡ 0 (mod 25) — those
    customers lose their last order (membership flips); B2 deletes
    customers ≡ 4 (mod 10) and renames ≡ 3 (mod 10); B3 inserts new
    orders at key+BIG routed to customers 25 and 50 — previously
    orderless customers regain membership.
    """
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_sj_")
    try:
        app = (
            MVApp.builder(spark)
            .source("cust_sj", t["customer"], pk=["c_custkey"])
            .source("ord_sj", t["orders"], pk=["o_orderkey"])
            .query(query)
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalSemiJoinMV":
            raise AssertionError(
                f"planner routed the existence filter to {app.maintenance_strategy}"
            )
        app.bootstrap()
        cust, ords = t["customer"], t["orders"]
        b1 = (
            ords.filter(F.col("o_custkey") % 25 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            cust.filter(F.col("c_custkey") % 10 == 4)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 3)
                .withColumn("c_name", F.concat(F.col("c_name"), F.lit("_X")))
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 200 == 0, F.lit(25)).otherwise(F.lit(50)),
            )
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_sj": b1}, batch_id=1)
        app.refresh({"cust_sj": b2}, batch_id=2)
        app.refresh({"ord_sj": b3}, batch_id=3)
        return select_fn(app.read()).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_FINAL_SJ_SQL = f"""
    final_orders_sj AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 25 <> 0
        UNION ALL
        SELECT o_orderkey + {BIG},
               CASE WHEN (o_orderkey + {BIG}) % 200 = 0 THEN 25 ELSE 50 END AS o_custkey
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    final_customer_sj AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN c_name || '_X' ELSE c_name END AS c_name,
               c_acctbal
        FROM customer WHERE c_custkey % 10 <> 4
    )
"""


@register(
    "mvapp_auto_semijoin",
    f"""
    WITH {_FINAL_SJ_SQL}
    SELECT c_custkey, c_name FROM final_customer_sj c
    WHERE EXISTS (SELECT 1 FROM final_orders_sj o WHERE o.o_custkey = c.c_custkey)
    """,
    doc=(
        "Correlated EXISTS MV (customers with at least one order) "
        "auto-routed to IncrementalSemiJoinMV — the streaming semi-join "
        "Flink's update-mode planner maintains with presence state per "
        "key (TiFlinkApp.java:270 delegation). Fact-side changes "
        "re-evaluate exactly the changed PKs; order-side churn dirties "
        "its key values and re-probes only the customers holding them. "
        "The script flips membership both ways: customers lose their "
        "last order (leave) and orderless customers gain one (re-enter), "
        "under concurrent renames and deletes of the fact rows "
        "themselves. The fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "semijoin"),
)
def mvapp_auto_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semijoin_churn(
        spark,
        sf_dir,
        """SELECT c_custkey, c_name FROM cust_sj c WHERE EXISTS
           (SELECT 1 FROM ord_sj o WHERE o.o_custkey = c.c_custkey)""",
        lambda df: df.select("c_custkey", "c_name"),
    )


@register(
    "mvapp_auto_antijoin",
    f"""
    WITH {_FINAL_SJ_SQL}
    SELECT c_custkey, c_acctbal FROM final_customer_sj c
    WHERE c_acctbal > 0 AND NOT EXISTS (
        SELECT 1 FROM final_orders_sj o WHERE o.o_custkey = c.c_custkey)
    """,
    doc=(
        "Correlated NOT EXISTS MV (q22's customers-without-orders "
        "pattern) with an extra row-local conjunct, auto-routed to the "
        "anti side of IncrementalSemiJoinMV. NULL-key semantics follow "
        "SQL: a NULL fact key matches nothing, so it stays in the anti "
        "view. Same two-sided churn script as the semi gate; the fn "
        "raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "semijoin"),
)
def mvapp_auto_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semijoin_churn(
        spark,
        sf_dir,
        """SELECT c_custkey, c_acctbal FROM cust_sj c
           WHERE c_acctbal > 0 AND NOT EXISTS
           (SELECT 1 FROM ord_sj o WHERE o.o_custkey = c.c_custkey)""",
        lambda df: df.select("c_custkey", "c_acctbal"),
    )


@register(
    "mvapp_auto_window",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_orderkey, o_custkey, round(run_sum, 2) AS run_sum, rnk, rn
    FROM (
        SELECT o_orderkey, o_custkey,
               sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS run_sum,
               rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM final_orders WHERE o_totalprice > 1000
    )
    """,
    doc=(
        "Partitioned OVER-window MV (running sum + rank + row_number "
        "per customer) auto-routed to IncrementalWindowMV — the window "
        "views Flink's update-mode planner maintains with per-partition "
        "OverWindow state. Maintenance is dirty-PARTITION recompute: "
        "the canonical 3-batch script's touched customers (including "
        "both sides of the group-moving B3 updates) are re-windowed "
        "from the semi-join-pruned fact store and diffed; untouched "
        "partitions are never read. row_number's window carries the "
        "fact PK as the trailing ORDER BY (the deterministic total "
        "order the route requires for per-ROW functions); rank and the "
        "running sum are peer-uniform and need none. The fn raises "
        "unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "window"),
)
def mvapp_auto_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_w_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_w", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_custkey,
                          sum(o_totalprice) OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice) AS run_sum,
                          rank() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC) AS rnk,
                          row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
                   FROM ord_w WHERE o_totalprice > 1000"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalWindowMV":
            raise AssertionError(
                f"planner routed the OVER-window view to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"ord_w": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderkey",
                "o_custkey",
                F.round("run_sum", 2).alias("run_sum"),
                "rnk",
                "rn",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_window_unique_order",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_orderkey, o_custkey, rn, round(prev_price, 2) AS prev_price
    FROM (
        SELECT o_orderkey, o_custkey,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn,
               lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price
        FROM final_orders
    )
    """,
    doc=(
        "Per-ROW window functions (row_number + lag) whose ORDER BY is "
        "the fact PK ITSELF — no trailing tie-break columns (VERDICT "
        "r5 #6). The route's determinism requirement is a provably "
        "TOTAL order on the partition: the order column set must cover "
        "the declared PK, which ORDER BY the unique key column itself "
        "satisfies directly (the previous matcher only accepted the "
        "textual trailing-PK spelling and sent this shape to "
        "recompute). Maintenance is the same dirty-PARTITION recompute "
        "as mvapp_auto_window under the canonical 3-batch churn. The "
        "fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "window"),
)
def mvapp_auto_window_unique_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_wu_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_u", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_custkey,
                          row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderkey) AS rn,
                          lag(o_totalprice) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderkey) AS prev_price
                   FROM ord_u"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalWindowMV":
            raise AssertionError(
                f"planner routed the unique-order window view to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"ord_u": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderkey",
                "o_custkey",
                "rn",
                F.round("prev_price", 2).alias("prev_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_window_multi_partition",
    f"""
    WITH {_FINAL_ORDERS_SQL},
    fo4 AS (
        SELECT o_orderkey, o_custkey, o_orderkey % 4 AS b4, o_totalprice
        FROM final_orders
    )
    SELECT o_orderkey, o_custkey, b4, rnk, rn
    FROM (
        SELECT o_orderkey, o_custkey, b4,
               rank() OVER (PARTITION BY o_custkey, b4
                            ORDER BY o_totalprice DESC) AS rnk,
               row_number() OVER (PARTITION BY o_custkey, b4
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM fo4
    )
    """,
    doc=(
        "OVER-window with a COMPOSITE PARTITION BY — (customer, status) "
        "ranks — routed to IncrementalWindowMV with the dirty-group "
        "domain being the key TUPLE (null-safe equality on every "
        "column); previously only single-column partitions routed. "
        "Canonical 3-batch churn: the group-moving B3 updates dirty "
        "both (custkey, status) partitions of each moved row. The fn "
        "raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "window"),
)
def mvapp_auto_window_multi_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    # b4 is stable under the script: B1's key shift (+BIG) preserves
    # o_orderkey % 4 because BIG is divisible by 4.
    src4 = t["orders"].select(
        "o_orderkey", "o_custkey",
        (F.col("o_orderkey") % 4).alias("b4"), "o_totalprice",
    )
    work = tempfile.mkdtemp(prefix="mvapp_wmp_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_mp", src4, pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_custkey, b4,
                          rank() OVER (PARTITION BY o_custkey, b4
                              ORDER BY o_totalprice DESC) AS rnk,
                          row_number() OVER (PARTITION BY o_custkey, b4
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
                   FROM ord_mp"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalWindowMV":
            raise AssertionError(
                f"planner routed the multi-partition window to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(src4), start=1):
            app.refresh({"ord_mp": b}, batch_id=i)
        return (
            app.read()
            .select("o_orderkey", "o_custkey", "b4", "rnk", "rn")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_cascade",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT n_orders, count(*) AS n_custs
    FROM (SELECT o_custkey, count(*) AS n_orders
          FROM final_orders GROUP BY o_custkey) d
    GROUP BY n_orders
    """,
    doc=(
        "Two-level nested aggregate (the Q13-flavor distribution of "
        "per-customer order counts) auto-routed to CascadeMV: the inner "
        "GROUP BY maintains as its own IncrementalAggMV, and the outer "
        "GROUP BY consumes the inner target's batch delta as a "
        "changelog (KeyedParquetStore.batch_delta — the store as a CDC source). "
        "Per-batch work is the inner delta plus the outer's state merge "
        "over THAT delta; neither level ever recomputes. A customer "
        "whose count moves n -> n' retracts from bucket n and adds to "
        "bucket n' through the diff's +U rows. The fn raises unless "
        "both levels routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "cascade"),
)
def mvapp_auto_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_casc_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_casc", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT n_orders, count(*) AS n_custs FROM (
                       SELECT o_custkey, count(*) AS n_orders
                       FROM ord_casc GROUP BY o_custkey) d
                   GROUP BY n_orders"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV":
            raise AssertionError(
                f"planner routed the nested aggregate to {app.maintenance_strategy}"
            )
        inner = app._mv.inner.maintenance_strategy
        outer = app._mv.outer.maintenance_strategy
        if inner != "IncrementalAggMV" or outer != "IncrementalAggMV":
            raise AssertionError(f"cascade levels not incremental: {inner}/{outer}")
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"ord_casc": b}, batch_id=i)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_group_order_limit",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey, n_orders, round(total, 2) AS total_r FROM (
        SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total
        FROM final_orders GROUP BY o_custkey
        ORDER BY n_orders DESC, o_custkey LIMIT 10
    )
    """,
    doc=(
        "Top-groups reporting MV — GROUP BY … ORDER BY agg LIMIT n "
        "('top 10 customers by order count') — internally rewritten to "
        "the nested form and routed through CascadeMV: inner "
        "IncrementalAggMV maintains the per-customer aggregate, outer "
        "IncrementalGlobalTopKMV maintains the top-k over the inner's "
        "batch-delta changelog (rising-bound candidate merges; full "
        "re-rank only when a current member's aggregate changes). The "
        "ORDER BY ranks on the exact integer count (float aggregates "
        "rank on incrementally-summed values, which can differ from a "
        "batch sum in the last ulp) with the group key as the "
        "deterministic tie-breaker. The fn raises unless both levels "
        "routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "cascade", "topk"),
)
def mvapp_auto_group_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_gol_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_gol", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_custkey, count(*) AS n_orders,
                          sum(o_totalprice) AS total
                   FROM ord_gol GROUP BY o_custkey
                   ORDER BY n_orders DESC, o_custkey LIMIT 10"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV":
            raise AssertionError(
                f"planner routed GROUP BY+ORDER BY+LIMIT to {app.maintenance_strategy}"
            )
        if app._mv.outer.maintenance_strategy != "IncrementalGlobalTopKMV":
            raise AssertionError(
                f"outer level is {app._mv.outer.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"ord_gol": b}, batch_id=i)
        return (
            app.read()
            .select("o_custkey", "n_orders", F.round("total", 2).alias("total_r"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_semijoin_streaming",
    f"""
    WITH {_FINAL_SJ_SQL}
    SELECT c_custkey, c_name FROM final_customer_sj c
    WHERE EXISTS (SELECT 1 FROM final_orders_sj o WHERE o.o_custkey = c.c_custkey)
    """,
    doc=(
        "END-TO-END streaming EXISTS MV: the two-sided churn script is "
        "written as changelog directories, consumed by spark.readStream "
        "file sources through MVApp.start_streaming, and applied via "
        "writeStream.foreachBatch -> IncrementalSemiJoinMV.refresh — "
        "the semi-join route through the reference's real streaming "
        "lifecycle (TiFlinkApp.java:70-116), not just scripted refresh "
        "calls. Membership flips arrive on both sides: customers lose "
        "their last order through the order stream and regain one from "
        "the insert batch, while the customer stream renames/deletes "
        "the fact rows themselves."
    ),
    tags=("mv", "streaming", "planner", "semijoin"),
)
def mvapp_semijoin_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_sjstream_")
    try:
        app = (
            MVApp.builder(spark)
            .source("cust_sj", t["customer"], pk=["c_custkey"])
            .source("ord_sj", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT c_custkey, c_name FROM cust_sj c WHERE EXISTS
                   (SELECT 1 FROM ord_sj o WHERE o.o_custkey = c.c_custkey)"""
            )
            .target(os.path.join(work, "mv"))
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalSemiJoinMV":
            raise AssertionError(
                f"planner routed the existence filter to {app.maintenance_strategy}"
            )
        cust, ords = t["customer"], t["orders"]
        b_ord = (
            ords.filter(F.col("o_custkey") % 25 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                ords.filter(F.col("o_orderkey") % 100 == 0)
                .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
                .withColumn(
                    "o_custkey",
                    F.when(F.col("o_orderkey") % 200 == 0, F.lit(25)).otherwise(
                        F.lit(50)
                    ),
                )
                .withColumn(OP_COL, F.lit(OP_INSERT))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_cust = (
            cust.filter(F.col("c_custkey") % 10 == 4)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 3)
                .withColumn("c_name", F.concat(F.col("c_name"), F.lit("_X")))
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        dirs = {}
        for name, b in (("ord_sj", b_ord), ("cust_sj", b_cust)):
            d = os.path.join(work, f"chlog_{name}")
            b.coalesce(1).write.mode("overwrite").parquet(d)
            dirs[name] = d
        app.bootstrap()
        app.start_streaming(dirs, checkpoint_dir=os.path.join(work, "ckpt"))
        return app.read().select("c_custkey", "c_name").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_join_top_groups",
    """
    WITH final_orders_jt AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    final_customer_jt AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 3) % 25
                    ELSE c_nationkey END AS c_nationkey
        FROM customer
    )
    SELECT n_name, n_orders, total_r FROM (
        SELECT n.n_name, count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_r
        FROM final_orders_jt o
          JOIN final_customer_jt c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n_orders DESC, n_name LIMIT 5
    )
    """,
    doc=(
        "The classic dashboard MV — top 5 nations by order count over a "
        "snowflake join — auto-routed to CascadeMV[IncrementalJoinAggMV "
        "-> IncrementalGlobalTopKMV]: the GROUP BY + ORDER BY agg LIMIT "
        "rewrite composes with the join-tree matcher, so the inner "
        "level maintains the joined aggregate by dirty-join-key "
        "re-derivation and the outer level maintains the top-k over the "
        "aggregate's batch-delta changelog. Ranking is on the exact "
        "integer count with the group key tie-break; the float revenue "
        "rides along (rounded for the cross-engine hash). Churn: fact "
        "deletes + dim group-moves that reshuffle the ranking. The fn "
        "raises unless both levels routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "cascade", "join", "topk"),
)
def mvapp_auto_join_top_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_jtg_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_jt", t["orders"], pk=["o_orderkey"])
            .source("cust_jt", t["customer"], pk=["c_custkey"])
            .source("nat_jt", t["nation"], pk=["n_nationkey"])
            .query(
                """SELECT n.n_name, count(*) AS n_orders,
                          sum(o.o_totalprice) AS total
                   FROM ord_jt o
                     JOIN cust_jt c ON o.o_custkey = c.c_custkey
                     JOIN nat_jt n ON c.c_nationkey = n.n_nationkey
                   GROUP BY n.n_name
                   ORDER BY n_orders DESC, n_name LIMIT 5"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV":
            raise AssertionError(
                f"planner routed the top-groups join to {app.maintenance_strategy}"
            )
        inner = app._mv.inner.maintenance_strategy
        outer = app._mv.outer.maintenance_strategy
        if inner != "IncrementalJoinAggMV" or outer != "IncrementalGlobalTopKMV":
            raise AssertionError(f"cascade levels: {inner} -> {outer}")
        app.bootstrap()
        b1 = (
            t["orders"].filter(F.col("o_orderkey") % 3 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            t["customer"].filter(F.col("c_custkey") % 5 == 0)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 3) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_jt": b1}, batch_id=1)
        app.refresh({"cust_jt": b2}, batch_id=2)
        return (
            app.read()
            .select("n_name", "n_orders", F.round("total", 2).alias("total_r"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_median",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey, n_orders,
           CAST(floor(med * 100) AS BIGINT) AS median_cents
    FROM (SELECT o_custkey, count(*) AS n_orders,
                 median(o_totalprice) AS med
          FROM final_orders GROUP BY o_custkey) m
    """,
    doc=(
        "Per-group MEDIAN MV: median joins the measure catalog as a "
        "non-invertible aggregate — order-based, so no per-row delta "
        "exists and the scale-safe maintenance is dirty-group recompute "
        "against the fact store (exactly the MIN/MAX path; Flink's "
        "update-mode planner cannot maintain exact percentiles at all). "
        "The canonical 3-batch script churns group membership; only "
        "touched customers re-sort. The fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "agg"),
)
def mvapp_auto_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_med_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_med", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_custkey, count(*) AS n_orders,
                          median(o_totalprice) AS med
                   FROM ord_med GROUP BY o_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalAggMV":
            raise AssertionError(
                f"planner routed the median aggregate to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"ord_med": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_custkey",
                "n_orders",
                # floor-in-cents instead of round: ROUND on raw doubles
                # diverges across engines at .xx5 boundaries, floor of
                # the identical IEEE product does not
                F.floor(F.col("med") * 100).alias("median_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_dim_where",
    f"""
    WITH {_FINAL_ORDERS_SQL},
    final_customer_dw AS (
        SELECT c_custkey, c_nationkey,
               CASE WHEN c_custkey % 10 = 3
                    THEN (CASE WHEN c_mktsegment = 'BUILDING'
                               THEN 'AUTOMOBILE' ELSE 'BUILDING' END)
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_nationkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders o JOIN final_customer_dw c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 1000
    GROUP BY c_nationkey
    """,
    doc=(
        "Join-aggregate with a row-local WHERE spanning BOTH sides of "
        "the join — a dim-attribute literal predicate (c_mktsegment = "
        "'BUILDING', the TPC-H Q3/Q5 selection pattern) AND a fact "
        "measure bound — auto-routed to IncrementalJoinAggMV. The WHERE "
        "filters the joined relation J (SQL's post-join semantics), so "
        "dim churn that flips a customer's segment across the predicate "
        "boundary retracts or admits every order of that customer. The "
        "fn raises unless routed incrementally; a green row proves the "
        "planner admits string literals and dim columns in join-agg "
        "WHERE clauses and that predicate-boundary dim churn converges."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_dim_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_dw_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_dw", t["orders"], pk=["o_orderkey"])
            .source("customer_dw", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c.c_nationkey, count(*) AS n_orders,
                          sum(o.o_totalprice) AS total_price_raw
                   FROM orders_dw o JOIN customer_dw c
                     ON o.o_custkey = c.c_custkey
                   WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 1000
                   GROUP BY c.c_nationkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed dim-WHERE join+agg to {app.maintenance_strategy}, "
                "not IncrementalJoinAggMV"
            )
        app.bootstrap()
        cust = t["customer"]
        dim_batch = (
            cust.filter(F.col("c_custkey") % 10 == 3)
            .withColumn(
                "c_mktsegment",
                F.when(F.col("c_mktsegment") == "BUILDING", "AUTOMOBILE")
                .otherwise("BUILDING"),
            )
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        batches = scripted_batches(t["orders"])
        app.refresh({"orders_dw": batches[0]}, batch_id=1)
        app.refresh({"customer_dw": dim_batch}, batch_id=2)
        app.refresh({"orders_dw": batches[1]}, batch_id=3)
        app.refresh({"orders_dw": batches[2]}, batch_id=4)
        return (
            app.read()
            .select(
                "c_nationkey",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_projection",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_orderkey AS id, o_custkey,
           CAST(floor(o_totalprice * 1.1 * 100) AS BIGINT) AS gross_cents
    FROM final_orders WHERE o_totalprice > 1000
    """,
    doc=(
        "The stateless projection/filter view (SELECT row-local exprs "
        "FROM t WHERE row-local) auto-routed to IncrementalProjectionMV "
        "— Flink's stateless Calc node, the simplest maintainable shape: "
        "per-batch work is the batch itself and the ONLY state is the "
        "target (no source store). Maintained through the scripted "
        "+I/-D/+U changelog whose updates cross the price predicate in "
        "both directions (the stateless filter rule's demote path). The "
        "fn raises unless routed to IncrementalProjectionMV."
    ),
    tags=("mv", "incremental", "planner"),
)
def mvapp_auto_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_pj_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_pj", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey AS id, o_custkey,
                          floor(o_totalprice * 1.1 * 100) AS gross_cents
                   FROM orders_pj WHERE o_totalprice > 1000"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalProjectionMV":
            raise AssertionError(
                f"planner routed the projection view to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_pj": b}, batch_id=i)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_cte",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_custkey, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders WHERE o_totalprice > 1000
    GROUP BY o_custkey
    """,
    doc=(
        "A WITH-CTE filter feeding an aggregate — normalize_query "
        "inlines the single CTE into the nested form, the cascade pairs "
        "a stateless projection inner MV with an aggregate outer MV "
        "(the inner store's batch deltas become the outer's changelog), and "
        "the whole chain stays incremental. The fn raises unless routed "
        "to CascadeMV[IncrementalProjectionMV -> IncrementalAggMV]."
    ),
    tags=("mv", "incremental", "planner", "cascade"),
)
def mvapp_auto_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_cte_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_ct", t["orders"], pk=["o_orderkey"])
            .query(
                """WITH paid AS (
                       SELECT * FROM orders_ct WHERE o_totalprice > 1000
                   )
                   SELECT o_custkey, count(*) AS n_orders,
                          sum(o_totalprice) AS total_raw
                   FROM paid GROUP BY o_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV":
            raise AssertionError(
                f"planner routed the CTE chain to {app.maintenance_strategy}"
            )
        if "IncrementalProjectionMV" not in str(app.describe()):
            raise AssertionError(
                f"cascade inner is not the projection route: {app.describe()}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_ct": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_custkey",
                "n_orders",
                F.round("total_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_composite_key",
    """
    WITH dim0 AS (
        SELECT l_partkey AS dp, l_suppkey AS ds, min(l_extendedprice) AS cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    final_dim AS (
        SELECT dp, ds,
               CASE WHEN (dp + ds) % 3 = 0 THEN cost + 1000 ELSE cost END AS cost
        FROM dim0 WHERE (dp + ds) % 5 <> 0
    ),
    fact0 AS (
        -- the raw table is not unique on (orderkey, linenumber); the
        -- 4-tuple grouping builds a fact that IS unique by construction
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               sum(l_quantity) AS l_quantity
        FROM lineitem
        GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey
    ),
    final_li AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               CASE WHEN l_orderkey % 5 = 0 THEN l_quantity + 5
                    ELSE l_quantity END AS l_quantity
        FROM fact0 WHERE l_orderkey % 7 <> 0
    )
    SELECT ds, count(*) AS n_lines, round(sum(l_quantity * cost), 2) AS total
    FROM final_li l JOIN final_dim d
      ON l.l_partkey = d.dp AND l.l_suppkey = d.ds
    GROUP BY ds
    """,
    doc=(
        "Join-aggregate whose dimension enters through a COMPOSITE "
        "primary key (ON l_partkey = dp AND l_suppkey = ds — the "
        "TPC-H partsupp pattern) auto-routed to IncrementalJoinAggMV: "
        "the ON conjunction of equalities orients as one edge iff one "
        "side's columns are exactly the other table's declared PK, and "
        "J re-derivation prunes and propagates on the full key pair. "
        "Churned on BOTH sides: composite-key dim re-costs and "
        "deletes (their fact rows leave the inner join) plus fact "
        "deletes and quantity updates. The fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    li = (
        t["lineitem"]
        .groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("l_quantity"))
    )
    dim = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("dp"), F.col("l_suppkey").alias("ds"))
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    work = tempfile.mkdtemp(prefix="mvapp_ck_")
    try:
        app = (
            MVApp.builder(spark)
            .source("li_ck", li, pk=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"])
            .source("dim_ck", dim, pk=["dp", "ds"])
            .query(
                """SELECT dim_ck.ds, count(*) AS n_lines,
                          sum(li_ck.l_quantity * dim_ck.cost) AS total_raw
                   FROM li_ck JOIN dim_ck
                     ON li_ck.l_partkey = dim_ck.dp
                    AND li_ck.l_suppkey = dim_ck.ds
                   GROUP BY dim_ck.ds"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed the composite-key join+agg to "
                f"{app.maintenance_strategy}"
            )
        app.bootstrap()
        key = F.col("dp") + F.col("ds")
        dch = (
            dim.filter((key % 3 == 0) & (key % 5 != 0))
            .withColumn("cost", F.col("cost") + 1000)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                dim.filter(key % 5 == 0).withColumn(OP_COL, F.lit(OP_DELETE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        fch = (
            li.filter(F.col("l_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                li.filter(
                    (F.col("l_orderkey") % 5 == 0) & (F.col("l_orderkey") % 7 != 0)
                )
                .withColumn("l_quantity", F.col("l_quantity") + 5)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"dim_ck": dch}, batch_id=1)
        app.refresh({"li_ck": fch}, batch_id=2)
        return (
            app.read()
            .select(
                "ds",
                "n_lines",
                F.round("total_raw", 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_comma_join",
    f"""
    WITH {_FINAL_ORDERS_SQL},
    final_customer_cj AS (
        SELECT c_custkey, c_nationkey, c_mktsegment
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_nationkey, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders o, final_customer_cj c
    WHERE o.o_custkey = c.c_custkey
      AND c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 1000
    GROUP BY c_nationkey
    """,
    doc=(
        "The classic comma-join spelling (FROM fact, dim WHERE fk = pk "
        "AND filters — how TPC-H queries are written) normalized into "
        "explicit JOIN ON form by the pre-matching rewrite and routed "
        "to IncrementalJoinAggMV: each top-level equality conjunct "
        "whose sides resolve to different tables becomes an ON "
        "predicate on the clause where its later table arrives, the "
        "rest stays row-local WHERE. The fn raises unless routed "
        "incrementally; churned on both sides including dim deletes."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_comma_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_cj_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_cj", t["orders"], pk=["o_orderkey"])
            .source("customer_cj", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_nationkey, count(*) AS n_orders,
                          sum(o_totalprice) AS total_price_raw
                   FROM orders_cj o, customer_cj c
                   WHERE o.o_custkey = c.c_custkey
                     AND c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 1000
                   GROUP BY c_nationkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinAggMV":
            raise AssertionError(
                f"planner routed the comma join to {app.maintenance_strategy}"
            )
        cust = t["customer"]
        app.bootstrap()
        dim_batch = (
            cust.filter(F.col("c_custkey") % 10 == 4)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        batches = scripted_batches(t["orders"])
        app.refresh({"orders_cj": batches[0]}, batch_id=1)
        app.refresh({"customer_cj": dim_batch}, batch_id=2)
        app.refresh({"orders_cj": batches[1]}, batch_id=3)
        app.refresh({"orders_cj": batches[2]}, batch_id=4)
        return (
            app.read()
            .select(
                "c_nationkey",
                "n_orders",
                F.round("total_price_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_projection_streaming",
    f"""
    WITH {_FINAL_ORDERS_SQL}
    SELECT o_orderkey AS id, o_custkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM final_orders WHERE o_totalprice > 1000
    """,
    doc=(
        "The stateless projection route driven through REAL Structured "
        "Streaming: the scripted changelog batches are written as "
        "parquet changelog directories, consumed via readStream with "
        "maxFilesPerTrigger=1, and each micro-batch MERGEs through "
        "foreachBatch with per-table checkpoints — the reference's "
        "snapshot-then-CDC lifecycle (FlinkTikvConsumer.java:92-106) "
        "over the cheapest maintenance class. The fn raises unless "
        "routed to IncrementalProjectionMV."
    ),
    tags=("mv", "incremental", "planner", "streaming"),
)
def mvapp_projection_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_pjstream_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_pjs", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey AS id, o_custkey,
                          floor(o_totalprice * 100) AS price_cents
                   FROM orders_pjs WHERE o_totalprice > 1000"""
            )
            .target(os.path.join(work, "mv"))
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalProjectionMV":
            raise AssertionError(
                f"planner routed the projection view to {app.maintenance_strategy}"
            )
        batches = scripted_batches(t["orders"])
        d = os.path.join(work, "chlog_orders")
        # one file per scripted batch -> three real micro-batches; the
        # three scripts touch DISJOINT key sets, so any file pickup
        # order converges to the same state
        for b in batches:
            b.coalesce(1).write.mode("append").parquet(d)
        app.bootstrap()
        app.start_streaming(
            {"orders_pjs": d}, checkpoint_dir=os.path.join(work, "ckpt")
        )
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_not_in",
    f"""
    WITH {_FINAL_SJ_SQL}
    SELECT o_orderkey, o_custkey FROM final_orders_sj
    WHERE o_custkey NOT IN (SELECT c_custkey FROM final_customer_sj)
    """,
    doc=(
        "Null-aware NOT IN (the orphaned-orders audit: orders whose "
        "customer key is absent) auto-routed to IncrementalSemiJoinMV "
        "in null-aware anti mode. NOT IN differs from NOT EXISTS: a "
        "NULL outer key belongs to the view only while the inner set "
        "is empty, and a NULL inner value would empty the view — the "
        "planner therefore takes the route only when the inner column "
        "is the other table's NOT-NULL PK (c_custkey here), and the "
        "maintenance class re-evaluates NULL-key rows whenever the "
        "inner set's emptiness flips. Churned on both sides via the "
        "shared semi-join script; the fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "semijoin"),
)
def mvapp_auto_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_nin_")
    try:
        app = (
            MVApp.builder(spark)
            .source("cust_sj", t["customer"], pk=["c_custkey"])
            .source("ord_sj", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_custkey FROM ord_sj
                   WHERE o_custkey NOT IN (SELECT c_custkey FROM cust_sj)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalSemiJoinMV":
            raise AssertionError(
                f"planner routed NOT IN to {app.maintenance_strategy}"
            )
        app.bootstrap()
        cust, ords = t["customer"], t["orders"]
        b1 = (
            ords.filter(F.col("o_custkey") % 25 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b2 = (
            cust.filter(F.col("c_custkey") % 10 == 4)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 3)
                .withColumn("c_name", F.concat(F.col("c_name"), F.lit("_X")))
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b3 = (
            ords.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + BIG)
            .withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 200 == 0, F.lit(25)).otherwise(F.lit(50)),
            )
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_sj": b1}, batch_id=1)
        app.refresh({"cust_sj": b2}, batch_id=2)
        app.refresh({"ord_sj": b3}, batch_id=3)
        return app.read().select("o_orderkey", "o_custkey").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_gsets_expr_key",
    """
    WITH src AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
                    THEN o_orderdate + INTERVAL 40 DAY
                    ELSE o_orderdate END AS o_orderdate,
               o_orderstatus AS st,
               o_orderkey % 50 AS units
        FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
    )
    SELECT date_trunc('month', o_orderdate) AS mon, st,
           count(*) AS n, CAST(sum(units) AS BIGINT) AS su
    FROM src GROUP BY ROLLUP (date_trunc('month', o_orderdate), st)
    """,
    doc=(
        "ROLLUP over an EXPRESSION grouping key — the time-grain "
        "reporting rollup (per-month × status subtotals), previously a "
        "recompute-only shape (VERDICT r5 missing #3). The computed "
        "key (date_trunc AS mon) derives onto fact rows at bootstrap "
        "AND on every changelog batch — the same key_exprs mechanism "
        "the flat-aggregate route uses — after which the per-set "
        "sub-MVs see it as a stored column. Churn deletes rows and "
        "shifts surviving %5 orderdates by 40 days, moving rows "
        "ACROSS months (retract from one month's grains, add to "
        "another's, subtotals on both paths); a batch replays for "
        "idempotence. The fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "grouping_sets"),
)
def mvapp_auto_gsets_expr_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    src = (
        t["orders"]
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("o_orderstatus").alias("st"),
            (F.col("o_orderkey") % 50).alias("units"),
        )
    )
    work = tempfile.mkdtemp(prefix="mvapp_gse_")
    try:
        app = (
            MVApp.builder(spark)
            .source("src", src, pk=["o_orderkey"])
            .query(
                """SELECT date_trunc('month', o_orderdate) AS mon, st,
                          count(*) AS n, sum(units) AS su
                   FROM src
                   GROUP BY ROLLUP (date_trunc('month', o_orderdate), st)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGroupingSetsMV":
            raise AssertionError(
                f"planner routed the expr-key rollup to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 -D: every %7 orderkey leaves
        d1 = (
            src.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"src": d1}, batch_id=1)
        # B2 +U: shift surviving %5 orderdates by 40 days — rows move
        # ACROSS derived months (the computed key changes value)
        u2 = (
            src.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 40 DAYS"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"src": u2}, batch_id=2)
        app.refresh({"src": u2}, batch_id=2)  # crash replay: no-op
        return (
            app.read()
            .select("mon", "st", "n", F.col("su").cast("bigint").alias("su"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_exists_composite",
    """
    WITH ref AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 9 = 0
                    THEN (s_nationkey + 7) % 25 ELSE s_nationkey END AS rnat,
               s_suppkey % 4 AS rb4
        FROM supplier WHERE s_suppkey % 12 <> 0
    ),
    f AS (
        SELECT o_orderkey, o_custkey % 25 AS nat, o_orderkey % 4 AS b4
        FROM orders
    )
    SELECT o_orderkey, nat, b4 FROM f
    WHERE EXISTS (SELECT 1 FROM ref WHERE ref.rnat = f.nat AND ref.rb4 = f.b4)
    """,
    doc=(
        "EXISTS correlated on TWO columns — composite-key existence "
        "(r6; previously only a single correlation equality routed). "
        "Presence is the (nat, b4) TUPLE: a supplier matching on only "
        "one column does not admit the order. Churn deletes reference "
        "rows (tuples may lose their last holder) and moves others' "
        "nat (+7 mod 25 — the tuple changes value, re-evaluating fact "
        "rows on both the old and new tuple); a batch replays for "
        "idempotence. The fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "semijoin"),
)
def mvapp_auto_exists_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    ref0 = t["supplier"].select(
        "s_suppkey",
        F.col("s_nationkey").alias("rnat"),
        (F.col("s_suppkey") % 4).alias("rb4"),
    )
    f = t["orders"].select(
        "o_orderkey",
        (F.col("o_custkey") % 25).alias("nat"),
        (F.col("o_orderkey") % 4).alias("b4"),
    )
    work = tempfile.mkdtemp(prefix="mvapp_exc_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ref", ref0, pk=["s_suppkey"])
            .source("f", f, pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, nat, b4 FROM f
                   WHERE EXISTS (SELECT 1 FROM ref
                                 WHERE ref.rnat = f.nat AND ref.rb4 = f.b4)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalSemiJoinMV":
            raise AssertionError(
                f"planner routed composite EXISTS to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 -D: some tuples lose their last supplier
        d1 = (
            ref0.filter(F.col("s_suppkey") % 12 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ref": d1}, batch_id=1)
        # B2 +U: tuple-moving updates (rnat shifts by 7 mod 25)
        u2 = (
            ref0.filter((F.col("s_suppkey") % 9 == 0) & (F.col("s_suppkey") % 12 != 0))
            .withColumn("rnat", (F.col("rnat") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ref": u2}, batch_id=2)
        app.refresh({"ref": u2}, batch_id=2)  # crash replay: no-op
        return app.read().select("o_orderkey", "nat", "b4").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_not_in_nonpk",
    """
    WITH ref_f AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 21 = 0 THEN 5 ELSE c_nationkey END AS ref_nat
        FROM customer WHERE c_custkey % 7 = 0
    ),
    ref_final AS (SELECT c_custkey, ref_nat FROM ref_f WHERE ref_nat <> 3),
    ord_n AS (SELECT o_orderkey, o_custkey % 30 AS o_nat FROM orders)
    SELECT o_orderkey, o_nat FROM ord_n
    WHERE o_nat NOT IN (SELECT ref_nat FROM ref_final)
    """,
    doc=(
        "Null-aware NOT IN whose inner column is NOT the inner table's "
        "PK — a plain nullable attribute with repeated values (VERDICT "
        "r5 #7). The route maintains the inner's distinct-value set "
        "AND its null-presence bit explicitly: churn makes an inner "
        "NULL APPEAR (batch 1 — the view empties: x NOT IN (…, NULL) "
        "is never true) and then DISAPPEAR (batch 2 — the view "
        "returns), each flip re-evaluating every fact row, which is "
        "inherent to NOT IN semantics; batch 3 deletes the last inner "
        "rows holding one value, admitting its fact rows. A batch "
        "replays for idempotence. The fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "semijoin"),
)
def mvapp_auto_not_in_nonpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    ref0 = (
        t["customer"]
        .filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", F.col("c_nationkey").alias("ref_nat"))
    )
    ord_n = t["orders"].select(
        "o_orderkey", (F.col("o_custkey") % 30).alias("o_nat")
    )
    work = tempfile.mkdtemp(prefix="mvapp_ninp_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ref_t", ref0, pk=["c_custkey"])
            .source("ord_n", ord_n, pk=["o_orderkey"])
            .query(
                """SELECT o_orderkey, o_nat FROM ord_n
                   WHERE o_nat NOT IN (SELECT ref_nat FROM ref_t)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalSemiJoinMV":
            raise AssertionError(
                f"planner routed non-PK NOT IN to {app.maintenance_strategy}"
            )
        app.bootstrap()
        flip = ref0.filter(F.col("c_custkey") % 21 == 0)
        # B1 +U: an inner NULL appears -> the whole view empties
        b1 = (
            flip.withColumn("ref_nat", F.lit(None).cast("int"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ref_t": b1}, batch_id=1)
        if app.read().limit(1).count() != 0:
            raise AssertionError("inner NULL must empty the NOT IN view")
        # B2 +U: the NULL disappears (those rows now hold value 5)
        b2 = (
            flip.withColumn("ref_nat", F.lit(5).cast(dict(ref0.dtypes)["ref_nat"]))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ref_t": b2}, batch_id=2)
        app.refresh({"ref_t": b2}, batch_id=2)  # crash replay: no-op
        # B3 -D: drop every inner row holding value 3 -> its fact rows
        # enter the view
        b3 = (
            ref0.filter(
                (F.col("ref_nat") == 3) & (F.col("c_custkey") % 21 != 0)
            )
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ref_t": b3}, batch_id=3)
        return app.read().select("o_orderkey", "o_nat").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_enrichment",
    f"""
    WITH {_FINAL_ORDERS_SQL},
    final_customer_en AS (
        SELECT c_custkey, c_name, c_nationkey
        FROM customer WHERE c_custkey % 10 <> 4
    ),
    final_nation_en AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 3 = 0 THEN n_name || '_R'
                    ELSE n_name END AS n_name
        FROM nation
    )
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
    FROM final_orders o
    LEFT JOIN final_customer_en c ON o.o_custkey = c.c_custkey
    LEFT JOIN final_nation_en n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_totalprice > 1000
    """,
    doc=(
        "The lookup-enrichment view — orders carrying their customer's "
        "and nation's names through a two-hop LEFT snowflake, keyed by "
        "the order PK — auto-routed to IncrementalJoinProjectionMV: the "
        "join-aggregate machinery (dirty-join-key re-derivation, "
        "hop-by-hop propagation) with an identity sink, so the joined "
        "relation itself MERGEs into the target. LEFT semantics under "
        "churn: deleted customers NULL out their orders' name columns "
        "instead of dropping the rows; nation renames rewrite rows two "
        "hops away. The fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "join"),
)
def mvapp_auto_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_en_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_en", t["orders"], pk=["o_orderkey"])
            .source("cust_en", t["customer"], pk=["c_custkey"])
            .source("nat_en", t["nation"], pk=["n_nationkey"])
            .query(
                """SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
                   FROM ord_en o
                   LEFT JOIN cust_en c ON o.o_custkey = c.c_custkey
                   LEFT JOIN nat_en n ON c.c_nationkey = n.n_nationkey
                   WHERE o.o_totalprice > 1000"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinProjectionMV":
            raise AssertionError(
                f"planner routed the enrichment view to {app.maintenance_strategy}"
            )
        app.bootstrap()
        cust, nat = t["customer"], t["nation"]
        b_cust = (
            cust.filter(F.col("c_custkey") % 10 == 4)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_nat = (
            nat.filter(F.col("n_nationkey") % 3 == 0)
            .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_R")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        batches = scripted_batches(t["orders"])
        app.refresh({"ord_en": batches[0]}, batch_id=1)
        app.refresh({"cust_en": b_cust}, batch_id=2)
        app.refresh({"nat_en": b_nat}, batch_id=3)
        app.refresh({"ord_en": batches[1]}, batch_id=4)
        app.refresh({"ord_en": batches[2]}, batch_id=5)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_FINAL_ORDERS_GS_SQL = f"""
    final_orders_gs AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS o_custkey,
               o_orderstatus, o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
"""


@register(
    "mvapp_auto_grouping_sets",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL}
    SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
           CAST(GROUPING(o_custkey) AS INT) AS g_ck,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders_gs
    WHERE o_totalprice > 500
    GROUP BY ROLLUP(o_orderstatus, o_custkey)
    """,
    doc=(
        "ROLLUP (grouping-sets) MV auto-routed to "
        "IncrementalGroupingSetsMV: one aggregate state per grouping "
        "set over a SHARED fact store (stored once, not |sets| times — "
        "the 100 TB concern), per-batch work = |sets| x batch-size "
        "state merges, exactly the multiplier Spark's Expand node "
        "applies to the batch plan but over the delta. The reference "
        "gets these by delegation to Flink's planner "
        "(TiFlinkApp.java:270); SURVEY §2.2 prescribes this "
        "decomposition. The fn raises unless routed incrementally; the "
        "scripted +I/-D/+U churn (incl. group-key moves) proves the "
        "union-of-states converges to the batch GROUP BY ROLLUP answer, "
        "subtotal rows included."
    ),
    tags=("mv", "incremental", "planner", "grouping-sets"),
)
def mvapp_auto_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_gs_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_gs", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
                          GROUPING(o_custkey) AS g_ck_raw,
                          sum(o_totalprice) AS total_raw
                   FROM orders_gs
                   WHERE o_totalprice > 500
                   GROUP BY ROLLUP(o_orderstatus, o_custkey)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGroupingSetsMV":
            raise AssertionError(
                f"planner routed ROLLUP to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_gs": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderstatus",
                "o_custkey",
                "n_orders",
                F.col("g_ck_raw").cast("int").alias("g_ck"),
                F.round("total_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


_FINAL_ORDERS_C5_SQL = f"""
    final_orders_c5 AS (
        SELECT o_orderkey,
               o_orderstatus, o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN (o_custkey % 100 + 1) % 5 ELSE o_custkey % 5 END AS ck5,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN (o_custkey % 100 + 1) % 7 ELSE o_custkey % 7 END AS ck7,
               o_orderkey % 3 AS mk3,
               o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 100 = 0
        )
    )
"""


@register(
    "mvapp_auto_cube5",
    f"""
    WITH {_FINAL_ORDERS_C5_SQL}
    SELECT o_orderstatus, o_orderpriority, ck5, ck7, mk3,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority, ck5, ck7, mk3)
                AS BIGINT) AS gid
    FROM final_orders_c5
    WHERE o_totalprice > 500
    GROUP BY CUBE(o_orderstatus, o_orderpriority, ck5, ck7, mk3)
    """,
    doc=(
        "CUBE over FIVE columns (32 grouping sets) auto-routed to "
        "IncrementalGroupingSetsMV — round 7 raised the de-sugar cap "
        "from 4 terms to a |sets| COST bound (_MAX_GROUPING_SETS = 64: "
        "per-batch work is |sets| x |delta| state merges over ONE "
        "shared fact store, a bounded scale-safe quantum; CUBE(7)+ "
        "stays on recompute). Bare GROUPING_ID() (Spark's no-arg form) "
        "is emitted as a per-set constant literal; the DuckDB oracle "
        "spells all five args (it has no bare form). Scripted "
        "+I/-D/+U churn moves groups across ck5/ck7 simultaneously, "
        "so subtotal rows at every one of the 32 grains retract and "
        "re-insert. The fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "grouping-sets", "cube"),
)
def mvapp_auto_cube5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)

    def derive(df: DataFrame) -> DataFrame:
        return df.select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            (F.col("o_custkey") % 5).alias("ck5"),
            (F.col("o_custkey") % 7).alias("ck7"),
            (F.col("o_orderkey") % 3).alias("mk3"),
            "o_totalprice",
            *[c for c in (OP_COL, SEQ_COL) if c in df.columns],
        )

    work = tempfile.mkdtemp(prefix="mvapp_c5_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_c5", derive(t["orders"]), pk=["o_orderkey"])
            .query(
                """SELECT o_orderstatus, o_orderpriority, ck5, ck7, mk3,
                          count(*) AS n_orders,
                          sum(o_totalprice) AS total_raw,
                          GROUPING_ID() AS gid
                   FROM orders_c5
                   WHERE o_totalprice > 500
                   GROUP BY CUBE(o_orderstatus, o_orderpriority, ck5, ck7, mk3)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGroupingSetsMV":
            raise AssertionError(
                f"planner routed CUBE(5) to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_c5": derive(b)}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderstatus",
                "o_orderpriority",
                "ck5",
                "ck7",
                "mk3",
                "n_orders",
                F.round("total_raw", 2).alias("total_price"),
                "gid",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_gid_subset",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL}
    SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
           CAST(GROUPING_ID(o_custkey) AS BIGINT) AS gid_ck,
           CAST(GROUPING_ID(o_custkey, o_orderstatus) AS BIGINT) AS gid_rev,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders_gs
    WHERE o_totalprice > 500
    GROUP BY GROUPING SETS ((o_orderstatus, o_custkey), (o_orderstatus), ())
    """,
    doc=(
        "GROUPING_ID with SUBSET and REORDERED argument lists (round-7 "
        "verdict #5): gid_ck takes one of the two grouping columns, "
        "gid_rev takes both in reverse select order. The route emits "
        "each as a per-set constant literal (first argument = most "
        "significant bit, the SQL-standard / DuckDB / Calcite "
        "convention), so it accepts the subset form Spark's own "
        "grouping_id() REJECTS (GROUPING_ID_COLUMN_MISMATCH) — the "
        "engine's SQL surface matches Flink's here, not Spark's "
        "restriction. Scripted churn with group-key moves; the fn "
        "raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "grouping-sets"),
)
def mvapp_auto_gid_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_gid_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_gid", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
                          GROUPING_ID(o_custkey) AS gid_ck,
                          GROUPING_ID(o_custkey, o_orderstatus) AS gid_rev,
                          sum(o_totalprice) AS total_raw
                   FROM orders_gid
                   WHERE o_totalprice > 500
                   GROUP BY GROUPING SETS ((o_orderstatus, o_custkey),
                                           (o_orderstatus), ())"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGroupingSetsMV":
            raise AssertionError(
                f"planner routed GROUPING_ID(subset) to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_gid": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderstatus",
                "o_custkey",
                "n_orders",
                "gid_ck",
                "gid_rev",
                F.round("total_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_setops_all",
    """
    WITH east_ba AS (
        SELECT o_custkey FROM orders
        WHERE o_orderkey % 2 = 0 AND o_custkey % 5 <> 0),
    west_ba AS (
        SELECT o_custkey FROM orders
        WHERE o_orderkey % 2 = 1 AND o_custkey % 2 <> 0)
    SELECT 'intersect_all' AS op, o_custkey
    FROM (SELECT o_custkey FROM east_ba INTERSECT ALL SELECT o_custkey FROM west_ba)
    UNION ALL
    SELECT 'except_all' AS op, o_custkey
    FROM (SELECT o_custkey FROM east_ba EXCEPT ALL SELECT o_custkey FROM west_ba)
    """,
    doc=(
        "INTERSECT ALL and EXCEPT ALL (bag semantics) auto-routed to "
        "IncrementalSetOpMV: the same dual count-per-tuple state as the "
        "set variants, but the membership rule extends from boolean to "
        "the tuple's MULTIPLICITY — min(cnt_a, cnt_b) for INTERSECT "
        "ALL, max(cnt_a - cnt_b, 0) for EXCEPT ALL — stored as one row "
        "per copy, keyed by the tuple and a hidden __copy index. This "
        "completes the set-operation catalog (UNION ALL stateless, "
        "UNION/INTERSECT/EXCEPT boolean-count, the ALL variants "
        "multiplicity-count). Churn deletes whole key ranges per side "
        "so multiplicities rise AND fall; the fn raises unless routed "
        "incrementally."
    ),
    tags=("mv", "incremental", "planner", "setop"),
)
def mvapp_auto_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    east = t["orders"].filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    west = t["orders"].filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey"
    )
    out = None
    for op, sql_op in (("intersect_all", "INTERSECT ALL"), ("except_all", "EXCEPT ALL")):
        work = tempfile.mkdtemp(prefix=f"mvapp_ba_{op}_")
        try:
            app = (
                MVApp.builder(spark)
                .source(f"east_{op}", east, pk=["o_orderkey"])
                .source(f"west_{op}", west, pk=["o_orderkey"])
                .query(
                    f"SELECT o_custkey FROM east_{op} {sql_op} "
                    f"SELECT o_custkey FROM west_{op}"
                )
                .target(work)
                .num_buckets(4)
                .shuffle_partitions(8)
                .build()
            )
            if (
                app.maintenance_strategy != "IncrementalSetOpMV"
                or app._mv.op != op
            ):
                raise AssertionError(
                    f"planner routed {sql_op} to {app.maintenance_strategy} "
                    f"(op={getattr(app._mv, 'op', None)})"
                )
            app.bootstrap()
            w_del = (
                west.filter(F.col("o_custkey") % 2 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            e_del = (
                east.filter(F.col("o_custkey") % 5 == 0)
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            )
            app.refresh({f"west_{op}": w_del}, batch_id=1)
            app.refresh({f"east_{op}": e_del}, batch_id=2)
            part = app.read().select(
                F.lit(op).alias("op"), "o_custkey"
            ).localCheckpoint(eager=True)
            out = part if out is None else out.unionByName(part)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "mvapp_auto_mn_agg",
    f"""
    WITH mn_o AS (
        SELECT o_orderkey, o_custkey % 50 AS k1, o_totalprice
        FROM orders
        WHERE o_orderkey % 10 = 0 AND o_orderkey % 70 <> 0
    ),
    mn_c AS (
        SELECT c_custkey, c_custkey % 50 AS k2, c_acctbal
        FROM customer WHERE c_custkey % 9 <> 0
    )
    SELECT k1, count(*) AS n_pairs,
           round(sum(o_totalprice + c_acctbal), 2) AS tot
    FROM mn_o JOIN mn_c ON k1 = k2
    GROUP BY k1
    """,
    doc=(
        "M:N join-aggregate in the FLAT spelling (neither side enters "
        "the join through its PK) auto-rewritten to the nested cascade "
        "the planner maintains: inner two-sided IncrementalJoinMV keyed "
        "by both PKs, outer IncrementalAggMV fed by the inner store's "
        "batch deltas (planner.rewrite_mn_join_agg). Previously this "
        "spelling fell back to full recompute — the user had to write "
        "the nesting by hand. Per-batch work = dirty-join-key recompute "
        "+ the outer merge over the inner's delta. The fn raises unless "
        "routed CascadeMV[IncrementalJoinMV -> IncrementalAggMV]; churn "
        "hits both sides (deletes + a join-key move)."
    ),
    tags=("mv", "incremental", "planner", "join", "cascade"),
)
def mvapp_auto_mn_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    src_o = (
        t["orders"]
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 50).alias("k1"),
            "o_totalprice",
        )
    )
    src_c = t["customer"].select(
        "c_custkey", (F.col("c_custkey") % 50).alias("k2"), "c_acctbal"
    )
    work = tempfile.mkdtemp(prefix="mvapp_mn_")
    try:
        app = (
            MVApp.builder(spark)
            .source("mn_o", src_o, pk=["o_orderkey"])
            .source("mn_c", src_c, pk=["c_custkey"])
            .query(
                """SELECT k1, count(*) AS n_pairs,
                          sum(o_totalprice + c_acctbal) AS tot_raw
                   FROM mn_o JOIN mn_c ON k1 = k2
                   GROUP BY k1"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        strat = app.describe()["maintenance_strategy"]
        if strat != "CascadeMV[IncrementalJoinMV -> IncrementalAggMV]":
            raise AssertionError(f"planner routed the flat M:N agg to {strat}")
        app.bootstrap()
        # churn: delete orders rows, delete customer rows, move a join key
        o_del = (
            src_o.filter(F.col("o_orderkey") % 70 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"mn_o": o_del}, batch_id=1)
        c_del = (
            src_c.filter(F.col("c_custkey") % 9 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"mn_c": c_del}, batch_id=2)
        return (
            app.read()
            .select("k1", "n_pairs", F.round("tot_raw", 2).alias("tot"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mv_window_domain",
    f"""
    WITH final_orders_wd AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey < {BIG}
                    THEN o_custkey % 100 + 1 ELSE o_custkey END AS o_custkey,
               o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + {BIG}, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 100 = 0
        )
    )
    SELECT o_orderkey,
           o_custkey % 3 AS seg,
           rank() OVER (PARTITION BY o_custkey % 3 ORDER BY o_totalprice) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey % 3 ORDER BY o_totalprice) AS drnk,
           count(*) OVER (PARTITION BY o_custkey % 3 ORDER BY o_totalprice) AS rcnt,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey % 3 ORDER BY o_totalprice), 2) AS rsum
    FROM final_orders_wd
    """,
    doc=(
        "OVER-window MV maintained with the DOMAIN two-pass strategy — "
        "the skew-proof plan for peer-uniform functions: groupBy(g, "
        "order-value) pre-aggregate (hash-distributed over the pair, a "
        "hot partition key cannot pin one task), window over the "
        "DOMAIN rows (sort cost = distinct order values, not row "
        "count), null-safe join back. Only 3 partitions over the whole "
        "orders table — exactly the shape where the per-partition sort "
        "strategy would hotspot at 100 TB. Exact equality with SQL "
        "window semantics (rank/dense_rank/count/sum under the default "
        "RANGE frame) proven against the DuckDB oracle after scripted "
        "+I/-D/+U churn."
    ),
    tags=("mv", "incremental", "window", "skew"),
)
def mv_window_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.mv import IncrementalWindowMV

    t = _t(spark, sf_dir)
    orders = t["orders"].select("o_orderkey", "o_custkey", "o_totalprice")

    def with_seg(df: DataFrame) -> DataFrame:
        return df.withColumn("seg", (F.col("o_custkey") % 3).cast("long"))

    items = [
        "o_orderkey",
        "seg",
        "rank() OVER (PARTITION BY seg ORDER BY o_totalprice) AS rnk",
        "dense_rank() OVER (PARTITION BY seg ORDER BY o_totalprice) AS drnk",
        "count(*) OVER (PARTITION BY seg ORDER BY o_totalprice) AS rcnt",
        "sum(o_totalprice) OVER (PARTITION BY seg ORDER BY o_totalprice) AS rsum_raw",
    ]
    work = tempfile.mkdtemp(prefix="mv_wdom_")
    try:
        mv = IncrementalWindowMV(
            spark,
            fact=with_seg(orders),
            fact_pk=["o_orderkey"],
            group_key="seg",
            select_items=items,
            stores=StoreSet(spark, work, 4),
            shuffle_partitions=8,
            strategy="domain",
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(orders), start=1):
            mv.refresh(with_seg(b), batch_id=i)
        return (
            mv.read()
            .select(
                "o_orderkey",
                "seg",
                "rnk",
                "drnk",
                "rcnt",
                F.round("rsum_raw", 2).alias("rsum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_theta_join",
    """
    WITH ev_t AS (
        SELECT event_id, value FROM events
        WHERE event_id % 20 = 0 AND event_id % 60 <> 0
    ),
    bands_t AS (
        SELECT n_nationkey AS bid,
               CAST(n_nationkey * 25 AS DOUBLE) AS lo,
               CAST(n_nationkey * 25 + 40 AS DOUBLE) +
                   CASE WHEN n_nationkey % 5 = 0 THEN 10.0 ELSE 0.0 END AS hi,
               n_name AS label
        FROM nation
    )
    SELECT event_id, round(value, 2) AS val, bid, label
    FROM ev_t JOIN bands_t ON value >= lo AND value < hi
    """,
    doc=(
        "Two-sided NON-EQUI (interval-band) join view auto-routed to "
        "IncrementalThetaJoinMV: overlapping value bands mean each "
        "event can join several bands — no equi key exists, so "
        "maintenance is dirty-PK recompute over both post-merge states "
        "(recomputed = dirtyL x R  U  (L - dirtyL) x dirtyR), the "
        "change-bounded version of the inherent non-equi cost (Flink "
        "keeps both sides' full state for its non-equi stream joins). "
        "The per-batch dirty side is broadcast, so the nested-loop "
        "streams distributed instead of planning a cartesian. Churn "
        "deletes events AND widens band boundaries (rows enter the "
        "view with no event-side change); the fn raises unless routed "
        "incrementally, and replays a batch for idempotence."
    ),
    tags=("mv", "incremental", "planner", "join", "theta"),
)
def mvapp_auto_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    ev = t["events"].filter(F.col("event_id") % 20 == 0).select("event_id", "value")
    bands = t["nation"].select(
        F.col("n_nationkey").alias("bid"),
        (F.col("n_nationkey") * 25).cast("double").alias("lo"),
        ((F.col("n_nationkey") * 25 + 40).cast("double")).alias("hi"),
        F.col("n_name").alias("label"),
    )
    work = tempfile.mkdtemp(prefix="mvapp_theta_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ev_t", ev, pk=["event_id"])
            .source("bands_t", bands, pk=["bid"])
            .query(
                """SELECT event_id, value, bid, label
                   FROM ev_t JOIN bands_t ON value >= lo AND value < hi"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalThetaJoinMV":
            raise AssertionError(
                f"planner routed the interval join to {app.maintenance_strategy}"
            )
        app.bootstrap()
        e_del = (
            ev.filter(F.col("event_id") % 60 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ev_t": e_del}, batch_id=1)
        # widen every 5th band: rows join it with NO event-side change
        b_up = (
            bands.filter(F.col("bid") % 5 == 0)
            .withColumn("hi", F.col("hi") + 10.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"bands_t": b_up}, batch_id=2)
        app.refresh({"bands_t": b_up}, batch_id=2)  # crash replay: no-op
        return (
            app.read()
            .select("event_id", F.round("value", 2).alias("val"), "bid", "label")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_full_outer",
    """
    WITH sup_t AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 9 = 0
                    THEN (s_nationkey + 7) % 25 ELSE s_nationkey END AS fk,
               CASE WHEN s_suppkey % 9 = 0
                    THEN s_acctbal + 5.0 ELSE s_acctbal END AS bal
        FROM supplier
        WHERE s_suppkey % 3 = 0 AND s_suppkey % 12 <> 0
    ),
    sup2 AS (
        SELECT s_suppkey, fk % 5 AS fk_hi, fk % 7 AS fk_lo, bal FROM sup_t
    ),
    nat_t AS (
        SELECT n_nationkey % 5 AS n_hi, n_nationkey % 7 AS n_lo, n_name
        FROM nation WHERE n_nationkey <> 3
    )
    SELECT s_suppkey,
           fk_hi,
           fk_lo,
           CAST(round(bal * 100) AS BIGINT) AS bal_cents,
           n_hi,
           n_lo,
           n_name
    FROM sup2 FULL OUTER JOIN nat_t ON fk_hi = n_hi AND fk_lo = n_lo
    """,
    doc=(
        "FULL OUTER equi-join view auto-routed to "
        "IncrementalFullOuterJoinMV — the last common join type off "
        "recompute (VERDICT r4 #6), extended in round 6 to a "
        "COMPOSITE-PK dim: the ON is a conjunction of equalities "
        "covering the dim's full declared key (n_hi, n_lo) — a "
        "CRT-bijective split of nationkey, so join semantics match the "
        "single-key form (VERDICT r5 #5). Both sides preserved under "
        "two-sided churn: supplier deletes strand nations as dim-only "
        "NULL-extended rows, a key-moving update makes a nation gain "
        "its first supplier (retracting its dim-only row) while "
        "another loses its last (re-inserting one), and a nation "
        "delete re-NULLs its matched suppliers' payload. Flink's "
        "update-mode planner maintains this natively by delegation "
        "(TiFlinkApp.java:270); here it is dirty-key recompute + "
        "diff over a synthetic row identity (f:<pk> / d:<keys>), "
        "keyed by that identity because dim-only rows carry NULL "
        "fact PKs. A row-local WHERE routes too since round 7 (the "
        "stateless target-side filter; see "
        "mvapp_auto_full_outer_where). The fn raises unless routed "
        "incrementally and replays a batch for idempotence."
    ),
    tags=("mv", "incremental", "planner", "join", "full_outer"),
)
def mvapp_auto_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    sup_raw = (
        t["supplier"]
        .filter(F.col("s_suppkey") % 3 == 0)
        .select(
            "s_suppkey",
            F.col("s_nationkey").alias("fk"),
            F.col("s_acctbal").alias("bal"),
        )
    )

    def split_fk(df):
        return df.select(
            "s_suppkey",
            (F.col("fk") % 5).alias("fk_hi"),
            (F.col("fk") % 7).alias("fk_lo"),
            "bal",
            *[c for c in (OP_COL, SEQ_COL) if c in df.columns],
        )

    sup = split_fk(sup_raw)
    nat = t["nation"].select(
        (F.col("n_nationkey") % 5).alias("n_hi"),
        (F.col("n_nationkey") % 7).alias("n_lo"),
        "n_name",
    )
    work = tempfile.mkdtemp(prefix="mvapp_fo_")
    try:
        app = (
            MVApp.builder(spark)
            .source("sup2", sup, pk=["s_suppkey"])
            .source("nat_t", nat, pk=["n_hi", "n_lo"])
            .query(
                """SELECT s_suppkey, fk_hi, fk_lo, bal, n_hi, n_lo, n_name
                   FROM sup2 FULL OUTER JOIN nat_t
                     ON fk_hi = n_hi AND fk_lo = n_lo"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalFullOuterJoinMV":
            raise AssertionError(
                f"planner routed the full outer join to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 -D: some nations lose their last supplier -> d-rows appear
        s_del = split_fk(
            sup_raw.filter(F.col("s_suppkey") % 12 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup2": s_del}, batch_id=1)
        # B2 +U: key-moving updates — a nation may gain its FIRST
        # supplier (its dim-only row retracts) or lose its last
        s_upd = split_fk(
            sup_raw.filter(
                (F.col("s_suppkey") % 9 == 0) & (F.col("s_suppkey") % 12 != 0)
            )
            .withColumn("fk", (F.col("fk") + 7) % 25)
            .withColumn("bal", F.col("bal") + 5.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup2": s_upd}, batch_id=2)
        app.refresh({"sup2": s_upd}, batch_id=2)  # crash replay: no-op
        # B3 dim -D: nation 3's matched suppliers re-NULL their payload
        n_del = (
            nat.filter((F.col("n_hi") == 3 % 5) & (F.col("n_lo") == 3 % 7))
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"nat_t": n_del}, batch_id=3)
        return (
            app.read()
            .select(
                "s_suppkey",
                "fk_hi",
                "fk_lo",
                F.round(F.col("bal") * 100).cast("bigint").alias("bal_cents"),
                "n_hi",
                "n_lo",
                "n_name",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_full_outer_where",
    """
    WITH sup_t AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 9 = 0
                    THEN (s_nationkey + 7) % 25 ELSE s_nationkey END AS fk,
               CASE WHEN s_suppkey % 9 = 0
                    THEN s_acctbal + 3000.0 ELSE s_acctbal END AS bal
        FROM supplier
        WHERE s_suppkey % 3 = 0 AND s_suppkey % 12 <> 0
    ),
    nat_t AS (
        SELECT n_nationkey, n_name FROM nation WHERE n_nationkey <> 7
    )
    SELECT s_suppkey, fk,
           CAST(round(bal * 100) AS BIGINT) AS bal_cents,
           n_nationkey, n_name
    FROM sup_t FULL OUTER JOIN nat_t ON fk = n_nationkey
    WHERE coalesce(bal, 5000.0) > 2500.0 AND coalesce(n_nationkey, 99) <> 7
    """,
    doc=(
        "FULL OUTER equi-join view WITH a row-local WHERE, auto-routed "
        "to IncrementalFullOuterJoinMV — the round-6 verdict's #4 ask, "
        "replacing the matcher's former blanket WHERE refusal. SQL "
        "evaluates WHERE after the join, so it is the stateless "
        "target-side filter, not a preserved-row change: the MV "
        "filters each recomputed slice before diffing, and the target "
        "stores only passing rows. Exact even for predicates over "
        "NULL-extended columns — here both arms coalesce a NULL side "
        "(bal NULL for dim-only rows passes via the 5000 default; "
        "n_nationkey NULL for fact-only rows passes <>7) — because "
        "the filter sees exactly the joined rows recompute sees. The "
        "churn flips rows across the predicate on both preserved "
        "sides: +3000 balance updates lift fact rows over the 2500 "
        "bar, supplier deletes strand nations as (passing) dim-only "
        "rows, and deleting nation 7 flips its matched suppliers INTO "
        "the view (their n_nationkey re-NULLs, so <>7 starts passing). "
        "Flink's update-mode planner maintains filtered outer joins "
        "natively by delegation (TiFlinkApp.java:270). The fn raises "
        "unless routed incrementally and replays a batch for "
        "idempotence."
    ),
    tags=("mv", "incremental", "planner", "join", "full_outer", "filter"),
)
def mvapp_auto_full_outer_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    sup = (
        t["supplier"]
        .filter(F.col("s_suppkey") % 3 == 0)
        .select(
            "s_suppkey",
            F.col("s_nationkey").alias("fk"),
            F.col("s_acctbal").alias("bal"),
        )
    )
    nat = t["nation"].select("n_nationkey", "n_name")
    work = tempfile.mkdtemp(prefix="mvapp_fow_")
    try:
        app = (
            MVApp.builder(spark)
            .source("sup2", sup, pk=["s_suppkey"])
            .source("nat_t", nat, pk=["n_nationkey"])
            .query(
                """SELECT s_suppkey, fk, bal, n_nationkey, n_name
                   FROM sup2 FULL OUTER JOIN nat_t ON fk = n_nationkey
                   WHERE coalesce(bal, 5000.0) > 2500.0
                     AND coalesce(n_nationkey, 99) <> 7"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalFullOuterJoinMV":
            raise AssertionError(
                f"planner routed the filtered full outer join to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 -D: some nations lose their last supplier -> dim-only rows
        # appear (and PASS the filter via coalesce(bal, 5000))
        s_del = (
            sup.filter(F.col("s_suppkey") % 12 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup2": s_del}, batch_id=1)
        # B2 +U: key-moving + predicate-flipping updates (+3000 lifts
        # rows over the 2500 bar; the fk move re-keys the join)
        s_upd = (
            sup.filter(
                (F.col("s_suppkey") % 9 == 0) & (F.col("s_suppkey") % 12 != 0)
            )
            .withColumn("fk", (F.col("fk") + 7) % 25)
            .withColumn("bal", F.col("bal") + 3000.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup2": s_upd}, batch_id=2)
        app.refresh({"sup2": s_upd}, batch_id=2)  # crash replay: no-op
        # B3 dim -D: nation 7 leaves; its matched suppliers re-NULL and
        # flip INTO the view (<>7 passes on the coalesced 99)
        n_del = (
            nat.filter(F.col("n_nationkey") == 7)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"nat_t": n_del}, batch_id=3)
        return (
            app.read()
            .select(
                "s_suppkey",
                "fk",
                F.round(F.col("bal") * 100).cast("bigint").alias("bal_cents"),
                "n_nationkey",
                "n_name",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_cascade_full_outer",
    """
    WITH sup_t AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 9 = 0
                    THEN (s_nationkey + 7) % 25 ELSE s_nationkey END AS fk
        FROM supplier
        WHERE s_suppkey % 3 = 0 AND s_suppkey % 12 <> 0
    ),
    nat_t AS (
        SELECT n_nationkey, n_name FROM nation WHERE n_nationkey <> 3
    ),
    j AS (
        SELECT s_suppkey, fk, n_nationkey, n_name
        FROM sup_t FULL OUTER JOIN nat_t ON fk = n_nationkey
    )
    SELECT coalesce(n_name, '(none)') AS nm,
           count(*) AS n,
           count(s_suppkey) AS n_sup
    FROM j GROUP BY coalesce(n_name, '(none)')
    """,
    doc=(
        "Aggregate over a FULL OUTER join inner maintained as a "
        "cascade (r6): the join view is a bag (dim-only rows carry "
        "NULL fact PKs), so the outer consumes it through the "
        "synthetic row identity __rowid — the same hidden-carrier "
        "contract as UNION ALL and grouping-sets inners. The outer "
        "groups by a NULL-safe expression key (coalesce of the "
        "preserved dim name). Churn: supplier deletes strand nations "
        "as dim-only rows (their identity flips d:<key>), key-moving "
        "updates make nations gain first/lose last suppliers, and a "
        "nation delete re-NULLs its matched rows into the '(none)' "
        "bucket; a batch replays for idempotence. The fn raises "
        "unless both levels routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "cascade", "full_outer"),
)
def mvapp_auto_cascade_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    sup = (
        t["supplier"]
        .filter(F.col("s_suppkey") % 3 == 0)
        .select("s_suppkey", F.col("s_nationkey").alias("fk"))
    )
    nat = t["nation"].select("n_nationkey", "n_name")
    work = tempfile.mkdtemp(prefix="mvapp_cfo_")
    try:
        app = (
            MVApp.builder(spark)
            .source("sup_t", sup, pk=["s_suppkey"])
            .source("nat_t", nat, pk=["n_nationkey"])
            .query(
                """SELECT coalesce(n_name, '(none)') AS nm,
                          count(*) AS n, count(s_suppkey) AS n_sup
                   FROM (
                     SELECT s_suppkey, fk, n_nationkey, n_name
                     FROM sup_t FULL OUTER JOIN nat_t ON fk = n_nationkey
                   ) j GROUP BY coalesce(n_name, '(none)')"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV" or (
            app._mv.inner.maintenance_strategy != "IncrementalFullOuterJoinMV"
        ):
            raise AssertionError(
                f"planner routed the full-outer cascade to {app.maintenance_strategy}"
            )
        app.bootstrap()
        s_del = (
            sup.filter(F.col("s_suppkey") % 12 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup_t": s_del}, batch_id=1)
        s_upd = (
            sup.filter((F.col("s_suppkey") % 9 == 0) & (F.col("s_suppkey") % 12 != 0))
            .withColumn("fk", (F.col("fk") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup_t": s_upd}, batch_id=2)
        app.refresh({"sup_t": s_upd}, batch_id=2)  # crash replay: no-op
        n_del = (
            nat.filter(F.col("n_nationkey") == 3)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"nat_t": n_del}, batch_id=3)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_cascade_bag",
    """
    WITH b1 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 12 = 0 THEN 'X-MOVED'
                    ELSE o_orderpriority END AS pri
        FROM orders WHERE o_orderkey % 4 = 0
    ),
    b2 AS (
        SELECT o_orderkey, o_orderpriority AS pri
        FROM orders WHERE o_orderkey % 6 = 0 AND o_orderkey % 24 <> 0
    ),
    u AS (SELECT pri FROM b1 UNION ALL SELECT pri FROM b2)
    SELECT pri, count(*) AS n FROM u GROUP BY pri
    """,
    doc=(
        "Aggregate over a BAG-semantics inner (UNION ALL) maintained as "
        "a cascade (VERDICT r4 #7): the union's advertised PK is unique "
        "per branch only, so the outer level consumes the inner "
        "relation WITH its hidden branch tag — the true compound key — "
        "and keys its stores by it; cross-branch duplicate orderkeys "
        "(every %12 key is in both branches) count once per branch, "
        "never collapsing. Churn updates one branch's copy of the "
        "duplicated keys (group move) and deletes the other's; a batch "
        "replays for idempotence. The fn raises unless both levels "
        "routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "cascade", "union"),
)
def mvapp_auto_cascade_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    b1 = (
        t["orders"]
        .filter(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", F.col("o_orderpriority").alias("pri"))
    )
    b2 = (
        t["orders"]
        .filter(F.col("o_orderkey") % 6 == 0)
        .select("o_orderkey", F.col("o_orderpriority").alias("pri"))
    )
    work = tempfile.mkdtemp(prefix="mvapp_cb_")
    try:
        app = (
            MVApp.builder(spark)
            .source("b1", b1, pk=["o_orderkey"])
            .source("b2", b2, pk=["o_orderkey"])
            .query(
                """SELECT pri, count(*) AS n FROM (
                     SELECT o_orderkey, pri FROM b1
                     UNION ALL
                     SELECT o_orderkey, pri FROM b2
                   ) u GROUP BY pri"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV" or (
            app._mv.inner.maintenance_strategy != "IncrementalUnionMV"
        ):
            raise AssertionError(
                f"planner routed the bag cascade to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 +U: move one branch's copy of every duplicated key — the
        # other branch's copy must keep counting under its old group
        u1 = (
            b1.filter(F.col("o_orderkey") % 12 == 0)
            .withColumn("pri", F.lit("X-MOVED"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"b1": u1}, batch_id=1)
        # B2 -D: delete the second branch's copy of a subset
        d2 = (
            b2.filter(F.col("o_orderkey") % 24 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"b2": d2}, batch_id=2)
        app.refresh({"b2": d2}, batch_id=2)  # crash replay: no-op
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_cascade_gsets",
    """
    WITH src AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
                    THEN 'X-MOVED' ELSE o_orderpriority END AS pri,
               o_orderstatus AS st,
               o_orderkey % 50 AS units
        FROM orders
        WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
    ),
    r AS (
        SELECT pri, st, count(*) AS n, sum(units) AS units_sum
        FROM src GROUP BY ROLLUP (pri, st)
    )
    SELECT coalesce(pri, '(all)') AS pri_g,
           CAST(sum(n) AS BIGINT) AS grain_rows,
           CAST(sum(units_sum) AS BIGINT) AS units_total,
           count(*) AS grains
    FROM r GROUP BY coalesce(pri, '(all)')
    """,
    doc=(
        "Aggregate over a GROUPING SETS inner maintained as a cascade "
        "(VERDICT r5 #4): the rollup view is a bag (subtotal rows carry "
        "NULL keys), so the outer level consumes it through the hidden "
        "per-set row identity __set_row — (grouping set, that set's key "
        "values) as one non-NULL column — exactly the hidden-carrier "
        "mechanism UNION ALL cascades use. The outer groups by a "
        "NULL-safe expression key (coalesce of a subtotal-NULLable "
        "rollup key), so the bag's NULL keys never reach a keyed "
        "store's PK. Churn moves rows across grouping sets (priority "
        "rewrite) and deletes others; a batch replays for idempotence. "
        "The fn raises unless both levels routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "cascade", "grouping_sets"),
)
def mvapp_auto_cascade_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    src = (
        t["orders"]
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
            (F.col("o_orderkey") % 50).alias("units"),
        )
    )
    work = tempfile.mkdtemp(prefix="mvapp_cg_")
    try:
        app = (
            MVApp.builder(spark)
            .source("src", src, pk=["o_orderkey"])
            .query(
                """SELECT coalesce(pri, '(all)') AS pri_g,
                          sum(n) AS grain_rows,
                          sum(units_sum) AS units_total,
                          count(*) AS grains
                   FROM (
                     SELECT pri, st, count(*) AS n, sum(units) AS units_sum
                     FROM src GROUP BY ROLLUP (pri, st)
                   ) r GROUP BY coalesce(pri, '(all)')"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV" or (
            app._mv.inner.maintenance_strategy != "IncrementalGroupingSetsMV"
        ):
            raise AssertionError(
                f"planner routed the grouping-sets cascade to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 -D: every %7 orderkey leaves — subtotal grains shrink
        d1 = (
            src.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"src": d1}, batch_id=1)
        # B2 +U: move surviving %5 rows across grouping sets (priority
        # rewrite creates a NEW (pri) subtotal group and new (pri,st)
        # grains while retracting from the old ones)
        u2 = (
            src.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("pri", F.lit("X-MOVED"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"src": u2}, batch_id=2)
        app.refresh({"src": u2}, batch_id=2)  # crash replay: no-op
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# One oracle for both theta-tree spellings (nested below, flat in
# mvapp_auto_theta_tree_flat) — identical semantics, provably so.
_THETA_TREE_ORACLE_SQL = """
    WITH sup_f AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 5 = 0
                    THEN (s_nationkey + 11) % 25 ELSE s_nationkey END AS s_nationkey,
               CASE WHEN s_suppkey % 5 = 0
                    THEN s_acctbal + 2500.0 ELSE s_acctbal END AS s_acctbal
        FROM supplier WHERE s_suppkey % 2 = 0),
    nat_f AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey <> 7),
    bands_f AS (
        SELECT r_regionkey AS band_id,
               r_regionkey * 2000.0 - 1000.0 AS lo,
               CASE WHEN r_regionkey = 2
                    THEN r_regionkey * 2000.0 + 2500.0
                    ELSE r_regionkey * 2000.0 + 1000.0 END AS hi
        FROM region WHERE r_regionkey <> 0),
    j AS (SELECT s_suppkey, n_nationkey, s_acctbal, n_name
          FROM sup_f JOIN nat_f ON s_nationkey = n_nationkey)
    SELECT s_suppkey, n_nationkey,
           CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents,
           n_name, band_id,
           CAST(round(lo) AS BIGINT) AS lo_i,
           CAST(round(hi) AS BIGINT) AS hi_i
    FROM j JOIN bands_f ON s_acctbal >= lo AND s_acctbal < hi
    """


def _run_theta_tree(spark, sf_dir, query: str) -> DataFrame:
    """Shared body for the two theta-tree gates: build the MVApp over
    supplier/nation/band sources with ``query``, assert the CascadeMV
    + theta-outer routing, run the band-widening churn script, return
    the final state."""
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    sup = (
        t["supplier"]
        .filter(F.col("s_suppkey") % 2 == 0)
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )
    nat = t["nation"].select("n_nationkey", "n_name")
    bands = t["region"].select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 2000.0 - 1000.0).alias("lo"),
        (F.col("r_regionkey") * 2000.0 + 1000.0).alias("hi"),
    )
    work = tempfile.mkdtemp(prefix="mvapp_tt_")
    try:
        app = (
            MVApp.builder(spark)
            .source("sup_t", sup, pk=["s_suppkey"])
            .source("nat_t", nat, pk=["n_nationkey"])
            .source("bands", bands, pk=["band_id"])
            .query(query)
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV" or (
            app._mv.outer.maintenance_strategy != "IncrementalThetaJoinMV"
        ):
            raise AssertionError(
                f"planner routed the theta tree to {app.maintenance_strategy}"
                f"/{getattr(getattr(app._mv, 'outer', None), 'maintenance_strategy', '?')}"
            )
        app.bootstrap()
        s_upd = (
            sup.filter(F.col("s_suppkey") % 5 == 0)
            .withColumn("s_nationkey", (F.col("s_nationkey") + 11) % 25)
            .withColumn("s_acctbal", F.col("s_acctbal") + 2500.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup_t": s_upd}, batch_id=1)
        b_upd = (
            bands.filter(F.col("band_id") == 2)
            .withColumn("hi", F.col("hi") + 1500.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_del = (
            bands.filter(F.col("band_id") == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"bands": b_upd.unionByName(b_del)}, batch_id=2)
        app.refresh({"bands": b_upd.unionByName(b_del)}, batch_id=2)  # replay
        n_del = (
            nat.filter(F.col("n_nationkey") == 7)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"nat_t": n_del}, batch_id=3)
        return (
            app.read()
            .select(
                "s_suppkey",
                "n_nationkey",
                F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
                "n_name",
                "band_id",
                F.round("lo").cast("bigint").alias("lo_i"),
                F.round("hi").cast("bigint").alias("hi_i"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_theta_tree",
    _THETA_TREE_ORACLE_SQL,
    doc=(
        "ONE THETA EDGE inside an otherwise-equi join tree (round-7 "
        "verdict #6), maintained via the cascade spelling: the inner "
        "equi join (supplier enriched with its nation) is its own "
        "incremental MV, and the outer BAND join (acctbal BETWEEN a "
        "band's bounds — the non-equi edge) consumes the inner "
        "target's batch delta PLUS the band table's own changelog, "
        "which CascadeMV now splits per level. This is how Flink's "
        "planner shapes the same tree (equi hash-join feeding a "
        "band-predicate join, each keeping its own state; the "
        "reference gets it by delegation, TiFlinkApp.java:270). "
        "Band-widening churn on the theta side (band 2's upper bound "
        "grows to OVERLAP band 3, band 0 is dropped), balance/fk "
        "updates on the inner fact side, and a dim delete on the "
        "inner dim side all converge. The fn raises unless routed "
        "CascadeMV with a theta outer, and replays a batch for "
        "idempotence."
    ),
    tags=("mv", "incremental", "planner", "join", "theta", "cascade"),
)
def mvapp_auto_theta_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_theta_tree(
        spark,
        sf_dir,
        """SELECT s_suppkey, n_nationkey, s_acctbal, n_name,
                  band_id, lo, hi
           FROM ( SELECT s_suppkey, s_nationkey, n_nationkey,
                         s_acctbal, n_name
                  FROM sup_t JOIN nat_t
                    ON s_nationkey = n_nationkey ) j
           JOIN bands ON s_acctbal >= lo AND s_acctbal < hi""",
    )


@register(
    "mvapp_auto_theta_tree_flat",
    _THETA_TREE_ORACLE_SQL,
    doc=(
        "The SAME theta-over-equi tree as mvapp_auto_theta_tree, but in "
        "the FLAT spelling users actually write — "
        "FROM sup JOIN nation ON <equi> JOIN bands ON <band predicate> "
        "— auto-rewritten to the nested cascade form by "
        "planner.rewrite_theta_tree (round 7): inner equi-join MV keyed "
        "by both PKs feeding an outer theta MV, the band table's "
        "changelog going straight to the outer level. Same oracle, same "
        "band-widening churn script, same raises-unless-routed check; a "
        "green row proves the rewrite is semantics-preserving end to "
        "end."
    ),
    tags=("mv", "incremental", "planner", "join", "theta", "cascade"),
)
def mvapp_auto_theta_tree_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_theta_tree(
        spark,
        sf_dir,
        """SELECT s_suppkey, n_nationkey, s_acctbal, n_name,
                  band_id, lo, hi
           FROM sup_t JOIN nat_t ON s_nationkey = n_nationkey
           JOIN bands ON s_acctbal >= lo AND s_acctbal < hi""",
    )


@register(
    "mvapp_auto_theta_multi",
    """
    WITH sup_f AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 5 = 0
                    THEN (s_nationkey + 11) % 25 ELSE s_nationkey END AS s_nationkey,
               CASE WHEN s_suppkey % 5 = 0
                    THEN s_acctbal + 2500.0 ELSE s_acctbal END AS s_acctbal
        FROM supplier WHERE s_suppkey % 2 = 0),
    nat_f AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey <> 7),
    bands_f AS (
        SELECT r_regionkey AS band_id,
               r_regionkey * 2000.0 - 1000.0 AS lo,
               CASE WHEN r_regionkey = 2
                    THEN r_regionkey * 2000.0 + 2500.0
                    ELSE r_regionkey * 2000.0 + 1000.0 END AS hi
        FROM region),
    nbands_f AS (
        SELECT r_regionkey AS nb_id,
               r_regionkey * 5 AS nb_lo,
               r_regionkey * 5 + 5 AS nb_hi
        FROM region WHERE r_regionkey <> 0)
    SELECT s_suppkey, n_nationkey,
           CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents,
           n_name, band_id,
           CAST(round(lo) AS BIGINT) AS lo_i,
           CAST(round(hi) AS BIGINT) AS hi_i,
           nb_id
    FROM sup_f
    JOIN nat_f ON s_nationkey = n_nationkey
    JOIN bands_f ON s_acctbal >= lo AND s_acctbal < hi
    JOIN nbands_f ON n_nationkey >= nb_lo AND n_nationkey < nb_hi
    """,
    doc=(
        "MULTIPLE THETA EDGES in one flat join tree (round 10; the "
        "round-9 verdict's recompute-only tail): supplier enriched "
        "with its nation (equi), banded by account balance (theta 1), "
        "then banded again by nation key (theta 2) — four tables, two "
        "non-equi edges, written FLAT the way users write it. "
        "planner.rewrite_theta_tree peels the LAST edge into a "
        "cascade outer and recurses on the rest, so the plan is "
        "CascadeMV(inner=CascadeMV(equi join -> theta), outer=theta) "
        "— a cascade CHAIN, each theta level consuming the level "
        "below's batch delta plus its own band table's changelog "
        "(Flink shapes the same tree as chained non-equi joins by "
        "delegation, TiFlinkApp.java:270). Churn hits every level: "
        "nation-moving + balance-moving supplier updates through the "
        "equi inner, a band widen on theta level 1 and a band DELETE "
        "on theta level 2 in the SAME batch (then replayed for "
        "idempotence), and a nation delete. The fn raises unless "
        "routed as the nested cascade chain."
    ),
    tags=("mv", "incremental", "planner", "join", "theta", "cascade"),
)
def mvapp_auto_theta_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    sup = (
        t["supplier"]
        .filter(F.col("s_suppkey") % 2 == 0)
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )
    nat = t["nation"].select("n_nationkey", "n_name")
    bands = t["region"].select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 2000.0 - 1000.0).alias("lo"),
        (F.col("r_regionkey") * 2000.0 + 1000.0).alias("hi"),
    )
    nbands = t["region"].select(
        F.col("r_regionkey").alias("nb_id"),
        (F.col("r_regionkey") * 5).alias("nb_lo"),
        (F.col("r_regionkey") * 5 + 5).alias("nb_hi"),
    )
    work = tempfile.mkdtemp(prefix="mvapp_tm_")
    try:
        app = (
            MVApp.builder(spark)
            .source("sup_t", sup, pk=["s_suppkey"])
            .source("nat_t", nat, pk=["n_nationkey"])
            .source("bands", bands, pk=["band_id"])
            .source("nbands", nbands, pk=["nb_id"])
            .query(
                """SELECT s_suppkey, n_nationkey, s_acctbal, n_name,
                          band_id, lo, hi, nb_id
                   FROM sup_t JOIN nat_t ON s_nationkey = n_nationkey
                   JOIN bands ON s_acctbal >= lo AND s_acctbal < hi
                   JOIN nbands ON n_nationkey >= nb_lo AND n_nationkey < nb_hi"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        inner = getattr(app._mv, "inner", None)
        if (
            app.maintenance_strategy != "CascadeMV"
            or app._mv.outer.maintenance_strategy != "IncrementalThetaJoinMV"
            or inner is None
            or inner.maintenance_strategy != "CascadeMV"
            or inner._mv.outer.maintenance_strategy != "IncrementalThetaJoinMV"
        ):
            raise AssertionError(
                "planner must route the multi-theta tree as a nested "
                f"cascade chain; got {app.maintenance_strategy}/"
                f"{getattr(inner, 'maintenance_strategy', '?')}"
            )
        app.bootstrap()
        s_upd = (
            sup.filter(F.col("s_suppkey") % 5 == 0)
            .withColumn("s_nationkey", (F.col("s_nationkey") + 11) % 25)
            .withColumn("s_acctbal", F.col("s_acctbal") + 2500.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"sup_t": s_upd}, batch_id=1)
        b_upd = (
            bands.filter(F.col("band_id") == 2)
            .withColumn("hi", F.col("hi") + 1500.0)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        nb_del = (
            nbands.filter(F.col("nb_id") == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"bands": b_upd, "nbands": nb_del}, batch_id=2)
        app.refresh({"bands": b_upd, "nbands": nb_del}, batch_id=2)  # replay
        n_del = (
            nat.filter(F.col("n_nationkey") == 7)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"nat_t": n_del}, batch_id=3)
        return (
            app.read()
            .select(
                "s_suppkey",
                "n_nationkey",
                F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
                "n_name",
                "band_id",
                F.round("lo").cast("bigint").alias("lo_i"),
                F.round("hi").cast("bigint").alias("hi_i"),
                "nb_id",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_cascade_bag_setop",
    """
    WITH a_f AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'X-MOVED'
                    ELSE o_orderpriority END AS pri_a
        FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderkey % 14 <> 0),
    b_f AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 15 = 0 THEN 'X-MOVED'
                    ELSE o_orderpriority END AS pri_b
        FROM orders
        WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0),
    bag AS (SELECT pri_a AS pri FROM a_f
            INTERSECT ALL
            SELECT pri_b AS pri FROM b_f)
    SELECT pri, count(*) AS n FROM bag GROUP BY pri
    """,
    doc=(
        "Aggregate over a BAG SET-OP inner (INTERSECT ALL) maintained "
        "as a cascade — the round-9 verdict's recompute-only tail "
        "('bag-semantics set ops inside cascades'), closed in round "
        "10. The bag view's duplicates ARE the semantics, so there is "
        "no tuple key; the inner exposes its hidden per-copy index "
        "(copies deterministically numbered 1..multiplicity) that keys "
        "its target, so a multiplicity transition m0->m1 reaches the "
        "outer as tail-copy +I/-D change rows — the outer aggregate "
        "keys its state by (tuple, copy) and counts every copy, "
        "exactly SQL's INTERSECT ALL min(cnt_a, cnt_b) semantics "
        "(Flink's update-mode planner represents the same bag as "
        "per-tuple counts; the reference gets it by delegation, "
        "TiFlinkApp.java:270). Churn moves priorities on side A, "
        "deletes on side B (replayed), then hits BOTH sides in one "
        "batch — the case where the diff must pair old/new counts "
        "across one version step. The fn raises unless routed "
        "CascadeMV[setop -> agg]."
    ),
    tags=("mv", "incremental", "planner", "cascade", "setop"),
)
def mvapp_auto_cascade_bag_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    side_a = (
        t["orders"]
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", F.col("o_orderpriority").alias("pri"))
    )
    side_b = (
        t["orders"]
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("ob_key"),
            F.col("o_orderpriority").alias("pri_b"),
        )
    )
    work = tempfile.mkdtemp(prefix="mvapp_cbs_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_a", side_a, pk=["o_orderkey"])
            .source("ord_b", side_b, pk=["ob_key"])
            .query(
                """SELECT pri, count(*) AS n FROM
                   ( SELECT pri FROM ord_a
                     INTERSECT ALL
                     SELECT pri_b FROM ord_b ) bag
                   GROUP BY pri"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if (
            app.maintenance_strategy != "CascadeMV"
            or app._mv.inner.maintenance_strategy != "IncrementalSetOpMV"
        ):
            raise AssertionError(
                f"planner routed the bag-setop cascade to "
                f"{app.maintenance_strategy}/"
                f"{getattr(getattr(app._mv, 'inner', None), 'maintenance_strategy', '?')}"
            )
        app.bootstrap()
        a_upd = (
            side_a.filter(F.col("o_orderkey") % 10 == 0)
            .withColumn("pri", F.lit("X-MOVED"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_a": a_upd}, batch_id=1)
        b_del = (
            side_b.filter(F.col("ob_key") % 9 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_b": b_del}, batch_id=2)
        app.refresh({"ord_b": b_del}, batch_id=2)  # replay
        a_del = (
            side_a.filter(F.col("o_orderkey") % 14 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_upd = (
            side_b.filter((F.col("ob_key") % 15 == 0) & (F.col("ob_key") % 9 != 0))
            .withColumn("pri_b", F.lit("X-MOVED"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_a": a_del, "ord_b": b_upd}, batch_id=3)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)



@register(
    "mvapp_auto_agg_enriched",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    agg AS (
        SELECT o_custkey, count(*) AS n_orders
        FROM final_orders_gs GROUP BY o_custkey),
    cust_f AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0
                    THEN concat('R-', CAST(c_custkey AS VARCHAR))
                    ELSE c_name END AS c_name,
               c_nationkey
        FROM customer WHERE c_custkey % 97 <> 0)
    SELECT o_custkey, n_orders, c_name, c_nationkey
    FROM agg JOIN cust_f ON o_custkey = c_custkey
    """,
    doc=(
        "DECORATED AGGREGATE — the reporting MV shape: a per-customer "
        "order count enriched with the customer dimension, spelled as "
        "a derived-table aggregate joined to the dim. Routes through "
        "the round-7 cascade pass-through (inner IncrementalAggMV "
        "feeding an outer IncrementalJoinProjectionMV via the store's "
        "batch delta, with the dim's own changelog going straight to "
        "the outer level). Churn hits BOTH levels: scripted order "
        "+I/-D/+U (group-moving custkey rewrites) through the inner, "
        "and dim renames + deletes through the outer (a deleted "
        "customer drops its row — inner-join semantics — a renamed "
        "one rewrites in place). The fn raises unless routed "
        "CascadeMV[agg -> join-projection] and replays a batch for "
        "idempotence."
    ),
    tags=("mv", "incremental", "planner", "cascade", "join"),
)
def mvapp_auto_agg_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    orders = t["orders"].select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    cust = t["customer"].select("c_custkey", "c_name", "c_nationkey")
    work = tempfile.mkdtemp(prefix="mvapp_ae_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_e", orders, pk=["o_orderkey"])
            .source("cust_e", cust, pk=["c_custkey"])
            .query(
                """SELECT o_custkey, n_orders, c_name, c_nationkey
                   FROM ( SELECT o_custkey, count(*) AS n_orders
                          FROM ord_e GROUP BY o_custkey ) a
                   JOIN cust_e ON o_custkey = c_custkey"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "CascadeMV" or (
            app._mv.outer.maintenance_strategy != "IncrementalJoinProjectionMV"
        ):
            raise AssertionError(
                f"planner routed the decorated aggregate to {app.maintenance_strategy}"
            )
        app.bootstrap()
        for i, b in enumerate(scripted_batches(orders), start=1):
            app.refresh({"ord_e": b}, batch_id=i)
        # B4: dim churn straight to the OUTER level — renames rewrite
        # rows in place, deletes drop them (inner-join semantics)
        # keys divisible by both 10 and 97 get a rename AND a delete in
        # this one batch — explicit seq literals order them (delete
        # last wins, matching the oracle's WHERE-then-CASE)
        c_ren = (
            cust.filter(F.col("c_custkey") % 10 == 0)
            .withColumn("c_name", F.concat(F.lit("R-"), F.col("c_custkey").cast("string")))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.lit(0).cast("long"))
        )
        c_del = (
            cust.filter(F.col("c_custkey") % 97 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.lit(1).cast("long"))
        )
        app.refresh({"cust_e": c_ren.unionByName(c_del)}, batch_id=4)
        app.refresh({"cust_e": c_ren.unionByName(c_del)}, batch_id=4)  # replay
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_temporal_join",
    """
    WITH profile_changes AS (
        SELECT user_id, TIMESTAMP '2023-01-01' AS valid_from,
               user_id % 5 AS tier, 0 AS is_del
        FROM (SELECT DISTINCT user_id FROM events)
        UNION ALL
        SELECT user_id, TIMESTAMP '2024-01-11', user_id % 5 + 10, 0
        FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 3 = 0
        UNION ALL
        SELECT user_id, TIMESTAMP '2024-01-21', NULL, 1
        FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 7 = 0
    ),
    versions AS (
        SELECT user_id, tier, is_del, valid_from,
               LEAD(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from) AS valid_to
        FROM profile_changes
    ),
    final_events AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 12 = 0 THEN value + 1 ELSE value END AS value
        FROM events
    )
    SELECT e.event_id, e.user_id, e.ts, e.value, v.tier
    FROM final_events e JOIN versions v
      ON e.user_id = v.user_id
     AND v.is_del = 0
     AND e.ts >= v.valid_from
     AND (v.valid_to IS NULL OR e.ts < v.valid_to)
    """,
    doc=(
        "Temporal/versioned dim join (FOR SYSTEM_TIME AS OF f.ts — "
        "Flink SQL's event-time temporal join, in the reference's "
        "surface by delegation, TiFlinkApp.java:270), auto-routed to "
        "IncrementalTemporalJoinMV: the dim's history is maintained "
        "SCD-2 style and every fact row joins the dim VERSION valid as "
        "of its own event time. Churned on both sides: a tier change "
        "mid-range, a dim DELETE later, and fact batches whose rows "
        "STRADDLE the version boundaries — the same user re-arrives "
        "across dim versions (late rows land on old versions), plus "
        "in-place fact updates. The fn raises unless the planner "
        "routed the temporal syntax; the oracle reconstructs the "
        "version intervals with a LEAD window and replays the as-of "
        "join in pure SQL."
    ),
    tags=("mv", "incremental", "planner", "temporal", "join"),
)
def mvapp_auto_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    events = t["events"]
    profile0 = (
        events.select("user_id")
        .distinct()
        .select(
            F.col("user_id"),
            (F.col("user_id") % 5).alias("tier"),
            F.lit("2023-01-01").cast("timestamp").alias("updated_at"),
        )
    )
    work = tempfile.mkdtemp(prefix="mvapp_tj_")
    try:
        app = (
            MVApp.builder(spark)
            .source("events_tj", events, pk=["event_id"])
            .source("profile_tj", profile0, pk=["user_id"], event_time="updated_at")
            .query(
                """SELECT e.event_id, e.user_id, e.ts, e.value, d.tier
                   FROM events_tj e
                   JOIN profile_tj FOR SYSTEM_TIME AS OF e.ts AS d
                     ON e.user_id = d.user_id"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalTemporalJoinMV":
            raise AssertionError(
                f"planner routed the temporal join to "
                f"{app.maintenance_strategy}, not IncrementalTemporalJoinMV"
            )
        app.bootstrap()
        # B1: dim version change at 2024-01-11 (mid events range) —
        # users %3 move to tier+10 FROM that instant; earlier events
        # must keep the old tier.
        app.refresh(
            {
                "profile_tj": profile0.filter(F.col("user_id") % 3 == 0)
                .withColumn("tier", F.col("user_id") % 5 + 10)
                .withColumn(
                    "updated_at", F.lit("2024-01-11").cast("timestamp")
                )
                .withColumn(OP_COL, F.lit(OP_UPDATE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=1,
        )
        # B2: fact churn straddling the version boundary — late rows
        # (ts < 2024-01-11) of the SAME users land on the old version.
        app.refresh(
            {
                "events_tj": events.filter(F.col("event_id") % 3 == 1)
                .withColumn(OP_COL, F.lit(OP_INSERT))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=2,
        )
        # B3: dim DELETE at 2024-01-21 — users %7 have no version from
        # then on; their later events leave the view.
        app.refresh(
            {
                "profile_tj": profile0.filter(F.col("user_id") % 7 == 0)
                .withColumn(
                    "updated_at", F.lit("2024-01-21").cast("timestamp")
                )
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=3,
        )
        # B4: the remaining fact rows + in-place updates of bootstrap
        # rows (event_id %12 ⊂ %3==0) — their as-of lookups re-derive.
        b4 = (
            events.filter(F.col("event_id") % 3 == 2)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .unionByName(
                events.filter(F.col("event_id") % 12 == 0)
                .withColumn("value", F.col("value") + 1)
                .withColumn(OP_COL, F.lit(OP_UPDATE))
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"events_tj": b4}, batch_id=4)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_temporal_streaming",
    """
    WITH prof AS (
        SELECT DISTINCT user_id,
               CASE WHEN user_id % 3 = 0 THEN 'basic' ELSE 'plus' END AS tier
        FROM events),
    fact AS (
        SELECT event_id, user_id, ts FROM events
        UNION ALL
        SELECT event_id + 20000000, user_id, ts FROM events
        WHERE event_id % 7 = 0)
    SELECT f.event_id, f.user_id,
           CASE WHEN f.user_id % 10 = 3 AND f.ts >= TIMESTAMP '2024-01-04'
                THEN 'gold' ELSE p.tier END AS tier
    FROM fact f JOIN prof p ON f.user_id = p.user_id
    """,
    doc=(
        "END-TO-END streaming TEMPORAL join MV (round 9; the r8 gate "
        "was scripted-batch only): a versioned user-profile dim and an "
        "event fact stream, both consumed via spark.readStream file "
        "sources through MVApp.start_streaming and applied with "
        "writeStream.foreachBatch -> IncrementalTemporalJoinMV.refresh "
        "— the reference's real streaming lifecycle "
        "(TiFlinkApp.java:70-116). The dim stream upgrades every "
        "user_id%10==3 profile to gold EFFECTIVE 2024-01-04 (a new "
        "SCD-2 version), the fact stream inserts event copies spread "
        "across the whole period — so late events must keep the OLD "
        "tier and post-change events pick up gold, whatever order the "
        "two streams' micro-batches land in. The oracle is the "
        "closed-form CASE over the final two-version history."
    ),
    tags=("mv", "streaming", "planner", "temporal"),
)
def mvapp_temporal_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    ev = t["events"]
    prof = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, F.lit("basic")).otherwise(
                F.lit("plus")
            ),
        )
        .withColumn("updated_at", F.lit("2024-01-01").cast("timestamp"))
    )
    work = tempfile.mkdtemp(prefix="mvapp_tjstream_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ev_ts", ev, pk=["event_id"])
            .source("prof_ts", prof, pk=["user_id"], event_time="updated_at")
            .query(
                """SELECT e.event_id, e.user_id, d.tier
                   FROM ev_ts e JOIN prof_ts FOR SYSTEM_TIME AS OF e.ts AS d
                     ON e.user_id = d.user_id"""
            )
            .target(os.path.join(work, "mv"))
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalTemporalJoinMV":
            raise AssertionError(
                f"planner routed the temporal join to {app.maintenance_strategy}"
            )
        b_dim = (
            prof.filter(F.col("user_id") % 10 == 3)
            .withColumn("tier", F.lit("gold"))
            .withColumn("updated_at", F.lit("2024-01-04").cast("timestamp"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        b_fact = (
            ev.filter(F.col("event_id") % 7 == 0)
            .withColumn("event_id", F.col("event_id") + BIG)
            .withColumn(OP_COL, F.lit(OP_INSERT))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        dirs = {}
        for name, b in (("ev_ts", b_fact), ("prof_ts", b_dim)):
            d = os.path.join(work, f"chlog_{name}")
            b.coalesce(1).write.mode("overwrite").parquet(d)
            dirs[name] = d
        app.bootstrap()
        app.start_streaming(dirs, checkpoint_dir=os.path.join(work, "ckpt"))
        return (
            app.read()
            .select("event_id", "user_id", "tier")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_temporal_proctime",
    """
    WITH prof AS (
        SELECT DISTINCT user_id,
               CASE WHEN user_id % 10 = 3 THEN 'gold'
                    WHEN user_id % 3 = 0 THEN 'basic'
                    ELSE 'plus' END AS tier
        FROM events)
    SELECT e.event_id, e.value, p.tier
    FROM events e JOIN prof p ON e.user_id = p.user_id
    """,
    doc=(
        "PROCESSING-TIME temporal join (round 9): FOR SYSTEM_TIME AS "
        "OF PROCTIME() joins the dim's CURRENT state — Flink's other "
        "temporal mode. For a maintained MV that is exactly the "
        "lookup-enrichment route (no versioned history; a dim change "
        "re-derives the matching fact rows), so the planner strips the "
        "clause and routes to IncrementalJoinProjectionMV — asserted. "
        "The gate churns the dim AFTER bootstrap (user_id%10==3 "
        "upgraded to gold) and the oracle is the join over the FINAL "
        "dim state: processing-time semantics means current state "
        "wins, old fact rows included (contrast "
        "mvapp_auto_temporal_join, where they keep their version)."
    ),
    tags=("mv", "planner", "temporal", "proctime"),
)
def mvapp_temporal_proctime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    ev = t["events"]
    prof = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, F.lit("basic")).otherwise(
                F.lit("plus")
            ),
        )
    )
    work = tempfile.mkdtemp(prefix="mvapp_tjpt_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ev_pt", ev, pk=["event_id"])
            .source("prof_pt", prof, pk=["user_id"])
            .query(
                """SELECT e.event_id, e.value, d.tier
                   FROM ev_pt e
                   JOIN prof_pt FOR SYSTEM_TIME AS OF PROCTIME() AS d
                     ON e.user_id = d.user_id"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalJoinProjectionMV":
            raise AssertionError(
                f"proctime temporal routed to {app.maintenance_strategy}"
            )
        app.bootstrap()
        b = (
            prof.filter(F.col("user_id") % 10 == 3)
            .withColumn("tier", F.lit("gold"))
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"prof_pt": b}, batch_id=1)
        return (
            app.read()
            .select("event_id", "value", "tier")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_temporal_late_dim",
    """
    WITH profile_changes AS (
        SELECT user_id, TIMESTAMP '2023-01-01' AS valid_from,
               user_id % 5 AS tier, 0 AS is_del
        FROM (SELECT DISTINCT user_id FROM events)
        UNION ALL
        SELECT user_id, TIMESTAMP '2024-01-16', user_id % 5 + 10, 0
        FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 3 = 0
        UNION ALL
        SELECT user_id, TIMESTAMP '2024-01-06', user_id % 5 + 20, 0
        FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 2 = 0
        UNION ALL
        SELECT user_id, TIMESTAMP '2024-01-11', NULL, 1
        FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 7 = 0
    ),
    versions AS (
        SELECT user_id, tier, is_del, valid_from,
               LEAD(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from) AS valid_to
        FROM profile_changes
    )
    SELECT e.event_id, e.user_id, e.ts, e.value, v.tier
    FROM events e JOIN versions v
      ON e.user_id = v.user_id
     AND v.is_del = 0
     AND e.ts >= v.valid_from
     AND (v.valid_to IS NULL OR e.ts < v.valid_to)
    """,
    doc=(
        "Temporal join with LATE dim versions (round 10; r9 #8): "
        "late_dim='reorder' — dim changes arrive OUT OF EVENT-TIME "
        "ORDER across batches (a 2024-01-16 version lands first, then "
        "a 2024-01-06 version and a 2024-01-11 DELETE arrive late) and "
        "are spliced retroactively: the dirty keys' version chains are "
        "rebuilt in event-time order (including delete events "
        "reconstructed from interval GAPS), validity intervals "
        "re-split, and the post-dim-batch fact re-derivation moves "
        "affected events onto the corrected versions. Flink's "
        "event-time temporal join would instead buffer under the "
        "watermark — this is the engine's bounded-history equivalent "
        "for sources that cannot guarantee ordering. The oracle "
        "reconstructs the FINAL version set order-independently with "
        "a LEAD window and replays the as-of join in pure SQL."
    ),
    tags=("mv", "incremental", "planner", "temporal", "join", "late"),
)
def mvapp_temporal_late_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    events = t["events"]
    users = events.select("user_id").distinct()
    profile0 = users.select(
        F.col("user_id"),
        (F.col("user_id") % 5).alias("tier"),
        F.lit("2023-01-01").cast("timestamp").alias("updated_at"),
    )
    work = tempfile.mkdtemp(prefix="mvapp_tld_")
    try:
        app = (
            MVApp.builder(spark)
            .source("events_tl", events.filter(F.col("event_id") % 3 != 1), pk=["event_id"])
            .source("profile_tl", profile0, pk=["user_id"], event_time="updated_at")
            .query(
                """SELECT e.event_id, e.user_id, e.ts, e.value, d.tier
                   FROM events_tl e
                   JOIN profile_tl FOR SYSTEM_TIME AS OF e.ts AS d
                     ON e.user_id = d.user_id"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .late_dim("reorder")
            .build()
        )
        if app.maintenance_strategy != "IncrementalTemporalJoinMV":
            raise AssertionError(
                f"planner routed to {app.maintenance_strategy}"
            )
        app.bootstrap()
        # B1 (in order): users %3 -> tier+10 FROM 2024-01-16
        app.refresh(
            {
                "profile_tl": profile0.filter(F.col("user_id") % 3 == 0)
                .withColumn("tier", F.col("user_id") % 5 + 10)
                .withColumn("updated_at", F.lit("2024-01-16").cast("timestamp"))
                .withColumn(OP_COL, F.lit(OP_UPDATE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=1,
        )
        # B2 (LATE for users %6 — their open version starts 01-16):
        # users %2 -> tier+20 FROM 2024-01-06, arriving after B1
        app.refresh(
            {
                "profile_tl": profile0.filter(F.col("user_id") % 2 == 0)
                .withColumn("tier", F.col("user_id") % 5 + 20)
                .withColumn("updated_at", F.lit("2024-01-06").cast("timestamp"))
                .withColumn(OP_COL, F.lit(OP_UPDATE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=2,
        )
        # B3 (late DELETE): users %7 gone FROM 2024-01-11 — splices a
        # gap INSIDE already-rebuilt chains
        app.refresh(
            {
                "profile_tl": profile0.filter(F.col("user_id") % 7 == 0)
                .withColumn("updated_at", F.lit("2024-01-11").cast("timestamp"))
                .withColumn(OP_COL, F.lit(OP_DELETE))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=3,
        )
        # B4: held-out fact rows straddle every spliced boundary
        app.refresh(
            {
                "events_tl": events.filter(F.col("event_id") % 3 == 1)
                .withColumn(OP_COL, F.lit(OP_INSERT))
                .withColumn(SEQ_COL, F.monotonically_increasing_id())
            },
            batch_id=4,
        )
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_FINAL_CUST_RJ_SQL = """
    final_customer_rj AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN (c_nationkey + 7) % 25
                    ELSE c_nationkey END AS c_nationkey
        FROM customer WHERE c_custkey % 10 <> 4
    )
"""


@register(
    "mvapp_auto_gs_having_grouping",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL}
    SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders_gs
    GROUP BY ROLLUP(o_orderstatus, o_custkey)
    HAVING GROUPING(o_custkey) = 1 OR count(*) > 3
    """,
    doc=(
        "GROUPING() referenced inside HAVING over a ROLLUP — the r9 "
        "recompute-only tail item, now routed to "
        "IncrementalGroupingSetsMV (round 10): GROUPING()/GROUPING_ID() "
        "are CONSTANT per grouping set, so the planner extracts each "
        "call to a placeholder (GroupingSetsShape.having_gcalls) and "
        "the maintenance layer substitutes the set's literal before "
        "applying the per-sub-MV filter (absent keys NULL-substituted "
        "as before). 'GROUPING(o_custkey) = 1 OR count(*) > 3' keeps "
        "every subtotal row but prunes detail groups of <= 3 orders — "
        "a filter no single sub-MV could express without the per-set "
        "constant. Scripted +I/-D/+U churn incl. group-key moves; the "
        "fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "grouping-sets", "having"),
)
def mvapp_auto_gs_having_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_gshg_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_hg", t["orders"], pk=["o_orderkey"])
            .query(
                """SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
                          sum(o_totalprice) AS total_raw
                   FROM orders_hg
                   GROUP BY ROLLUP(o_orderstatus, o_custkey)
                   HAVING GROUPING(o_custkey) = 1 OR count(*) > 3"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalGroupingSetsMV":
            raise AssertionError(
                f"planner routed HAVING-GROUPING rollup to {app.maintenance_strategy}"
            )
        if not app._mv.having_gcalls:
            raise AssertionError("having_gcalls not extracted")
        app.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            app.refresh({"orders_hg": b}, batch_id=i)
        return (
            app.read()
            .select(
                "o_orderstatus",
                "o_custkey",
                "n_orders",
                F.round("total_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_rollup_over_join",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    {_FINAL_CUST_RJ_SQL}
    SELECT c_nationkey, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders_gs o JOIN final_customer_rj c ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP(c_nationkey, o_orderstatus)
    """,
    doc=(
        "ROLLUP over a JOIN — maintained INCREMENTALLY as "
        "CascadeMV[IncrementalJoinMV -> IncrementalGroupingSetsMV] "
        "(round 10): the cascade splitter derives the join as the inner "
        "level and the grouping-sets aggregate consumes its target "
        "diff as a changelog. Before this round the build CRASHED on "
        "the grouping-sets outer's missing single target store "
        "(CascadeMV.__init__), so a user could not even declare the "
        "view. Churn on BOTH sides: scripted orders batches (+I/-D and "
        "a join-key-changing +U) interleaved with a customer batch "
        "(nationkey moves + deletes) — every grain's subtotal rows "
        "retract and re-insert. The fn raises unless routed as a "
        "cascade."
    ),
    tags=("mv", "incremental", "planner", "grouping-sets", "cascade", "join"),
)
def mvapp_auto_rollup_over_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_rj_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_rj", t["orders"], pk=["o_orderkey"])
            .source("cust_rj", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_nationkey, o_orderstatus, count(*) AS n_orders,
                          sum(o_totalprice) AS total_raw
                   FROM orders_rj JOIN cust_rj ON o_custkey = c_custkey
                   GROUP BY ROLLUP(c_nationkey, o_orderstatus)"""
            )
            .target(work)
            .num_buckets(2)
            .shuffle_partitions(4)
            .build()
        )
        if not app.maintenance_strategy.startswith("CascadeMV"):
            raise AssertionError(
                f"planner routed rollup-over-join to {app.maintenance_strategy}"
            )
        app.bootstrap()
        batches = scripted_batches(t["orders"])
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_rj": batches[0]}, batch_id=1)
        app.refresh({"cust_rj": b_cust}, batch_id=2)
        app.refresh({"orders_rj": batches[1]}, batch_id=3)
        app.refresh({"orders_rj": batches[2]}, batch_id=4)
        return (
            app.read()
            .select(
                "c_nationkey",
                "o_orderstatus",
                "n_orders",
                F.round("total_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_rollup_bag_recompute",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    {_FINAL_CUST_RJ_SQL}
    SELECT c_nationkey, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM final_orders_gs o JOIN final_customer_rj c ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP(c_nationkey, o_orderstatus)
    """,
    doc=(
        "The BAG-diff recompute fallback for keyless grouping outputs "
        "(round 10): the same rollup-over-join pinned to recompute "
        "(force_recompute — the route CUBE(7)+ and non-maintainable "
        "HAVINGs take). Subtotal rows carry NULL grouping keys, so the "
        "first-output-column PK default (TiFlinkApp.java:276-281) "
        "CRASHED the keyed store before this round; the view now diffs "
        "as a bag — one row per copy, keyed by a hidden null-safe row "
        "encoding + copy index, so a multiplicity change diffs as "
        "tail-copy +I/-D rows, the bag set ops' (tuple, __copy) "
        "layout. Same churn script as the cascade gate; the "
        "fn raises unless the bag mode engaged."
    ),
    tags=("mv", "recompute", "grouping-sets", "bag"),
)
def mvapp_rollup_bag_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_rbag_")
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_rb", t["orders"], pk=["o_orderkey"])
            .source("cust_rb", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_nationkey, o_orderstatus, count(*) AS n_orders,
                          sum(o_totalprice) AS total_raw
                   FROM orders_rb JOIN cust_rb ON o_custkey = c_custkey
                   GROUP BY ROLLUP(c_nationkey, o_orderstatus)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .force_recompute()
            .build()
        )
        if app.maintenance_strategy != "RecomputeMV" or not app._mv._bag:
            raise AssertionError(
                f"expected bag RecomputeMV, got {app.maintenance_strategy}"
            )
        app.bootstrap()
        batches = scripted_batches(t["orders"])
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_nationkey", (F.col("c_nationkey") + 7) % 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_rb": batches[0]}, batch_id=1)
        app.refresh({"cust_rb": b_cust}, batch_id=2)
        app.refresh({"orders_rb": batches[1]}, batch_id=3)
        app.refresh({"orders_rb": batches[2]}, batch_id=4)
        return (
            app.read()
            .select(
                "c_nationkey",
                "o_orderstatus",
                "n_orders",
                F.round("total_raw", 2).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_not_in_correlated",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    final_customer_ni AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 500
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_custkey, c_name, c_acctbal FROM final_customer_ni c
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM final_orders_gs o
        WHERE o.o_totalprice > c.c_acctbal * 100)
    """,
    doc=(
        "NOT IN with a CORRELATED NON-EQUALITY predicate — the r9 "
        "recompute-only tail, now routed to IncrementalCorrSemiJoinMV "
        "(round 10). The inner set S(c) varies per customer through "
        "o_totalprice > c_acctbal, so there is no global presence-key "
        "state; membership is evaluated exactly per dirty row from "
        "three bits (has_match/has_null/nonempty) over ONE theta join "
        "with the dirty side broadcast, reproducing SQL's three-valued "
        "NOT IN row by row. Fact churn re-evaluates changed PKs; inner "
        "churn re-evaluates only rows in theta range of the changed "
        "rows' old/new versions. Scripted orders churn (+I/-D and a "
        "custkey-remapping +U) interleaved with customer acctbal moves "
        "and deletes; the fn raises unless routed incrementally."
    ),
    tags=("mv", "incremental", "planner", "semijoin", "correlated"),
)
def mvapp_auto_not_in_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_nic_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_ni", t["orders"], pk=["o_orderkey"])
            .source("cust_ni", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_custkey, c_name, c_acctbal FROM cust_ni c
                   WHERE c_custkey NOT IN (
                       SELECT o_custkey FROM ord_ni o
                       WHERE o.o_totalprice > c.c_acctbal * 100)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalCorrSemiJoinMV":
            raise AssertionError(
                f"planner routed correlated NOT IN to {app.maintenance_strategy}"
            )
        app.bootstrap()
        batches = scripted_batches(t["orders"])
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_acctbal", F.col("c_acctbal") + 500)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_ni": batches[0]}, batch_id=1)
        app.refresh({"cust_ni": b_cust}, batch_id=2)
        app.refresh({"ord_ni": batches[1]}, batch_id=3)
        app.refresh({"ord_ni": batches[2]}, batch_id=4)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_in_filtered_subquery",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    final_customer_if AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_custkey, c_name FROM final_customer_if
    WHERE c_custkey IN (
        SELECT o_custkey FROM final_orders_gs WHERE o_orderstatus = 'O')
    """,
    doc=(
        "IN over a FILTERED (uncorrelated) subquery — the inner WHERE "
        "is row-local, so the presence-state route keeps working with "
        "the filter applied to the inner store "
        "(IncrementalSemiJoinMV.other_where, round 10): filtered "
        "bootstrap, and inner changelog batches run the stateless "
        "changelog filter rule (+I/+U rows failing the predicate "
        "demote to -D, retracting the key's presence). Scripted orders "
        "churn moves custkeys across the status filter; customer "
        "deletes shrink the outer side. The fn raises unless routed to "
        "the presence-state class."
    ),
    tags=("mv", "incremental", "planner", "semijoin"),
)
def mvapp_auto_in_filtered_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_if_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_if", t["orders"], pk=["o_orderkey"])
            .source("cust_if", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_custkey, c_name FROM cust_if
                   WHERE c_custkey IN (
                       SELECT o_custkey FROM ord_if
                       WHERE o_orderstatus = 'O')"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalSemiJoinMV":
            raise AssertionError(
                f"planner routed filtered IN to {app.maintenance_strategy}"
            )
        if app._mv.other_where is None:
            raise AssertionError("inner filter not pushed to the other store")
        app.bootstrap()
        batches = scripted_batches(t["orders"])
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 4)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_if": batches[0]}, batch_id=1)
        app.refresh({"cust_if": b_cust}, batch_id=2)
        app.refresh({"ord_if": batches[1]}, batch_id=3)
        app.refresh({"ord_if": batches[2]}, batch_id=4)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_exists_theta",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    final_customer_et AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 500
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_custkey, c_name, c_acctbal FROM final_customer_et c
    WHERE NOT EXISTS (
        SELECT 1 FROM final_orders_gs o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > c.c_acctbal * 60)
    """,
    doc=(
        "Theta-EXISTS — NOT EXISTS whose correlation MIXES an equality "
        "with a non-equality comparison (round 10), the form the "
        "pure-equality presence-state matcher refuses. Routed to "
        "IncrementalCorrSemiJoinMV in exists mode: membership is bare "
        "per-row non-emptiness of S(c), evaluated exactly for dirty "
        "rows from one aggregate over the theta join; the equality "
        "conjunct rides as an '=' term so Catalyst hash-joins on it "
        "with the price band as join residual. Fact churn re-evaluates "
        "changed PKs; inner churn re-evaluates only rows in theta "
        "range of the changed rows' old/new versions. Same scripted "
        "churn as the correlated NOT IN gate; the fn raises unless "
        "routed to the exists-mode class."
    ),
    tags=("mv", "incremental", "planner", "semijoin", "correlated", "exists"),
)
def mvapp_auto_exists_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_et_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_et", t["orders"], pk=["o_orderkey"])
            .source("cust_et", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_custkey, c_name, c_acctbal FROM cust_et c
                   WHERE NOT EXISTS (
                       SELECT 1 FROM ord_et o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > c.c_acctbal * 60)"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalCorrSemiJoinMV" or not getattr(
            app._mv, "exists_mode", False
        ):
            raise AssertionError(
                f"planner routed theta-EXISTS to {app.maintenance_strategy}"
            )
        app.bootstrap()
        batches = scripted_batches(t["orders"])
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_acctbal", F.col("c_acctbal") + 500)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_et": batches[0]}, batch_id=1)
        app.refresh({"cust_et": b_cust}, batch_id=2)
        app.refresh({"ord_et": batches[1]}, batch_id=3)
        app.refresh({"ord_et": batches[2]}, batch_id=4)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "mvapp_auto_corr_scalar_theta",
    f"""
    WITH {_FINAL_ORDERS_GS_SQL},
    final_customer_cs AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 500
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 10 <> 4
    )
    SELECT c_custkey, c_name, c_acctbal,
           (SELECT count(*) FROM final_orders_gs o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > c.c_acctbal * 10) AS n_big
    FROM final_customer_cs c
    """,
    doc=(
        "Theta-correlated SCALAR aggregate — the reference's flagship "
        "shape (TiFlinkExample.java:10-16) widened past its single "
        "fk = pk equality (round 10): the per-customer COUNT now also "
        "depends on o_totalprice > c_acctbal * 10, so the aggregate "
        "set varies per row and CANNOT decorrelate to a keyed GROUP "
        "BY. Spark's own optimizer refuses to execute this query "
        "(non-equality correlated predicates); the engine exceeds "
        "Spark SQL's surface here, matching Flink/Calcite/DuckDB. "
        "IncrementalCorrScalarAggMV evaluates the aggregate exactly "
        "per dirty customer over one theta join (equality conjunct "
        "hash-joined, band as residual); orders churn re-evaluates "
        "only customers in theta range of the changed rows' old/new "
        "values. The fn raises unless routed to the scalar theta "
        "class."
    ),
    tags=("mv", "incremental", "planner", "correlated", "scalar"),
)
def mvapp_auto_corr_scalar_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.app import MVApp

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mvapp_cst_")
    try:
        app = (
            MVApp.builder(spark)
            .source("ord_cs", t["orders"], pk=["o_orderkey"])
            .source("cust_cs", t["customer"], pk=["c_custkey"])
            .query(
                """SELECT c_custkey, c_name, c_acctbal,
                          (SELECT count(*) FROM ord_cs o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > c.c_acctbal * 10) AS n_big
                   FROM cust_cs c"""
            )
            .target(work)
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_strategy != "IncrementalCorrScalarAggMV":
            raise AssertionError(
                f"planner routed theta scalar agg to {app.maintenance_strategy}"
            )
        app.bootstrap()
        batches = scripted_batches(t["orders"])
        b_cust = (
            t["customer"].filter(F.col("c_custkey") % 10 == 3)
            .withColumn("c_acctbal", F.col("c_acctbal") + 500)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(
                t["customer"].filter(F.col("c_custkey") % 10 == 4).withColumn(
                    OP_COL, F.lit(OP_DELETE)
                )
            )
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"ord_cs": batches[0]}, batch_id=1)
        app.refresh({"cust_cs": b_cust}, batch_id=2)
        app.refresh({"ord_cs": batches[1]}, batch_id=3)
        app.refresh({"ord_cs": batches[2]}, batch_id=4)
        return app.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
