"""Per-batch Spark job counts of the two benchmark routes, a ROLLUP view
and an agg-over-agg cascade, pinned.

Each view takes one 150-row, hash-spread orders batch (100 ``+U`` that
move customer and price, 25 ``-D``, 25 ``+I``) — the shape perfbench's
``flagship_trickle`` and ``topn_serve`` feed it. The batch is the
first after bootstrap, so no store folds. Jobs are counted by job-id
range in Spark's status store, as perfbench's tracer counts them. A
change to either count is a change to the per-batch floor and must be
deliberate."""

from tiflink_spark.app import MVApp
from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE, SEQ_COL

N_CUST, N_ORD = 300, 3000
ORDERS = "o_orderkey long, o_custkey long, o_totalprice double"
CHANGES = f"{ORDERS}, {OP_COL} string, {SEQ_COL} long"

FLAGSHIP_SQL = """SELECT c_custkey, c_name,
       (SELECT count(*) FROM ord_jc o WHERE o.o_custkey = c.c_custkey) AS order_cnt
FROM cust_jc c"""

TOPN_SQL = """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM ord_jc) t WHERE rn <= 2"""

ROLLUP_SQL = """SELECT o_custkey, count(*) AS cnt
FROM ord_jc GROUP BY ROLLUP(o_custkey)"""

CASCADE_SQL = """SELECT cnt, count(*) AS n FROM (
    SELECT o_custkey, count(*) AS cnt FROM ord_jc GROUP BY o_custkey) t
GROUP BY cnt"""

FLAGSHIP_JOBS = 10
TOPN_JOBS = 7
ROLLUP_JOBS = 9
CASCADE_JOBS = 16


def _orders(spark):
    return spark.createDataFrame(
        [(k, (k * 7) % N_CUST, float((k * 31) % 997)) for k in range(N_ORD)], ORDERS
    )


def _batch(spark):
    rows = []
    for i in range(100):
        k = (i * 29) % N_ORD
        rows.append((k, (k * 13 + 1) % N_CUST, float(1000 + i), OP_UPDATE, i))
    for i in range(25):
        k = (i * 29 + 7) % N_ORD
        rows.append((k, None, None, OP_DELETE, 100 + i))
    for i in range(25):
        k = N_ORD + i * 3
        rows.append((k, (i * 11) % N_CUST, float(i), OP_INSERT, 125 + i))
    return spark.createDataFrame(rows, CHANGES)


def _jobs_of(spark, fn) -> int:
    """Jobs started while ``fn`` ran, by job-id range in the status store."""
    sc = spark.sparkContext._jsc.sc()
    dag, status = sc.dagScheduler(), sc.statusStore()
    lo = dag.numTotalJobs()
    fn()
    sc.listenerBus().waitUntilEmpty()
    n = 0
    for jid in range(lo, dag.numTotalJobs()):
        try:
            status.job(jid)
        except Exception:  # py4j: evicted from the status store
            continue
        n += 1
    return n


def _refresh_jobs(spark, tmp_path, sql, sources) -> tuple[int, MVApp]:
    b = MVApp.builder(spark)
    for name, (df, pk) in sources.items():
        b = b.source(name, df, pk=pk)
    app = (
        b.query(sql).target(str(tmp_path / "mv")).num_buckets(4).shuffle_partitions(4).build()
    )
    app.bootstrap()
    batch = _batch(spark)
    return _jobs_of(spark, lambda: app.refresh({"ord_jc": batch}, batch_id=1)), app


def test_flagship_agg_batch_job_count(spark, tmp_path):
    cust = spark.createDataFrame(
        [(c, f"Customer#{c:09d}") for c in range(N_CUST)], "c_custkey long, c_name string"
    )
    jobs, app = _refresh_jobs(
        spark,
        tmp_path,
        FLAGSHIP_SQL,
        {"ord_jc": (_orders(spark), ["o_orderkey"]), "cust_jc": (cust, ["c_custkey"])},
    )
    assert app.maintenance_strategy == "IncrementalAggMV"
    assert jobs == FLAGSHIP_JOBS


def test_topn_batch_job_count(spark, tmp_path):
    jobs, app = _refresh_jobs(
        spark, tmp_path, TOPN_SQL, {"ord_jc": (_orders(spark), ["o_orderkey"])}
    )
    assert app.maintenance_strategy == "IncrementalTopKMV"
    assert jobs == TOPN_JOBS


def test_rollup_batch_job_count(spark, tmp_path):
    jobs, app = _refresh_jobs(
        spark, tmp_path, ROLLUP_SQL, {"ord_jc": (_orders(spark), ["o_orderkey"])}
    )
    assert app.maintenance_strategy == "IncrementalGroupingSetsMV"
    assert jobs == ROLLUP_JOBS


def test_agg_over_agg_cascade_batch_job_count(spark, tmp_path):
    jobs, app = _refresh_jobs(
        spark, tmp_path, CASCADE_SQL, {"ord_jc": (_orders(spark), ["o_orderkey"])}
    )
    assert app.maintenance_strategy == "CascadeMV"
    assert jobs == CASCADE_JOBS
