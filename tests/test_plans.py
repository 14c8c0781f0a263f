"""Plan-quality regression tests: the properties that make these
queries survive a 100x scale-up, pinned so a refactor can't silently
lose them."""

import os
import re

import pytest

from tiflink_spark.queries import get_registry

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = get_registry()[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert re.search(r"PushedFilters: \[.*LessThan\(l_shipdate", plan), plan[:2000]


def test_filter_project_pushes_range_predicate(spark):
    # NB: the plan string truncates long filter lists with '…', so assert
    # on prefixes that fit.
    plan = _plan(spark, "filter_project")
    assert "GreaterThanOrEqual(l_quantity" in plan
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    # no row-at-a-time Python in the hot path
    assert "BatchEvalPython" not in plan


def test_flagship_decorrelates_to_join(spark):
    """Catalyst must rewrite the scalar correlated subquery to an
    aggregate + join, not a per-row subquery execution."""
    plan = _plan(spark, "flagship_correlated_count")
    assert "Join" in plan or "BroadcastHashJoin" in plan
    assert "InSubquery" not in plan


def test_no_cartesian_products_in_headline_queries(spark):
    for name in [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "join_inner",
        "dedup_minhash_lsh",
    ]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the full lineitem schema."""
    plan = _plan(spark, "orderby_limit")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {"o_orderkey", "o_totalprice"}, cols


def test_tpch_battery_no_nested_loops(spark):
    """Every Q4-Q22 shape must decorrelate to hash joins: a
    BroadcastNestedLoopJoin or CartesianProduct in any of these plans
    would be quadratic at scale (cross_join_small is the one deliberate
    exception, not in this list)."""
    names = [n for n in get_registry() if n.startswith("q") and n[1].isdigit()]
    assert len(names) >= 20
    for name in names:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_q6_predicates_push_to_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert re.search(r"PushedFilters: \[.*l_discount", plan) or re.search(
        r"GreaterThanOrEqual\(l_discount", plan
    ), plan[:2000]


def test_q9_broadcasts_filtered_part_side(spark):
    plan = _plan(spark, "q9_product_profit")
    assert "BroadcastHashJoin" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A partition predicate must prune the scan to one directory."""
    from tiflink_spark.session import load_tables

    t = load_tables(spark, SF_DIR)
    out = str(tmp_path / "orders_part")
    t["orders"].write.partitionBy("o_orderpriority").parquet(out)
    df = spark.read.parquet(out).filter("o_orderpriority = '1-URGENT'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderpriority" in m.group(1), plan[:2000]


# ---------------------------------------------------------------------------
# Registry-wide anti-pattern audit: NO query may plan a cartesian
# product, an unbounded nested-loop join, or row-at-a-time Python
# eval — the three plans that do not survive a 100x scale-up — except
# the explicitly-allowlisted shapes below.
# ---------------------------------------------------------------------------

# fn source markers that mean "building the DataFrame executes work"
# (MV pipelines, streaming runs, connector round-trips, iterative
# algorithms): their plans are exercised by their own oracle gates.
_EAGER_MARKERS = ("localCheckpoint", "_run_stream_to_df", ".save(", ".start(", ".collect()", ".write")

_ANTIPATTERN_ALLOWLIST = {
    # dimension-sized cross joins, intentionally nested-loop:
    "cross_join_small": {"BroadcastNestedLoopJoin", "CartesianProduct"},
    "date_spine_gap_fill": {"BroadcastNestedLoopJoin"},  # spine x types, both tiny
    "embedding_ann_ivf": {"BroadcastNestedLoopJoin"},  # vectors x broadcast centroids (k rows)
    "numeric_histogram": {"BroadcastNestedLoopJoin"},  # rows x ONE broadcast min/max row
    "text_unigram_logprob": {"BroadcastNestedLoopJoin"},  # tokens x ONE broadcast total row
    "text_tfidf_topterms": {"BroadcastNestedLoopJoin"},  # doc-terms x ONE broadcast n_docs row
    "quality_decile_binning": {"BroadcastNestedLoopJoin"},  # docs x ONE broadcast n_total row
    # non-equi predicates have no hash-join form; small side broadcast:
    "join_theta": {"BroadcastNestedLoopJoin", "CartesianProduct"},
    "range_join_price_bands": {"BroadcastNestedLoopJoin"},
    # the UDTF surface demo IS Python eval by definition:
    "udtf_split_words": {"BatchEvalPython"},
}


def test_registry_wide_plan_audit(spark):
    import inspect

    from tiflink_spark.queries import get_registry

    audited = 0
    failures = []
    for name, spec in sorted(get_registry().items()):
        if any(m in inspect.getsource(spec.fn) for m in _EAGER_MARKERS):
            continue
        df = spec.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        audited += 1
        allowed = _ANTIPATTERN_ALLOWLIST.get(name, set())
        for pat in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
            if pat in plan and pat not in allowed:
                failures.append((name, pat))
    assert not failures, failures
    assert audited > 100, f"audit unexpectedly small: {audited} queries"


def test_text_hygiene_ops_stay_jvm_side(spark):
    """The PII/chunking/repetition passes are regexp/array built-ins —
    a refactor must not reintroduce Python into the hot path."""
    for name in ("text_pii_redact", "text_chunk_windows", "text_repetition_score"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_contamination_broadcasts_benchmark_grams(spark):
    """The benchmark gram set is tiny relative to the corpus: the
    decontamination join must broadcast it, not shuffle the corpus."""
    plan = _plan(spark, "text_contamination_ngram")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_mixture_sampling_pushes_work_map_side(spark):
    """Inclusion is decided per row before the shuffle; only per-source
    partial aggregates move."""
    plan = _plan(spark, "sample_mixture_weighted")
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_decile_binning_avoids_global_sort_of_docs(spark):
    """The two-pass rank design: the only unpartitioned window runs
    over the distinct value domain (post-aggregation), never over the
    documents themselves — the full-data window is partitioned by
    n_words, and the offsets/total joins broadcast."""
    from tiflink_spark.queries import get_registry

    df = get_registry()["quality_decile_binning"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # offsets join
    # The doc-level row_number window must be PARTITIONED by n_words —
    # its spec lists the partition column then the doc_id sort column.
    norm = plan.replace(" ", "").lower()
    assert re.search(r"windowspecdefinition\(n_words#\d+l?,doc_id#", norm), plan[:3000]
    # And every Window node in the plan with doc_id in its sort spec
    # must carry that partition column (no global sort over documents).
    for wm in re.finditer(r"windowspecdefinition\(([^)]*)\)", norm):
        spec = wm.group(1)
        if "doc_id#" in spec:
            assert spec.startswith("n_words#"), spec


def _spy_write_confs(monkeypatch) -> list:
    """Record, for every KeyedParquetStore.merge, the store path and the
    AQE / whole-stage codegen / shuffle confs of the session the write
    runs on (merge rehomes its changes onto ``store.spark``)."""
    import tiflink_spark.store as store_mod

    seen = []
    orig = store_mod.KeyedParquetStore.merge

    def spy(self, changes, batch_id):
        c = self.spark.conf
        seen.append(
            (
                self.path,
                c.get("spark.sql.adaptive.enabled"),
                c.get("spark.sql.codegen.wholeStage"),
                c.get("spark.sql.shuffle.partitions"),
            )
        )
        return orig(self, changes, batch_id)

    monkeypatch.setattr(store_mod.KeyedParquetStore, "merge", spy)
    return seen


def test_refresh_codegen_scales_with_store_size(spark, tmp_path, monkeypatch):
    """Refresh writes run interpreted (codegen off) only while the
    route's source stores are below table scale — a pruning-hostile
    batch can scan the store whole, and an interpreted table-scale scan
    costs far more than the per-batch Janino compile it saves (round 9:
    an sf10 uniform flagship batch went 5s -> 26s). A nested route (the
    join route's inner aggregate) must not flip the outer's choice, and
    the user session's confs are never touched."""
    from pyspark.sql import functions as F

    from tiflink_spark import mv as mv_mod
    from tiflink_spark.app import MVApp
    from tiflink_spark.changelog import OP_COL, OP_UPDATE, SEQ_COL

    keys = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage",
            "spark.sql.shuffle.partitions")
    user0 = [spark.conf.get(k) for k in keys]
    orders = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    cust = spark.createDataFrame(
        [(i, f"n{i % 2}") for i in range(5)], "c_custkey long, c_nation string"
    )
    seen = _spy_write_confs(monkeypatch)

    def build(tag, query="SELECT o_custkey, count(*) AS n FROM ord_cg GROUP BY o_custkey"):
        return (
            MVApp.builder(spark)
            .source("ord_cg", orders, pk=["o_orderkey"])
            .source("cust_cg", cust, pk=["c_custkey"])
            .query(query)
            .target(str(tmp_path / tag))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )

    ch = (
        orders.limit(3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn(OP_COL, F.lit(OP_UPDATE))
        .withColumn(SEQ_COL, F.monotonically_increasing_id())
    )
    # small store: every refresh write runs with AQE and codegen off
    app = build("small")
    app.bootstrap()
    app.refresh({"ord_cg": ch}, batch_id=1)
    assert seen and {w[1:3] for w in seen} == {("false", "false")}
    # table-scale store (simulated by shrinking the bound): codegen on
    monkeypatch.setattr(mv_mod, "CODEGEN_TABLE_ROWS", 10)
    app2 = build("big")
    app2.bootstrap()
    seen.clear()
    app2.refresh({"ord_cg": ch}, batch_id=1)
    assert seen and {w[1:3] for w in seen} == {("false", "true")}
    # bootstrap_rows recorded the store's scale signal
    assert app2._mv.fact_store.bootstrap_rows() == 100
    # the join route's inner aggregate has no source-scale store of its
    # own: it runs under the outer route's big-scan choice
    app3 = build(
        "join",
        "SELECT c.c_nation, count(*) AS n FROM ord_cg o "
        "JOIN cust_cg c ON o.o_custkey = c.c_custkey GROUP BY c.c_nation",
    )
    assert app3.maintenance_strategy == "IncrementalJoinAggMV"
    app3.bootstrap()
    seen.clear()
    app3.refresh({"ord_cg": ch}, batch_id=1)
    inner = [w for w in seen if f"{os.sep}agg{os.sep}" in w[0]]
    assert inner and {w[1:3] for w in seen} == {("false", "true")}
    # and the user session's confs are untouched throughout
    assert [spark.conf.get(k) for k in keys] == user0


def test_job_settings_nesting(tmp_path):
    """The outermost bootstrap/refresh chooses the job's settings from
    its StoreSet's source-scale stores; nested routes inherit them under
    their own token (an inner re-tune ends with the inner call). No
    Spark job runs."""
    import itertools

    from tiflink_spark import mv as mv_mod
    from tiflink_spark.session import JOB, JobSettings
    from tiflink_spark.store import StoreSet

    class Store:
        def __init__(self, rows):
            self.rows = rows

        def bootstrap_rows(self):
            return self.rows

    seen = []
    roots = itertools.count()

    class Route:
        shuffle_partitions = 3

        def __init__(self, rows, inner=None, delta_rows=None):
            root = tmp_path / str(next(roots))
            root.mkdir()
            self.stores = StoreSet(None, str(root))
            self.stores._scale["fact"] = Store(rows)
            self.inner = inner
            self.delta_rows = delta_rows

        @mv_mod._maintenance
        def bootstrap(self, batch_id=0):
            seen.append(JOB.get())

        @mv_mod._maintenance
        def refresh(self, batch_id):
            if self.delta_rows is not None:
                mv_mod._tune_delta_shuffle(self.shuffle_partitions, self.delta_rows)
            seen.append(JOB.get())
            if self.inner is not None:
                self.inner.refresh(batch_id)
                seen.append(JOB.get())

    big = mv_mod.CODEGEN_TABLE_ROWS + 1
    Route(10).bootstrap()
    assert seen == [JobSettings(False, True, 3)]
    # an inner delta re-tune ends with the inner call
    seen.clear()
    Route(10, inner=Route(10, delta_rows=5)).refresh(1)
    assert seen == [
        JobSettings(True, False, 3),
        JobSettings(True, False, 1),
        JobSettings(True, False, 3),
    ]
    # big outer, small inner: the inner keeps codegen on
    seen.clear()
    Route(big, inner=Route(10)).refresh(1)
    assert [s.codegen for s in seen] == [True, True, True]
    # a backfill-scale delta turns codegen on; sizing stays capped
    seen.clear()
    Route(10, delta_rows=mv_mod.CODEGEN_DELTA_ROWS + 1).refresh(1)
    assert seen == [JobSettings(True, True, 3)]
    assert JOB.get() is None


def test_setop_refresh_codegen_covers_both_sides(spark, tmp_path, monkeypatch):
    """A set-op view's sides open their stores in the view's StoreSet,
    so one job setting covers the whole refresh: with one side above
    CODEGEN_TABLE_ROWS, both sides' writes run with codegen on (a
    nested side no longer turns it on for its own duration only)."""
    from pyspark.sql import functions as F

    from tiflink_spark import mv as mv_mod
    from tiflink_spark.app import MVApp
    from tiflink_spark.changelog import OP_COL, OP_UPDATE, SEQ_COL

    big = spark.createDataFrame([(i, i % 7) for i in range(100)], "id long, g long")
    small = spark.createDataFrame([(i, i % 3) for i in range(5)], "id long, g long")
    app = (
        MVApp.builder(spark)
        .source("so_big", big, pk=["id"])
        .source("so_small", small, pk=["id"])
        .query("SELECT g FROM so_big INTERSECT SELECT g FROM so_small")
        .target(str(tmp_path / "so"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalSetOpMV"
    app.bootstrap()
    monkeypatch.setattr(mv_mod, "CODEGEN_TABLE_ROWS", 10)
    seen = _spy_write_confs(monkeypatch)

    def bump(df):
        return (
            df.limit(2)
            .withColumn("g", F.col("g") + 10)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )

    app.refresh({"so_big": bump(big), "so_small": bump(small)}, batch_id=1)
    sides = {os.path.basename(os.path.dirname(w[0])) for w in seen}
    assert {"a", "b"} <= sides
    assert {w[1:3] for w in seen} == {("false", "true")}


def test_dim_churn_affected_rows_stay_broadcast_pruned(spark, tmp_path):
    """Round-10 dim-churn fix pinned: the affected-fact derivation must
    be ONE pass over the fact store with a BROADCAST semi-join on the
    dirty FK values — no SortMergeJoin (the old PK-rejoin shape
    shuffled the whole fact per action; sf10 dim churn measured 0.81x
    vs recompute before, 1.53x after)."""
    from pyspark.sql import functions as F

    from tiflink_spark.app import MVApp

    orders = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(100)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    cust = spark.createDataFrame(
        [(i, i % 3) for i in range(7)], "c_custkey long, c_nationkey long"
    )
    nat = spark.createDataFrame(
        [(i, f"n{i}") for i in range(3)], "n_nationkey long, n_name string"
    )
    app = (
        MVApp.builder(spark)
        .source("ord_p", orders, pk=["o_orderkey"])
        .source("cust_p", cust, pk=["c_custkey"])
        .source("nat_p", nat, pk=["n_nationkey"])
        .query(
            """SELECT n.n_name, count(*) AS n_orders
               FROM ord_p o
                 JOIN cust_p c ON o.o_custkey = c.c_custkey
                 JOIN nat_p n ON c.c_nationkey = n.n_nationkey
               GROUP BY n.n_name"""
        )
        .target(str(tmp_path / "churn_pin"))
        .num_buckets(2)
        .shuffle_partitions(2)
        .build()
    )
    assert app.maintenance_strategy == "IncrementalJoinAggMV"
    app.bootstrap()
    mv = app._mv
    dirty = spark.createDataFrame([(1,), (2,)], "c_custkey long")
    dim_now = {d.dim: mv.dim_stores[d.dim].read() for d in mv.dims}
    rows = mv._affected_fact_rows("cust_p", dirty, dim_now)
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:3000]
    # and it IS the full fact row set for those keys
    got = {r.o_orderkey for r in rows.collect()}
    assert got == {i for i in range(100) if i % 7 in (1, 2)}


def test_corr_semijoin_membership_join_shapes(spark, tmp_path):
    """The correlated-subquery membership probe (round 10) must plan
    the scale-safe join forms: pure theta terms → a
    BroadcastNestedLoopJoin with the batch-sized dirty side broadcast
    (never a CartesianProduct whose task count is the partition
    product); an equality+theta mix → a hash join ON the equality with
    the band as join residual."""
    from tiflink_spark.app import MVApp

    fact = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(20)], "id long, fkey int, bal double"
    )
    other = spark.createDataFrame(
        [(100 + i, i % 5, float(i * 3)) for i in range(20)],
        "oid long, okey int, price double",
    )

    def member_plan(tag, q):
        app = (
            MVApp.builder(spark)
            .source("f", fact, pk=["id"])
            .source("o", other, pk=["oid"])
            .query(q)
            .target(str(tmp_path / tag))
            .num_buckets(2)
            .shuffle_partitions(2)
            .build()
        )
        assert app.maintenance_strategy == "IncrementalCorrSemiJoinMV", tag
        app.bootstrap()
        mv = app._mv
        flagged = mv._member_rows(
            mv.fact_store.read(),
            mv._inner_eval(mv.other_store.read()),
            hint=True,
        )
        return flagged._jdf.queryExecution().executedPlan().toString()

    theta = member_plan(
        "theta",
        """SELECT id, fkey, bal FROM f WHERE fkey NOT IN
           (SELECT okey FROM o WHERE o.price > f.bal)""",
    )
    assert "CartesianProduct" not in theta
    assert "BroadcastNestedLoopJoin" in theta

    mixed = member_plan(
        "mixed",
        """SELECT id, fkey, bal FROM f WHERE EXISTS
           (SELECT 1 FROM o WHERE o.okey = f.fkey AND o.price > f.bal)""",
    )
    assert "CartesianProduct" not in mixed
    # the equality conjunct gives Catalyst a hash-join key; the theta
    # term rides as the join residual
    assert "BroadcastHashJoin" in mixed or "SortMergeJoin" in mixed, mixed[:2000]


def test_llm_one_pass_shapes_read_input_once(spark):
    """Round-10 one-pass restructures pinned: each of these operators
    previously planned its scan/signature subtree two to four times
    (band-bucket self-joins, count windows, doc-frequency re-joins).
    The optimized forms read their input parquet exactly once."""
    for name in (
        "dedup_minhash_lsh",
        "embedding_ann_lsh",
        "dedup_embedding_neardup",
        "text_dup_span_fraction",
    ):
        plan = _plan(spark, name)
        assert plan.count("Scan parquet") == 1, (name, plan[:3000])


def test_token_stat_shapes_explode_once(spark):
    """text_tfidf_topterms / text_unigram_logprob compute per-token
    counts via a count() window over the token partition instead of
    aggregating a vocabulary and joining it back — the join-back form
    planned the explode/doc-term subtree 2-3x (once per join side plus
    the corpus-total branch) and broadcast a vocabulary-sized relation.
    Pinned: exactly one Generate (explode) node in each plan."""
    for name in ("text_tfidf_topterms", "text_unigram_logprob"):
        plan = _plan(spark, name)
        assert plan.count("Generate") == 1, (name, plan[:3000])


def test_unigram_window_over_partials_not_instances(spark):
    """text_unigram_logprob's per-token corpus counts must come from a
    window over the per-(doc, token) PARTIAL counts, never a count()
    window over the raw exploded instances: a window partition cannot
    be skew-split, and a hot stop word (~5% of a real corpus) would
    land every occurrence in ONE task — the partial aggregate bounds
    the hot partition to one row per document (guide §2.5)."""
    plan = _plan(spark, "text_unigram_logprob")
    lines = plan.splitlines()
    wi = min(i for i, l in enumerate(lines) if "Window" in l)
    gi = min(i for i, l in enumerate(lines) if "Generate" in l)
    assert wi < gi, plan[:3000]  # window sits above the explode...
    assert any(
        "HashAggregate" in l or "SortAggregate" in l for l in lines[wi:gi]
    ), plan[:3000]  # ...with the (doc, tok) aggregate in between


def test_q17_single_lineitem_scan(spark):
    """q17's correlated avg evaluates as a window after the part join —
    the decorrelated aggregate+join form scanned lineitem twice."""
    plan = _plan(spark, "q17_small_quantity")
    assert plan.count("Scan parquet") == 2, plan[:3000]  # lineitem + part


def test_q15_single_lineitem_scan_no_global_window(spark):
    """q15's scalar max evaluates as a parallel agg(max) cross-attached
    by broadcast — no single-partition Window gather (at 100 TB the
    per-supplier frame is ~1e9 rows on one core) — and the max side's
    copy of the revenue subtree dedupes to a ReusedExchange at runtime,
    so lineitem is still scanned once."""
    df = get_registry()["q15_top_supplier"].fn(spark, SF_DIR)
    assert "Window" not in _plan(spark, "q15_top_supplier")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, plan[:4000]
    assert final.count("Scan parquet") == 2, plan[:4000]  # lineitem + supplier


def test_q15_lineitem_suppkey_never_null():
    """q15 filters ``l_suppkey IS NOT NULL`` so both revenue subtrees
    carry the same pushed filter and ReuseExchange dedupes them; the
    filter is result-neutral only while the generated lineitem holds no
    NULL supplier key. Pinned from the parquet footer statistics of
    every scale factor present — no Spark job."""
    import glob

    import pyarrow.parquet as pq

    from tiflink_spark.session import DEFAULT_SF_DIR

    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf*", "lineitem.parquet"))
    )
    if not paths:
        pytest.skip("no generated testdata")
    for path in paths:
        md = pq.ParquetFile(path).metadata
        idx = [md.schema.column(j).name for j in range(md.num_columns)].index("l_suppkey")
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(idx).statistics
            if st is not None and st.has_null_count:
                nulls = st.null_count
            else:  # footer without statistics: count from the column itself
                nulls = pq.read_table(path, columns=["l_suppkey"]).column(0).null_count
            assert nulls == 0, (path, i)


def test_cast_funcs_regex_guard_matches_plain_try_cast(spark):
    """cast_funcs pre-guards TRY_CAST with a numeric RLIKE (the ANSI
    failure path throws/catches a JVM exception per failing row). The
    guard must be output-invisible: same value/NULL as a bare TRY_CAST
    on whitespace, signs, fractions, overflow digits, junk, and NULL."""
    from pyspark.sql import functions as F

    vals = [
        "7", " 42 ", "+5", "-0", "007", "abc", "", "  ", "4 2", "1.5",
        "0x1f", "9223372036854775807", "9223372036854775808",
        "-9223372036854775808", "-9223372036854775809",
        "99999999999999999999", None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    # the exact guard expression cast_funcs uses, retargeted at column s
    import inspect

    from tiflink_spark.queries_ext import cast_funcs

    src = inspect.getsource(cast_funcs)
    assert "RLIKE" in src and "TRY_CAST" in src
    guarded = F.expr(
        "CASE WHEN s RLIKE '^\\\\s*[+-]?[0-9]+\\\\s*$' "
        "THEN TRY_CAST(s AS BIGINT) END"
    )
    rows = df.select(
        "s", guarded.alias("g"), F.expr("TRY_CAST(s AS BIGINT)").alias("p")
    ).collect()
    mismatch = [(r.s, r.g, r.p) for r in rows if r.g != r.p]
    assert not mismatch, mismatch
