"""Headline benchmark.

Runs one query per major operator family at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Materialization is ``df.write.format("noop")`` — full execution of the
final plan on the executors with zero driver-side result pull, so the
timing measures the query, not the collect.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_correlated_count",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customer",
    "join_inner",
    "window_rank",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "embedding_cosine_topk",
]


def _contention_probe() -> dict:
    """Detect co-runners BEFORE our own JVM starts: other live java
    processes and the 1-minute load average. A contended box inflates
    every query by a similar factor (BENCH_r04's phantom 35%
    regression), so the record should carry the evidence."""
    other_jvms = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        other_jvms += 1
            except OSError:
                continue
    except OSError:
        pass
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
    except (OSError, ValueError):
        load1 = -1.0
    ncpus = os.cpu_count() or 1
    contended = other_jvms > 0 or (load1 >= 0 and load1 > 0.5 * ncpus)
    if contended:
        print(
            f"WARNING: bench box looks contended (other java procs={other_jvms}, "
            f"load1={load1:.1f}/{ncpus} cpus) — timings may be inflated; "
            "prefer an idle re-run before recording a regression.",
            file=sys.stderr,
        )
    return {"other_jvms": other_jvms, "load1": load1, "contended": contended}


def _mv_refresh_block(spark, sf_dir: str) -> dict:
    """Benchmark the engine's CORE path — incremental MV maintenance —
    against its recompute baseline on the SAME queries (VERDICT r6 #3:
    the refresh contract, TiFlinkExample.java:22-23 / README.md "this
    interval determines data refresh rate", had convergence proofs but
    no recorded latency). Four representative routes, each driven by
    the same scripted 0.1%-of-orders micro-batch churn (the reference's
    refresh unit is a ~1s checkpoint of CDC, TiFlinkExample.java:22-23
    — batches are small relative to the table): bootstrap once (timed),
    then three timed refresh batches; the recompute twin is the
    identical builder with force_recompute(). Changelog inputs are
    materialized (localCheckpoint) before timing so both variants pay
    zero lineage cost — the timing is maintenance work only.

    Reading the ratio: incremental refresh cost is O(δ) store merges +
    a fixed number of Spark jobs (~2s floor on this box); recompute
    cost is the FULL query + full-result diff per batch — ALSO ~2s at
    these scale factors, because 32 local cores recompute any probe
    query over ≤6M rows in seconds. So local ratios hover around 1
    (sort-heavy routes: 1.1-1.3 at sf1, committed BENCH_idle record)
    and the scale argument lives in the recorded TOUCHED-WORK numbers
    (last_batch below): the incremental side's per-batch change_rows
    stay O(δ) — constant as the table grows — while the recompute
    side's query input is the table itself. At the scale this engine
    targets, recompute is minutes-to-hours per batch and the ratio is
    the table-to-δ ratio; the reference's whole design (1s checkpoint
    refresh cadence, TiFlinkExample.java:22-23) presumes exactly that
    regime.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tiflink_spark.app import MVApp
    from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_UPDATE, SEQ_COL
    from tiflink_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    orders = t["orders"]
    batches = []
    for op, mod in ((OP_UPDATE, 0), (OP_UPDATE, 1), (OP_DELETE, 2)):
        b = orders.filter(F.col("o_orderkey") % 1000 == mod)
        if op == OP_UPDATE:
            b = b.withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        batches.append(
            b.withColumn(OP_COL, F.lit(op))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )

    def flagship(builder):
        return builder.source("ord_b", orders, pk=["o_orderkey"]).source(
            "cust_b", t["customer"], pk=["c_custkey"]
        ).query(
            """SELECT c_custkey, c_name,
                      (SELECT count(*) FROM ord_b o
                       WHERE o.o_custkey = c.c_custkey) AS order_cnt
               FROM cust_b c"""
        )

    def star_agg(builder):
        return builder.source("ord_b", orders, pk=["o_orderkey"]).source(
            "cust_b", t["customer"], pk=["c_custkey"]
        ).source("nat_b", t["nation"], pk=["n_nationkey"]).query(
            """SELECT n.n_name, count(*) AS n_orders,
                      sum(o.o_totalprice) AS total_raw
               FROM ord_b o
                 JOIN cust_b c ON o.o_custkey = c.c_custkey
                 JOIN nat_b n ON c.c_nationkey = n.n_nationkey
               GROUP BY n.n_name"""
        )

    def topn(builder):
        return builder.source("ord_b", orders, pk=["o_orderkey"]).query(
            """SELECT o_custkey, o_orderkey, rn FROM (
                 SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
                 FROM ord_b) t WHERE rn <= 2"""
        )

    def group_median(builder):
        return builder.source("ord_b", orders, pk=["o_orderkey"]).query(
            """SELECT o_custkey, median(o_totalprice) AS med, count(*) AS n
               FROM ord_b GROUP BY o_custkey"""
        )

    def run_once(make, force_recompute: bool) -> dict:
        work = tempfile.mkdtemp(prefix="bench_mv_")
        try:
            b = make(MVApp.builder(spark)).target(work).num_buckets(8).shuffle_partitions(8)
            if force_recompute:
                b = b.force_recompute()
            app = b.build()
            t0 = time.perf_counter()
            app.bootstrap()
            boot = round(time.perf_counter() - t0, 3)
            refresh_secs = []
            for i, ch in enumerate(batches, start=1):
                t0 = time.perf_counter()
                app.refresh({"ord_b": ch}, batch_id=i)
                refresh_secs.append(round(time.perf_counter() - t0, 3))
            last = (app.describe().get("recent_batches") or [{}])[-1]
            return {
                "strategy": app.maintenance_strategy,
                "bootstrap_sec": boot,
                "refresh_secs": refresh_secs,
                "refresh_total": round(sum(refresh_secs), 3),
                # touched-work evidence: the target store's last-batch
                # merge record (change_rows is O(δ) incremental vs the
                # full-result diff recompute feeds it)
                "last_batch": {
                    k: v for k, v in last.items() if k not in ("ts", "batch_id")
                },
            }
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def run(make, force_recompute: bool) -> dict:
        # Min-of-2 rounds, same rationale as the headline's min-of-3:
        # a single-shot per-batch timing on a shared box records
        # co-runner contention as a phantom maintenance regression
        # (observed: the same scripted batch swinging 2.4s -> 12.6s
        # between back-to-back runs at load <5/32). Round 2 also runs
        # with the route's codegen classes warm — the steady state a
        # 1s-cadence refresh loop actually lives in. Both rounds'
        # totals are recorded for audit.
        rounds = [run_once(make, force_recompute) for _ in range(2)]
        best = min(rounds, key=lambda r: r["refresh_total"])
        best["round_totals"] = [r["refresh_total"] for r in rounds]
        return best

    out: dict = {}
    for name, make in (
        ("flagship_correlated_count", flagship),
        ("star_join_agg", star_agg),
        ("topn_per_group", topn),
        ("group_median", group_median),
    ):
        inc = run(make, force_recompute=False)
        rec = run(make, force_recompute=True)
        out[name] = {
            **inc,
            "recompute": rec,
            "refresh_speedup_vs_recompute": (
                round(rec["refresh_total"] / inc["refresh_total"], 2)
                if inc["refresh_total"] > 0
                else None
            ),
        }
    # cost_advisor record (round 9): the measured strategy advisor's
    # build-time decision for the star shape at THIS scale — the
    # planner's answer to "incremental loses to recompute below the
    # crossover" (one timed full query; see MVAppBuilder.cost_advisor)
    # VERDICT r9 #2(c): record the advisor's decision for EVERY bench
    # route (it arbitrates all agg-shaped strategies now, the probe is
    # threshold-bounded, and the decision is what a user of
    # cost_advisor() would get at this scale).
    for name, make in (
        ("flagship_correlated_count", flagship),
        ("star_join_agg", star_agg),
        ("topn_per_group", topn),
        ("group_median", group_median),
    ):
        work = tempfile.mkdtemp(prefix="bench_adv_")
        try:
            adv = (
                make(MVApp.builder(spark))
                .target(work)
                .num_buckets(8)
                .shuffle_partitions(8)
                .cost_advisor()
                .build()
            )
            out[name]["advisor"] = adv.describe()["advisor"]
            out[name]["advisor_strategy"] = adv.maintenance_strategy
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return out


def _latest_idle_reference() -> dict | None:
    """Embed the most recent committed idle-run record (BENCH_idle_*.json
    at the repo root) so the driver's BENCH artifact carries both the
    driver-run number and the idle close-of-round number side by side —
    trend analysis then never chases a contention phantom (VERDICT r6
    #9, the minhash lesson)."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    # newest by mtime — lexicographic would rank r7 above r10
    files = sorted(
        glob.glob(os.path.join(here, "BENCH_idle_*.json")), key=os.path.getmtime
    )
    if not files:
        return None
    try:
        with open(files[-1]) as f:
            rec = json.load(f)
        return {
            "file": os.path.basename(files[-1]),
            "value": rec.get("value"),
            "sf": rec.get("sf"),
            "queries": rec.get("queries"),
            # the committed sf1 probe rides along when present — the
            # scale point where incremental refresh decisively beats
            # recompute (see _mv_refresh_block's docstring)
            "mv_refresh_sf1": rec.get("mv_refresh_sf1"),
        }
    except (OSError, ValueError):
        return None


_AB_RUNNER = r'''
import json, os, sys, time
repo, sf_dir, names = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
sys.path.insert(0, repo)
from tiflink_spark.queries import get_registry
from tiflink_spark.session import get_spark, load_tables
spark = get_spark("bench_ab")
registry = get_registry()
names = [n for n in names if n in registry]
for df in load_tables(spark, sf_dir).values():
    df.write.format("noop").mode("overwrite").save()
spark.range(1000).mapInPandas(lambda b: b, schema="id long").write.format(
    "noop").mode("overwrite").save()
out = {}
for n in names:
    registry[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    registry[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[n] = round(time.perf_counter() - t0, 3)
print("ABRESULT " + json.dumps({"queries": out, "total": round(sum(out.values()), 3)}))
spark.stop()
'''


def _ab_check(
    total: float,
    idle_ref: dict | None,
    sf_dir: str,
    timings: dict[str, float] | None = None,
) -> dict | None:
    """Snapshot A/B on drift (VERDICT r9 #7): when this run's headline
    moves >10% vs the committed idle reference, re-run the PREVIOUS
    round's snapshot code on the SAME box right now — one warm run per
    query per side, snapshot first then HEAD minutes apart — and record
    both. Replaces uniformity arguments with the measurement that
    settles code-regression vs box-drift.

    Round 11 (additions-only): the queries that look REGRESSED vs the
    idle reference additionally get an INTERLEAVED verdict — a HEAD run
    BEFORE the snapshot run plus the HEAD run after it bracket the
    snapshot in time, so a slow box window inflates all three sides
    alike and min(head_pre, head_post) vs snapshot separates code
    regression from box drift per query (r10's 0.92-geomean PERF file
    was pure contention; the old whole-list single-order A/B could not
    say so per query). The timed min-of-3 protocol and the final JSON
    line are untouched."""
    if not idle_ref or not idle_ref.get("value"):
        return None
    # only comparable at the reference's own scale factor — a sf0.01
    # probe drifting vs a sf0.1 record is not drift
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    ref_sf = idle_ref.get("sf")
    if ref_sf is not None and str(ref_sf) != sf:
        return None
    ref = float(idle_ref["value"])
    drift = total / ref - 1.0
    if abs(drift) <= 0.10:
        return None
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))

    def _run(repo: str, names: list[str] | None = None) -> dict:
        script = os.path.join(tempfile.mkdtemp(prefix="bench_ab_"), "runner.py")
        with open(script, "w") as f:
            f.write(_AB_RUNNER)
        try:
            p = subprocess.run(
                [sys.executable, script, repo, sf_dir,
                 json.dumps(names or HEADLINE)],
                capture_output=True, text=True, timeout=900,
            )
            for line in reversed(p.stdout.splitlines()):
                if line.startswith("ABRESULT "):
                    return json.loads(line[len("ABRESULT "):])
            return {"error": (p.stderr or p.stdout)[-400:]}
        except Exception as e:  # timeout, spawn failure — record, don't crash
            return {"error": f"{type(e).__name__}: {e}"[:400]}

    # previous round's snapshot = newest end-of-round commit
    try:
        subj = subprocess.run(
            ["git", "-C", here, "log", "--format=%H %s", "-50"],
            capture_output=True, text=True, timeout=60,
        ).stdout
        commit = next(
            (
                l.split()[0]
                for l in subj.splitlines()
                if l.split(" ", 1)[1].startswith("round ")
            ),
            None,
        )
    except Exception:
        commit = None
    if commit is None:
        return {"triggered": True, "drift": round(drift, 3), "error": "no snapshot commit"}
    # regressed-looking queries (this run vs the idle reference's own
    # per-query numbers) get the bracketed per-query verdict
    ref_q = idle_ref.get("queries") or {}
    regressed = sorted(
        q
        for q, now in (timings or {}).items()
        if ref_q.get(q) and now > ref_q[q] * 1.15
    )
    wt = tempfile.mkdtemp(prefix="bench_ab_wt_")
    os.rmdir(wt)
    verdicts = None
    head_pre = None
    try:
        subprocess.run(
            ["git", "-C", here, "worktree", "add", "--detach", wt, commit],
            capture_output=True, timeout=120, check=True,
        )
        if regressed:
            # HEAD before the snapshot — regressed queries only (the
            # post-snapshot HEAD run still covers the whole list)
            head_pre = _run(here, regressed)
        snap = _run(wt)  # snapshot,
        head = _run(here)  # HEAD after — same box, minutes apart
        if regressed and "queries" in (head_pre or {}) and "queries" in snap:
            verdicts = {}
            for q in regressed:
                hp = (head_pre.get("queries") or {}).get(q)
                hf = (head.get("queries") or {}).get(q)
                sp = (snap.get("queries") or {}).get(q)
                if hp is None or hf is None or sp is None:
                    verdicts[q] = {"verdict": "unmeasured"}
                    continue
                best_head = min(hp, hf)
                verdicts[q] = {
                    "head_pre": hp,
                    "snapshot": sp,
                    "head_post": hf,
                    # bracketed: the snapshot ran BETWEEN the two HEAD
                    # runs, so a slow window inflates all three sides
                    "verdict": (
                        "code_regression"
                        if best_head > sp * 1.10
                        else "box_noise"
                    ),
                }
    finally:
        subprocess.run(
            ["git", "-C", here, "worktree", "remove", "--force", wt],
            capture_output=True, timeout=120,
        )
    return {
        "triggered": True,
        "drift_vs_idle_ref": round(drift, 3),
        "snapshot_commit": commit[:12],
        **({"head_pre": head_pre} if head_pre is not None else {}),
        "snapshot": snap,
        "head": head,
        **(
            {"regressed_query_verdicts": verdicts}
            if verdicts is not None
            else {}
        ),
        "timing": "warm_single_run_each"
        + ("_bracketed" if verdicts is not None else ""),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe = _contention_probe()
    from tiflink_spark.queries import get_registry
    from tiflink_spark.session import get_spark

    spark = get_spark("bench")
    registry = get_registry()
    names = [n for n in HEADLINE if n in registry]

    # Warm the JVM, parquet footers, OS page cache, and codegen once so
    # timings measure the queries, not first-touch I/O: materialize every
    # table fully (all columns), then one representative query.
    from tiflink_spark.session import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.write.format("noop").mode("overwrite").save()
    registry[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warm the Python worker pool + Arrow serialization path the same
    # way (spark.python.worker.reuse keeps the workers alive): the
    # pandas-backed operators otherwise pay ~1.5s of one-time worker
    # fork/import inside their first measured run.
    spark.range(1000).mapInPandas(
        lambda batches: batches, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Steady-state timing: run each query once unmeasured (whole-stage
    # codegen compiles the generated classes on first execution — ~1-2s
    # of one-time JVM compiler work per distinct plan, pure noise at the
    # target scale where a query runs for minutes), then measure THREE
    # runs and report the MIN. Spark has no cross-action result caching
    # — every measured run re-executes the full plan (scan/shuffle/agg);
    # only the JIT/codegen classes and page cache are warm, exactly like
    # the table warm-up above. Min-of-3 because a single-shot timing on
    # a shared box records co-runner contention as a phantom plan
    # regression (BENCH_r04: 10.57s contended vs 8.19s idle, identical
    # plans); the min is the least-contended observation of the same
    # deterministic plan. All runs are recorded alongside for audit.
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in names:
        # guide §1.3: label every job so a Spark UI / event-log reading
        # of a bench run attributes stages to the query being timed
        spark.sparkContext.setJobDescription(f"bench warm: {name}")
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"bench run {i + 1}/3: {name}")
            t0 = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        all_runs[name] = runs
        timings[name] = min(runs)
    spark.sparkContext.setJobDescription(None)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Tracked trend (VERDICT r5 #9): dedup_minhash_lsh is the one
    # headline query with a consistent upward drift across rounds
    # (r3 1.72s → idle-r4 1.46s → r5 2.08s at sf0.1). Record the
    # per-round history inline so the delta is visible in every BENCH
    # artifact without cross-referencing old files; the sf1 probe
    # (BENCH_sf1 notes) watches the same query for super-linearity.
    trend = {
        "dedup_minhash_lsh": {
            "history_sf0.1": {"r3": 1.72, "r4_idle": 1.46, "r5": 2.08},
            "now": timings.get("dedup_minhash_lsh"),
        }
    }
    # The engine's core path: incremental refresh vs recompute on the
    # same queries (skippable for quick headline-only probes).
    mv_refresh = (
        _mv_refresh_block(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_SKIP_MV_REFRESH") != "1"
        else None
    )
    # The driver captures only the last ~2kB of output and parses the
    # final JSON line (BENCH_r07 had "parsed": null because the single
    # combined line outgrew that window). So: the full detail record —
    # runs, mv_refresh, contention, trends — goes on its OWN earlier
    # line, and the compact headline (well under 2kB) is the LAST line.
    idle_ref = _latest_idle_reference()
    detail = {
        "metric": "headline_detail",
        "runs": all_runs,
        "timing": "min_of_3",
        "contention_probe": probe,
        "tracked_trends": trend,
        "mv_refresh": mv_refresh,
        "idle_reference": idle_ref,
        # drift >10% vs the idle record triggers an on-the-spot A/B of
        # the previous round's snapshot on this same box (None = within
        # band, no A/B needed)
        "ab_check": (
            _ab_check(total, idle_ref, sf_dir, timings)
            if os.environ.get("SPARK_GRAFT_SKIP_AB") != "1"
            else None
        ),
    }
    print(json.dumps(detail))
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
