"""One workload run against the engine, in a fresh process.

``run.py`` generates the inputs, then starts this script with a JSON
config; the script writes its measurements back as JSON. It is meant to
be started only by ``run.py``.

Timeline of a run:
  setup      process start .. ``MVAppBuilder.build()`` returns
  bootstrap  ``MVApp.bootstrap()``
  warm-up    a fixed prefix of whole cycles, summed
  timed      whole cycles, one sample per batch (and per read)
  settle     wait for the last scheduled fold, then heap and disk
  reads      workloads without per-batch reads: fixed read sets now
  check      ``MVApp.read()`` against the DuckDB recompute
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import tracing  # noqa: E402
from workloads import ASOF_LAG, WORKLOADS  # noqa: E402

# Read paths warm up too: unmeasured read sets precede the measured ones.
# Workloads with per-batch reads run WARM_READ_SETS after the last warm-up
# batches; the others, whose read paths are still cold after the window,
# run POST_WINDOW_WARM_READ_SETS and then measure POST_WINDOW_READ_SETS.
WARM_READ_SETS = 2
POST_WINDOW_WARM_READ_SETS = 4
POST_WINDOW_READ_SETS = 12

HEAP_MAX_GCS = 20
HEAP_STABLE_GCS = 3


def _folds_in_flight(target: str, max_pending: int) -> bool:
    """True while any store under ``target`` has a scheduled fold that
    has not committed: its manifest tail carries a delta chain longer
    than the store's bound, which is exactly when merge schedules one."""
    for root, _dirs, files in os.walk(target):
        if "_mv_commits" not in files:
            continue
        with open(os.path.join(root, "_mv_commits")) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        if lines and len(json.loads(lines[-1]).get("deltas") or []) > max_pending:
            return True
    return False


def await_folds(target: str, max_pending: int, timeout: float = 120.0) -> float:
    t0 = time.monotonic()
    while _folds_in_flight(target, max_pending):
        if time.monotonic() - t0 > timeout:
            raise TimeoutError(f"a scheduled fold under {target} did not commit")
        time.sleep(0.02)
    return time.monotonic() - t0


def heap_live_mb(spark) -> float:
    """Driver heap in use after a forced full collection, with the
    garbage that only becomes collectable in steps gone first: Python
    proxies pin JVM objects until Python collects them, the listener bus
    holds undelivered events, and Spark's cleaner drops broadcast blocks
    only after a collection has found them unreachable. Each step needs
    a collection and some time, and how many steps are left varies from
    run to run, so collections repeat until the heap in use has stopped
    falling for HEAP_STABLE_GCS rounds; the lowest reading is returned."""
    import gc

    gc.collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live, stable = float("inf"), 0
    for _ in range(HEAP_MAX_GCS):
        mx.gc()
        used = mx.getHeapMemoryUsage().getUsed() / tracing.MB
        if used < live - 0.5:
            live, stable = used, 0
        else:
            live, stable = min(live, used), stable + 1
            if stable == HEAP_STABLE_GCS:
                break
        time.sleep(0.25)
    return live


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.w = WORKLOADS[cfg["workload"]]
        n = cfg["warmup_batches"] + cfg["timed_batches"]
        self.applied = cfg["layout"]["batches"][:n]
        self.out: dict = {"workload": self.w.name, "warmup_s": 0.0}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None
        self.versions: list = []
        self.reads = {"read": [], "lookup": [], "asof": []}

    def op(self, fn, *args, **kw):
        """Call the engine, counting the attempt; a failure is recorded
        and re-raised, which ends the run."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=8))
            raise

    # -- phases ----------------------------------------------------------------

    def setup(self) -> None:
        from tiflink_spark.app import MVApp
        from tiflink_spark.session import get_spark

        cfg, w, out = self.cfg, self.w, self.out
        self.spark = spark = get_spark("perfbench", extra_conf=cfg["spark_conf"])
        # interpreter, imports and the JVM: everything before the session
        t0 = time.monotonic()
        b = MVApp.builder(spark)
        for name, table in w.sources.items():
            df = spark.read.parquet(cfg["layout"]["sources"][table])
            b = b.source(name, df, pk=list(oracle.PKS[table]))
        t1 = time.monotonic()
        self.target = os.path.join(cfg["work"], "target")
        self.app = (
            b.query(w.sql)
            .target(self.target)
            .num_buckets(cfg["num_buckets"])
            .shuffle_partitions(cfg["shuffle_partitions"])
            .build()
        )
        t2 = time.monotonic()
        out["session.start_s"] = t0 - cfg["t_spawn"]
        out["session.sources_s"] = t1 - t0
        out["planner.build_s"] = t2 - t1
        out["setup_s"] = t2 - cfg["t_spawn"]
        out["maintenance_strategy"] = self.app.maintenance_strategy

    def batch_schemas(self) -> None:
        """Pinned schemas for the changelog files, so handing a batch to
        refresh costs no schema inference."""
        from pyspark.sql.types import LongType, StringType, StructType

        from tiflink_spark.changelog import OP_COL, SEQ_COL

        sources = self.cfg["layout"]["sources"]
        self.schemas = {}
        for t in {b["table"] for b in self.applied}:
            s = self.spark.read.parquet(sources[t]).schema
            self.schemas[t] = StructType(s.fields).add(OP_COL, StringType()).add(SEQ_COL, LongType())

    def bootstrap(self) -> None:
        if self.tracer:
            self.tracer.begin_bootstrap()
        t0 = time.perf_counter()
        self.op(self.app.bootstrap)
        self.out["bootstrap_s"] = time.perf_counter() - t0
        if self.tracer:
            self.tracer.end_bootstrap()

    def _timed_read(self, kind: str, make, timed: bool) -> None:
        if self.tracer:
            self.tracer.begin_read(kind)
        t0 = time.perf_counter()
        self.op(lambda: make().collect())
        dt = time.perf_counter() - t0
        if self.tracer:
            self.tracer.end_read(kind, dt, timed)
        if timed:
            self.reads[kind].append(dt)

    def read_set(self, timed: bool) -> None:
        """One full-view collect, one point lookup, one as-of read."""
        from pyspark.sql import functions as F

        app, key0, k = self.app, self.w.key[0], self.cfg["lookup_key"]
        self._timed_read("read", lambda: app.read(), timed)
        self._timed_read("lookup", lambda: app.read().filter(F.col(key0) == k), timed)
        v = self.versions[max(0, len(self.versions) - 1 - ASOF_LAG)]
        self._timed_read("asof", lambda: app.read(version=v), timed)

    def batches(self) -> None:
        from tiflink_spark.store import MAX_PENDING_DELTAS

        n_warm = self.cfg["warmup_batches"]
        source_of = {table: name for name, table in self.w.sources.items()}
        refresh_s, rows = [], 0
        for i, b in enumerate(self.applied, start=1):
            df = self.spark.read.schema(self.schemas[b["table"]]).parquet(b["path"])
            timed = i > n_warm
            if self.tracer:
                if i == n_warm + 1:
                    # measured as at the window's end: no fold in flight
                    await_folds(self.target, MAX_PENDING_DELTAS)
                    self.tracer.begin_window(heap_live_mb(self.spark))
                self.tracer.begin_batch(i)
            t0 = time.perf_counter()
            self.op(self.app.refresh, {source_of[b["table"]]: df}, batch_id=i)
            dt = time.perf_counter() - t0
            if self.tracer:
                self.tracer.end_batch(i, dt, timed)
            if timed:
                refresh_s.append(dt)
                rows += b["rows"]
            else:
                self.out["warmup_s"] += dt
            self.versions.append(self.app.describe()["target_version"])
            if self.w.reads_per_batch and i > n_warm - WARM_READ_SETS:
                self.read_set(timed)
        self.out["refresh_s"] = refresh_s
        self.out["rows_consumed"] = rows

    def settle(self) -> None:
        from tiflink_spark.store import MAX_PENDING_DELTAS

        self.out["fold_wait_s"] = await_folds(self.target, MAX_PENDING_DELTAS)
        self.out["heap_live_mb"] = heap_live_mb(self.spark)
        self.out["state_mb"] = tracing.dir_usage(self.target)[0] / tracing.MB
        if self.tracer:
            self.tracer.end_window(self.out["heap_live_mb"])

    def check(self) -> None:
        w = self.w
        self.attempted += 1
        route_ok = self.app.maintenance_strategy == w.strategy
        try:
            got = self.app.read().toPandas()
            ok, detail = oracle.check(w, self.cfg["layout"]["sources"], self.applied, got)
        except Exception:  # a failing check is a measured outcome
            ok, detail = False, traceback.format_exc(limit=8)
        if not route_ok:
            detail = f"routed to {self.app.maintenance_strategy}, expected {w.strategy}; {detail}"
        if not (ok and route_ok):
            self.failed += 1
            self.errors.append(detail)
        self.out["check"] = {"ok": ok, "route_ok": route_ok, "detail": detail}

    def post_window_reads(self) -> None:
        for k in range(POST_WINDOW_WARM_READ_SETS + POST_WINDOW_READ_SETS):
            self.read_set(k >= POST_WINDOW_WARM_READ_SETS)

    # -- the run -----------------------------------------------------------------

    def timed_phase(self, name: str, fn) -> None:
        t0 = time.monotonic()
        try:
            fn()
        finally:
            self.out.setdefault("phase_s", {})[name] = time.monotonic() - t0

    def run(self) -> dict:
        cfg = self.cfg
        try:
            self.setup()
            if cfg["trace"]:
                from tiflink_spark.app import MVApp
                from tiflink_spark.store import KeyedParquetStore

                self.tracer = tracing.Tracer(
                    self.spark, self.app, self.target, KeyedParquetStore, MVApp
                )
                self.tracer.install()
            self.batch_schemas()
            self.timed_phase("bootstrap", self.bootstrap)
            self.timed_phase("batches", self.batches)
            self.timed_phase("settle", self.settle)
            if not self.w.reads_per_batch:
                self.timed_phase("reads", self.post_window_reads)
            self.out["reads"] = self.reads
            self.timed_phase("check", self.check)
            if self.tracer:
                self.out["per_layer"] = self.tracer.metrics(self.out)
                self.out["trace_batches"] = self.tracer.batches
                self.tracer.dump(cfg["trace_out"])
        except Exception:
            if not self.failed:
                self.failed += 1
                self.errors.append(traceback.format_exc(limit=8))
            self.out["aborted"] = True
        finally:
            self.timed_phase("close", self.close)
        self.out.update(attempted=max(1, self.attempted), failed=self.failed, errors=self.errors)
        return self.out

    def close(self) -> None:
        """Let the view's last fold land, then stop the session."""
        if not hasattr(self, "spark"):
            return
        from tiflink_spark.store import MAX_PENDING_DELTAS

        try:
            if os.path.isdir(getattr(self, "target", "")):
                await_folds(self.target, MAX_PENDING_DELTAS)
        finally:
            self.spark.stop()


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    out = Run(cfg).run()
    with open(cfg["result"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
