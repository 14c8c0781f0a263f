"""Traced run: per-layer metrics measured from outside the engine.

Three sources, all read from the benchmark's side:

- spans: wrappers installed on the public methods of
  ``KeyedParquetStore`` and ``MVApp``. Classes resolve methods at call
  time, so the engine's own calls go through the wrappers too. A span
  records name, start, end, parent span and batch id; spans stay in
  memory and are written out when the run ends.
- Spark's status store (``sc._jsc.sc().statusStore()``, available with
  the UI off): jobs are attributed to a batch or a read by job-id range,
  so thread-pool and background fold jobs count too.
- the JVM's management beans: GC time and heap after a forced GC.

Functions that modules import by name (``changelog.merge_changes`` into
mv.py, for one) cannot be intercepted from here.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

STORE_METHODS = ("merge", "bootstrap", "read", "read_keys", "read_buckets", "batch_delta")
STORE_READS = ("store.read", "store.read_keys", "store.read_buckets", "store.batch_delta")
APP_METHODS = ("bootstrap", "refresh", "read")
MB = 2**20


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            try:
                size += os.path.getsize(os.path.join(root, f))
                files += 1
            except OSError:
                pass  # a temporary file vanished mid-walk
    return size, files


class Tracer:
    def __init__(self, spark, app, target: str, store_cls, app_cls):
        self.spark = spark
        self.app = app
        self.target = target
        self._classes = ((store_cls, "store", STORE_METHODS), (app_cls, "app", APP_METHODS))
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.stores: dict[int, object] = {}
        self.batch = None
        self._batch_span = None
        jsc = spark.sparkContext._jsc.sc()
        self._dag, self._bus, self._status = jsc.dagScheduler(), jsc.listenerBus(), jsc.statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.batches: list[dict] = []
        self.reads: list[dict] = []
        self.failed_tasks = 0
        self.boot: dict = {}
        self.window: dict = {}

    # -- wrappers ------------------------------------------------------------

    def install(self) -> None:
        for cls, layer, names in self._classes:
            for name in names:
                orig = cls.__dict__[name]
                setattr(cls, name, self._wrap(f"{layer}.{name}", orig, layer == "store"))

    def _wrap(self, span_name: str, fn, is_store: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kw):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            parent = stack[-1] if stack else tracer._batch_span
            span = {
                "name": span_name,
                "start": time.time(),
                "end": None,
                "parent": parent,
                "batch": tracer.batch,
                "thread": threading.current_thread().name,
            }
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
                if is_store:
                    tracer.stores[id(obj)] = obj
            if span_name == "app.refresh":
                tracer._batch_span = span["id"]
            stack.append(span["id"])
            try:
                return fn(obj, *args, **kw)
            finally:
                stack.pop()
                span["end"] = time.time()

        return wrapper

    # -- Spark status store and JVM beans --------------------------------------

    def _job_count(self) -> int:
        return self._dag.numTotalJobs()

    def _gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0

    def _jobs(self, lo: int, hi: int) -> dict:
        """Work of jobs ``lo .. hi-1`` from the status store."""
        self._bus.waitUntilEmpty()
        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
               "shuffle_mb": 0.0, "input_mb": 0.0, "intervals": []}
        seen: set = set()
        for jid in range(lo, hi):
            try:
                j = self._status.job(jid)
            except Exception:  # py4j: evicted from the status store
                continue
            out["jobs"] += 1
            out["tasks"] += j.numTasks() - j.numSkippedTasks()
            out["failed_tasks"] += j.numFailedTasks()
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else time.time() * 1000
                out["intervals"].append((sub.get().getTime() / 1000, end / 1000))
            ids = j.stageIds()
            for k in range(ids.length()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._status.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / MB
                out["input_mb"] += st.inputBytes() / MB
        self.failed_tasks += out["failed_tasks"]
        return out

    # -- phases --------------------------------------------------------------

    def begin_bootstrap(self) -> None:
        self._mark = self._job_count()

    def end_bootstrap(self) -> None:
        jobs = self._jobs(self._mark, self._job_count())
        self.boot = {"jobs": jobs["jobs"], "mb": dir_usage(self.target)[0] / MB}

    def begin_window(self, heap_mb: float) -> None:
        self.window = {"start": time.time(), "heap_mb": heap_mb}

    def end_window(self, heap_mb: float) -> None:
        self.window.update(end=time.time(), heap_growth_mb=heap_mb - self.window["heap_mb"])

    def begin_batch(self, i) -> None:
        self.batch = i
        self._b = {
            "batch": i,
            "job_lo": self._job_count(),
            "gc0": self._gc_s(),
            "disk0": dir_usage(self.target),
            "t0": time.time(),
        }

    def end_batch(self, i, wall: float, timed: bool) -> None:
        t1 = time.time()
        b = self._b
        self._batch_span = None
        jobs = self._jobs(b["job_lo"], self._job_count())
        t0 = b["t0"]
        job_iv = clip(jobs.pop("intervals"), t0, t1)
        mine = [s for s in self.spans if s["batch"] == i and s["end"] is not None]
        merges = [(s["start"], s["end"]) for s in mine if s["name"] == "store.merge"]
        store_iv = clip([(s["start"], s["end"]) for s in mine
                         if s["name"].startswith("store.")], t0, t1)
        disk1 = dir_usage(self.target)
        job_s = union_s(job_iv)
        store_or_job = union_s(store_iv + job_iv)
        self.batches.append({
            "batch": i,
            "timed": timed,
            "wall_s": wall,
            "spark.job_s": job_s,
            "mv.driver_s": max(0.0, wall - job_s),
            "store.merge_s": union_s(clip(merges, t0, t1)),
            "store.merge_calls": len(merges),
            "store.read_calls": sum(s["name"] in STORE_READS for s in mine),
            "self.store_s": store_or_job - job_s,
            "self.app_s": max(0.0, (t1 - t0) - store_or_job),
            "spark.jobs_per_batch": jobs["jobs"],
            "spark.tasks_per_batch": jobs["tasks"],
            "spark.cpu_s_per_batch": jobs["cpu_s"],
            "spark.shuffle_mb_per_batch": jobs["shuffle_mb"],
            "spark.input_mb_per_batch": jobs["input_mb"],
            "store.written_mb": max(0, disk1[0] - b["disk0"][0]) / MB,
            "store.files_written": max(0, disk1[1] - b["disk0"][1]),
            "jvm.gc_s_per_batch": self._gc_s() - b["gc0"],
        })
        self.batch = None

    def begin_read(self, kind: str) -> None:
        recent = self.app.describe()["recent_batches"]
        self._r = {
            "kind": kind,
            "job_lo": self._job_count(),
            "pending": (recent[-1].get("pending_deltas") or 0) if recent else 0,
            "span_lo": len(self.spans),
        }

    def end_read(self, kind: str, wall: float, timed: bool) -> None:
        r = self._r
        jobs = self._jobs(r["job_lo"], self._job_count())
        builds = [s["end"] - s["start"] for s in self.spans[r["span_lo"]:]
                  if s["name"] == "app.read" and s["end"] is not None]
        self.reads.append({
            "kind": kind,
            "timed": timed,
            "wall_s": wall,
            "store.pending_deltas_at_read": r["pending"],
            "app.read_build_s": builds[0] if builds else 0.0,
            "spark.jobs_per_read": jobs["jobs"],
            "spark.input_mb_per_read": jobs["input_mb"],
        })

    # -- results --------------------------------------------------------------

    def _folds(self) -> list[float]:
        lo, hi = self.window.get("start", 0), self.window.get("end", time.time())
        secs = []
        for store in list(self.stores.values()):
            for c in store.recent_commits(10_000):
                if str(c["batch_id"]).startswith("__fold__") and lo <= (c.get("ts") or 0) <= hi:
                    secs.append(c.get("merge_secs", 0.0))
        return secs

    def metrics(self, setup: dict) -> dict:
        timed = [b for b in self.batches if b["timed"]]
        reads = [r for r in self.reads if r["timed"]]

        def med(key, rows=timed):
            return _median([r[key] for r in rows])

        folds = self._folds()
        return {
            "session.start_s": (setup["session.start_s"], "s"),
            "session.sources_s": (setup["session.sources_s"], "s"),
            "planner.build_s": (setup["planner.build_s"], "s"),
            "trace.refresh_p50_s": (med("wall_s"), "s"),
            "mv.driver_s": (med("mv.driver_s"), "s"),
            "spark.job_s": (med("spark.job_s"), "s"),
            "spark.jobs_per_batch": (med("spark.jobs_per_batch"), "count"),
            "spark.tasks_per_batch": (med("spark.tasks_per_batch"), "count"),
            "spark.cpu_s_per_batch": (med("spark.cpu_s_per_batch"), "s"),
            "spark.shuffle_mb_per_batch": (med("spark.shuffle_mb_per_batch"), "MB"),
            "spark.input_mb_per_batch": (med("spark.input_mb_per_batch"), "MB"),
            "store.merge_s": (med("store.merge_s"), "s"),
            "store.merge_calls": (med("store.merge_calls"), "count"),
            "store.read_calls": (med("store.read_calls"), "count"),
            "store.written_mb": (med("store.written_mb"), "MB"),
            "store.files_written": (med("store.files_written"), "count"),
            "store.folds": (len(folds), "count"),
            "store.fold_s": (_median(folds), "s"),
            "store.pending_deltas_at_read": (med("store.pending_deltas_at_read", reads), "count"),
            "app.read_build_s": (med("app.read_build_s", reads), "s"),
            "spark.jobs_per_read": (med("spark.jobs_per_read", reads), "count"),
            "spark.input_mb_per_read": (med("spark.input_mb_per_read", reads), "MB"),
            "spark.bootstrap_jobs": (self.boot.get("jobs", 0), "count"),
            "store.bootstrap_mb": (self.boot.get("mb", 0.0), "MB"),
            "jvm.gc_s_per_batch": (med("jvm.gc_s_per_batch"), "s"),
            "jvm.heap_growth_mb": (self.window.get("heap_growth_mb", 0.0), "MB"),
            "spark.failed_tasks": (self.failed_tasks, "count"),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"type": "span", **s}) + "\n")
            for b in self.batches:
                f.write(json.dumps({"type": "batch", **b}) + "\n")
            for r in self.reads:
                f.write(json.dumps({"type": "read", **r}) + "\n")
