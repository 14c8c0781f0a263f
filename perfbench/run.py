"""MV-maintenance benchmark: one workload, one seed, one fresh engine process.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload flagship_trickle --seed 1 --seconds 20 --trace 0

The script generates the workload's inputs from ``--seed`` (numpy and
pyarrow, before any Spark session exists), runs ``engine_run.py`` in a
fresh process with a pinned environment, checks the view against a
DuckDB recompute, and prints one JSON object as its last stdout line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the run's details (route,
check, windows, per-batch times); a traced run also prints its
per-batch layer table. Everything the run writes lives under
``.perfbench/`` in the working directory; the per-run work directory
is removed at exit, a traced run's spans stay in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import CYCLE, WORKLOADS, window  # noqa: E402

ENGINE_PKG = "tiflink_spark"
# The pinned run environment (see README.md):
CPUS = 4  # Spark task slots, capped at the machine's cores
DRIVER_MEMORY = "3g"
SPARK_CONF = {
    # whole heap from the start, no lazy growth
    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    # status-store retention capped: the live heap then holds the
    # engine's state, not a history of finished jobs that grows with the run
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "400",
    "spark.ui.retainedTasks": "10000",
    "spark.sql.ui.retainedExecutions": "50",
}
NUM_BUCKETS = 4
SHUFFLE_PARTITIONS = 4
CHILD_TIMEOUT_S = 170

END_TO_END_UNITS = {
    "setup_s": "s",
    "bootstrap_s": "s",
    "warmup_s": "s",
    "refresh_p50_s": "s",
    "refresh_tail_s": "s",
    "refresh_rows_per_s": "rows/s",
    "read_p50_s": "s",
    "lookup_p50_s": "s",
    "asof_read_p50_s": "s",
    "heap_live_mb": "MB",
    "state_mb": "MB",
}


def cycle_tail(refresh_s: list[float]) -> float:
    """Median over whole cycles of each cycle's slowest batch: the
    fold-await population, one batch in every CYCLE."""
    return statistics.median(
        max(refresh_s[i:i + CYCLE]) for i in range(0, len(refresh_s), CYCLE)
    )


def halves(xs: list) -> tuple[list, list]:
    """First and second half, the middle sample in both when odd."""
    return xs[: (len(xs) + 1) // 2], xs[len(xs) // 2:]


def end_to_end(r: dict) -> dict:
    refresh, reads = r["refresh_s"], r["reads"]
    m = {
        "setup_s": r["setup_s"],
        "bootstrap_s": r["bootstrap_s"],
        "warmup_s": r["warmup_s"],
        "refresh_p50_s": statistics.median(refresh),
        "refresh_tail_s": cycle_tail(refresh),
        "refresh_rows_per_s": r["rows_consumed"] / sum(refresh),
        "read_p50_s": statistics.median(reads["read"]),
        "lookup_p50_s": statistics.median(reads["lookup"]),
        "asof_read_p50_s": statistics.median(reads["asof"]),
        "heap_live_mb": r["heap_live_mb"],
        "state_mb": r["state_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in m.items()}


def lookup_key(seed: int) -> int:
    """Seeded point-lookup key: a customer key, the first key column of
    both views."""
    import numpy as np

    import gen

    k = int(np.random.default_rng([seed, 7]).integers(1, gen.N_CUSTOMERS + 1))
    # customers with c_custkey % 3 == 0 place no orders
    return k - 1 if k % 3 == 0 else k


def trace_table(rows: list[dict]) -> str:
    """Per batch: wall time next to the layers' self times along the
    batch span (spark + store + app = batch span) and the merge union."""
    cols = ("wall_s", "mv.driver_s", "spark.job_s", "store.merge_s",
            "self.store_s", "self.app_s", "spark.jobs_per_batch")
    lines = ["batch timed " + " ".join(f"{c:>20}" for c in cols)]
    for b in rows:
        lines.append(f"{b['batch']:>5} {int(b['timed']):>5} "
                     + " ".join(f"{b[c]:>20.3f}" for c in cols))
    return "\n".join(lines)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the engine process left in its session (the Spark
    JVM is its child) and wait until the whole group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_engine(cfg: dict, env: dict, log_path: str) -> dict | None:
    cfg_path = os.path.join(cfg["work"], "config.json")
    with open(log_path, "w") as log:
        cfg["t_spawn"] = time.monotonic()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine_run.py"), cfg_path],
            env=env, cwd=os.getcwd(), start_new_session=True,
            stdout=log, stderr=subprocess.STDOUT,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: engine run timed out", file=sys.stderr)
        finally:
            _stop_group(proc)
    if proc.returncode == 0 and os.path.isfile(cfg["result"]):
        with open(cfg["result"]) as f:
            return json.load(f)
    with open(log_path, errors="replace") as f:
        sys.stderr.write(f.read()[-4000:])
    print(f"perfbench: engine run exited {proc.returncode}", file=sys.stderr)
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="Spark task slots (1 gives the single-slot baseline)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE_PKG, "app.py")):
        print(f"perfbench: no {ENGINE_PKG}/ under {root}; run from the root of a checkout",
              file=sys.stderr)
        return 2

    w = WORKLOADS[args.workload]
    n_warm, n_timed = window(w, args.seconds)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every temporary file of the run (JVM, Spark, Python) stays in it
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        import gen

        t0 = time.monotonic()
        layout = gen.generate(args.seed, n_warm + n_timed, os.path.join(work, "input"))
        gen_s = time.monotonic() - t0
        cfg = {
            "workload": w.name,
            "work": work,
            "layout": layout,
            "warmup_batches": n_warm,
            "timed_batches": n_timed,
            "lookup_key": lookup_key(args.seed),
            "num_buckets": NUM_BUCKETS,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "spark_conf": SPARK_CONF,
            "trace": args.trace,
            "trace_out": os.path.join(base, "traces", f"{w.name}-seed{args.seed}.jsonl"),
            "result": os.path.join(work, "result.json"),
        }
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(max(1, min(args.cpus, os.cpu_count() or 1))),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            # every JVM the run starts, Spark's launcher too: temporary
            # files in the run directory, no JVM perf-data file outside it
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
        )
        r = run_engine(cfg, env, os.path.join(work, "engine.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r is None:
        return 3
    if r.get("aborted"):
        print(json.dumps({"workload": w.name, "seed": args.seed, "errors": r["errors"][:3]}))
        print(json.dumps({"correct": False, "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": {}}))
        return 1

    print(json.dumps({
        "workload": w.name,
        "seed": args.seed,
        "maintenance_strategy": r["maintenance_strategy"],
        "check": r["check"],
        "warmup_batches": n_warm,
        "timed_batches": n_timed,
        "generate_s": gen_s,
        "phase_s": r["phase_s"],
        "fold_wait_s": r["fold_wait_s"],
        "refresh_s": r["refresh_s"],
        # medians of the window's first and second half: past warm-up,
        # they agree within refresh_p50_s's bound
        "refresh_half_p50_s": [statistics.median(h) for h in halves(r["refresh_s"])],
        "reads": r["reads"],
        "errors": r["errors"][:3],
    }))
    if args.trace:
        print(trace_table(r["trace_batches"]))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in r["per_layer"].items()}
    else:
        metrics = end_to_end(r)
    correct = bool(r["check"]["ok"] and r["check"]["route_ok"] and r["failed"] == 0)
    print(json.dumps({
        "correct": correct,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
