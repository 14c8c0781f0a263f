"""Workload definitions: the view, its sources and the batch schedule.

Every workload is a closed loop with one client: a batch is applied only
after the previous ``MVApp.refresh`` has returned, as TiFlink commits one
checkpoint at a time. Window lengths are whole multiples of CYCLE, the
least common multiple of the batch-script period (one batch: every batch
has the same shape) and the store's five-merge fold cycle
(``MAX_PENDING_DELTAS`` + 1), so every run times the same mix of fold and
non-fold batches.
"""

from __future__ import annotations

from dataclasses import dataclass

CYCLE = 5  # batches per whole cycle
WARMUP_CYCLES = 1
ASOF_LAG = 5  # the as-of read is this many batches back

FLAGSHIP_SQL = """SELECT c_custkey, c_name,
       (SELECT count(*) FROM ord_b o WHERE o.o_custkey = c.c_custkey) AS order_cnt
FROM cust_b c"""

TOPN_SQL = """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM ord_t) t WHERE rn <= 2"""


@dataclass(frozen=True)
class Workload:
    name: str
    sql: str
    sources: dict  # view source name -> generated table name
    strategy: str  # the maintenance class the planner must route to
    key: list  # the view's key columns, for the result check
    # fixed conversion from --seconds to timed cycles: about the wall
    # time of one timed cycle, reads included, on a 4-core machine
    nominal_cycle_s: float
    reads_per_batch: bool = False  # topn_serve: a read set after each batch


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="flagship_trickle",
            sql=FLAGSHIP_SQL,
            sources={"ord_b": "orders", "cust_b": "customer"},
            strategy="IncrementalAggMV",
            key=["c_custkey"],
            nominal_cycle_s=9.0,
        ),
        Workload(
            name="topn_serve",
            sql=TOPN_SQL,
            sources={"ord_t": "orders"},
            strategy="IncrementalTopKMV",
            key=["o_custkey", "rn"],
            nominal_cycle_s=15.0,
            reads_per_batch=True,
        ),
    )
}


def window(w: Workload, seconds: int) -> tuple[int, int]:
    """(warm-up batches, timed batches) for a ``--seconds`` budget: the
    timed window is the whole number of cycles nearest to ``seconds``
    at the workload's fixed nominal cycle time, at least one, so the
    sample count never depends on how fast this run happens to be."""
    cycles = max(1, round(seconds / w.nominal_cycle_s))
    return WARMUP_CYCLES * CYCLE, cycles * CYCLE
