"""Regenerate tests/fixtures/routing_golden.json — the route MVApp picks
for every query of the matcher golden corpus.

Run ONLY when a routing change is intended; review the fixture diff like
code (every changed entry is a query that now takes another route).

Usage: python tools/regen_routing_golden.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from tests.test_routing_golden import ROUTING_GOLDEN, corpus, routing_record
    from tiflink_spark.session import get_spark

    spark = get_spark("routing-golden", extra_conf={"spark.sql.shuffle.partitions": "4"})
    golden: dict = {"single": {}, "join": {}}
    with tempfile.TemporaryDirectory() as tmp:
        for i, (fam, q) in enumerate(corpus()):
            golden[fam][q] = routing_record(spark, fam, q, os.path.join(tmp, f"mv{i}"))
    spark.stop()
    with open(ROUTING_GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
    print(f"wrote {ROUTING_GOLDEN}: {len(golden['single'])} single, {len(golden['join'])} join")


if __name__ == "__main__":
    main()
