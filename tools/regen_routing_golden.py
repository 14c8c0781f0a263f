"""Regenerate tests/fixtures/routing_golden.json — the route MVApp picks
for every query of the matcher golden corpus, with the store layout that
route opens (``stores``: paths relative to the target; ``shared``: whether
a cascade's outer level reads the inner target as its alias mirror).

Run ONLY when a routing or store-layout change is intended; review the
fixture diff like code (every changed entry is a query that now takes
another route or keeps its state in other stores). The tool prints each
entry that differs from the committed fixture and which of its fields
changed, then a count per field.

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
    old: dict = {}
    if os.path.exists(ROUTING_GOLDEN):
        with open(ROUTING_GOLDEN) as f:
            old = json.load(f)
    report_drift(old, golden)
    with open(ROUTING_GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
    print(f"wrote {ROUTING_GOLDEN}: {len(golden['single'])} single, {len(golden['join'])} join")


def report_drift(old: dict, new: dict) -> None:
    """Print every entry of ``new`` that differs from ``old``, with the
    fields that changed (old -> new), then how many entries changed
    each field."""
    counts: dict[str, int] = {}
    for fam in sorted(set(old) | set(new)):
        before, after = old.get(fam, {}), new.get(fam, {})
        for q in sorted(set(before) | set(after)):
            a, b = before.get(q), after.get(q)
            if a == b:
                continue
            if a is None or b is None:
                fields = ["(entry added)" if a is None else "(entry removed)"]
            else:
                fields = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
            print(f"[{fam}] {q}")
            for k in fields:
                counts[k] = counts.get(k, 0) + 1
                if a is not None and b is not None:
                    print(f"    {k}: {a.get(k)!r} -> {b.get(k)!r}")
    if not counts:
        print("no entry differs from the committed fixture")
    for k, n in sorted(counts.items()):
        print(f"{n} entries changed {k}")


if __name__ == "__main__":
    main()
