"""Regenerate tests/fixtures/matcher_golden.json — the pinned matcher
shapes for the sqlast edge batteries + fixed-seed fuzz corpora, in three
sections: ``single`` (single-table matchers), ``join`` (join family) and
``subquery`` (semi/anti join, correlated IN/EXISTS, scalar subqueries,
full outer join).

Run ONLY when a matcher's envelope is widened on purpose; review the
fixture diff like code (every changed line is a behavior change the
golden tests would otherwise catch as drift).

Usage: python tools/regen_matcher_golden.py
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import tests.test_planner_fuzz as fz
    from tests.test_sqlast import (
        _EDGE_QUERIES,
        _JOIN_EDGES,
        _fuzz_corpus,
        _golden_join_shapes,
        _golden_subquery_shapes,
        _single_shapes,
        _subquery_corpus,
    )

    golden = {"single": {}, "join": {}, "subquery": {}}
    for q in list(_EDGE_QUERIES) + _fuzz_corpus():
        golden["single"][q] = [repr(s) for s in _single_shapes(q)]
    two = []
    for seed in (5, 23, 41):
        rng = random.Random(seed)
        for _ in range(40):
            two.append(fz._gen_two_table_query(rng, "f", "d"))
    for q in list(_JOIN_EDGES) + two:
        golden["join"][q] = [repr(s) for s in _golden_join_shapes(q)]
    for q in _subquery_corpus():
        golden["subquery"][q] = [repr(s) for s in _golden_subquery_shapes(q)]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "matcher_golden.json",
    )
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
    print(
        f"wrote {path}: {len(golden['single'])} single, "
        f"{len(golden['join'])} join, {len(golden['subquery'])} subquery"
    )


if __name__ == "__main__":
    main()
