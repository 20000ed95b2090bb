"""The bench evidence channel: the driver records only a bounded stdout
tail, so the FINAL JSON line must stay under ~1.9 KB with every per-query
median present (r4's record went ``parsed: null`` when dispersion bands
outgrew the window). No Spark needed — these pin the line-budget math and
the overflow-shedding order in bench.py.
"""

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _final_line(values: dict) -> str:
    """Rebuild the final-line dict exactly as bench.main() emits it, with
    worst-case-width scalar fields."""
    final = {
        "metric": "e2e_parse_enrich_route_aggregate",
        "value": 999.999,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in values.items()},
        "sf": 0.1,
        "turns": 100000,
        "turns_per_sec": 99999.9,
        "cores": 32,
        "scaling": {
            "input_turns": 40000000,
            "cores_low": 2,
            "sec_low": 999.99,
            "tps_low": 9999999,
            "cores_high": 8,
            "sec_high": 999.99,
            "tps_high": 9999999,
            "efficiency": 0.885,
            "eff_median": 0.885,
            "eff_best": 0.929,
            "rounds_used": 5,
            "rounds_total": 5,
            "load1_excl": 12.0,
            "detail": "BENCH_DETAIL.json",
        },
    }
    return json.dumps(final, separators=(",", ":"))


def test_full_registry_fits_tail_capture():
    # worst case: every median is a 5-char 2-decimal value ("21.31")
    line = _final_line({n: 21.31 for n in bench.BENCH_QUERIES})
    assert len(line) <= 1900, (
        f"final bench line is {len(line)} bytes for {len(bench.BENCH_QUERIES)} "
        "queries — would trip the trim guard; shorten fields or move more "
        "payload to BENCH_DETAIL.json"
    )


def test_bench_queries_are_registered():
    # a renamed query would otherwise surface only as a KeyError mid-bench
    from __spark_entry__ import REGISTRY

    registered = {name for name, _, _ in REGISTRY}
    assert [n for n in bench.BENCH_QUERIES if n not in registered] == []


def test_overflow_sheds_cheapest_first():
    # mirror of the guard loop in bench.main(): when over budget, the
    # smallest medians go first so expensive (informative) entries and the
    # newest round's additions survive
    queries = {f"q{i:03d}": float(i) for i in range(1, 200)}
    line = _final_line(queries)
    assert len(line) > 1900  # the scenario the guard exists for
    while len(line) > 1900 and queries:
        drop = min(queries, key=queries.get)
        del queries[drop]
        line = _final_line(queries)
    assert len(line) <= 1900
    kept = sorted(queries.values())
    # everything kept is more expensive than everything shed
    assert kept[0] > max(set(range(1, 200)) - set(int(v) for v in kept))
