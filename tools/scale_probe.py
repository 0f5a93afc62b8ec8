"""Cross-scale scaling probe: measure representative operators at
sf0.001 / sf0.01 / sf0.1 (100x row growth) and report each one's
empirical scaling exponent alpha, where wall time ~ rows^alpha between
the two largest scales.

alpha <= ~1 means the operator scales linearly or better over the
measured decade; alpha near 0 means the fixed per-query overhead
(session dispatch, plan compile, task launch — ~0.2 s on this box)
still dominates at sf0.1, i.e. the data is not yet the bottleneck.
Exponents are the "would this survive 100x?" evidence PERF.md's
per-query timings alone can't give: a shape that is secretly
quadratic shows alpha ~ 2 by sf0.1.

Usage: python tools/scale_probe.py [query ...]   (default: the
representative set below). Prints one JSON line per query plus a
markdown table; SCALING.md is written by the session, not this tool.
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from guidewire_spark.plans.session import get_spark
from guidewire_spark.registry import all_queries

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]

# One per operator shape: scan+agg, dim join, window, dedup shuffle,
# LSH pipeline, corpus tokenize+window, broadcast similarity, basket
# self-join, pandas-group recursion, HOF binning, sequence regex.
DEFAULT = [
    "agg_pricing_summary",
    "join_inner_fact_dim",
    "window_topk_per_group",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "text_tfidf_topk",
    "similarity_topk_bruteforce",
    "mining_association_rules",
    "ts_holt_forecast_exact",
    "dq_psi_drift",
    "sql_row_pattern_match",
    "vocab_bpe_encode_corpus",
]

RUNS = 3  # min-of-N absorbs codegen + GC noise

# Hard per-round budgets at sf0.1 (WARM shape — min-of-RUNS with the
# artifact cache populated by run 1), r10 verdict item 6: the BPE
# apply stage is the suite's steepest warm alpha (0.44); a regression
# in its per-word encode must fail by number, not by plan re-reading.
# Budgeted on the r10 series (0.64 s warm) with ~4x headroom for
# ambient machine noise.
BUDGETS_SF01 = {
    "vocab_bpe_encode_corpus": 2.5,
}


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    specs = all_queries()
    spark = get_spark(app_name="scale-probe")
    try:
        from guidewire_spark.operators.twophase import clear_two_phase_pins
    except ImportError:  # pragma: no cover
        clear_two_phase_pins = lambda: None  # noqa: E731

    rows = []
    for name in names:
        spec = specs[name]
        times = {}
        for label, sf_dir in SF_DIRS:
            best = math.inf
            for _ in range(RUNS):
                clear_two_phase_pins()
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).collect()
                best = min(best, time.perf_counter() - t0)
            times[label] = round(best, 3)
        alpha = round(
            math.log(times["0.1"] / times["0.01"]) / math.log(10), 2
        )
        rec = {"query": name, "sec": times, "alpha_01_to_1": alpha}
        rows.append(rec)
        print(json.dumps(rec))

    print("\n| query | sf0.001 s | sf0.01 s | sf0.1 s | alpha (0.01->0.1) |")
    print("|---|---|---|---|---|")
    for r in rows:
        t = r["sec"]
        print(
            f"| {r['query']} | {t['0.001']} | {t['0.01']} | {t['0.1']} "
            f"| {r['alpha_01_to_1']} |"
        )

    over = [
        (r["query"], r["sec"]["0.1"], BUDGETS_SF01[r["query"]])
        for r in rows
        if r["query"] in BUDGETS_SF01
        and r["sec"]["0.1"] > BUDGETS_SF01[r["query"]]
    ]
    if over:
        for name, got, budget in over:
            print(f"FAIL {name}: {got} s at sf0.1 > budget {budget} s")
        raise SystemExit(1)
    for name, budget in BUDGETS_SF01.items():
        got = next(
            (r["sec"]["0.1"] for r in rows if r["query"] == name), None
        )
        if got is not None:
            print(f"BUDGET OK {name}: {got} s <= {budget} s at sf0.1")


if __name__ == "__main__":
    main()
