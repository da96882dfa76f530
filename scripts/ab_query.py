#!/usr/bin/env python
"""Isolated per-query timing: run the named queries N times each in one
warmed session and print per-rep walls + min/median. Used for keep/revert
A/B decisions on an idle host (guide §1 — decisions on alternating reps,
not single bench runs).

Usage: python scripts/ab_query.py [-n REPS] query [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tts_etl_pipeline_spark.registry import all_queries
from tts_etl_pipeline_spark.session import DEFAULT_SF_DIR, get_spark


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("ab")
    queries = all_queries()
    spark.range(1).count()
    queries["q1_pricing_summary"](spark, sf_dir).collect()  # warm-up, untimed
    for name in args:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).collect()
            walls.append(time.perf_counter() - t0)
        print(
            f"{name:36s} min={min(walls):6.3f} med={statistics.median(walls):6.3f} "
            f"reps={' '.join(f'{w:.3f}' for w in walls)}"
        )


if __name__ == "__main__":
    main()
