"""Measured scale audit: time queries at sf0.01 and sf0.1 and print
the docs/SCALE.md table rows.

Protocol (matches the round-9..12 audits in docs/SCALE.md): one warm
pass per query at BOTH scales first (JVM/codegen warm-up), then
min-of-3 timed passes per SF on a `local[8]` session.  Run on a quiet
host — the point is the sf0.01→sf0.1 growth RATIO under 10× data, so
contention noise on either side corrupts the story.

Usage:
    python scripts/scale_audit.py q_hapax_share ...     # registry query names
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1:]
    from clickbom_spark.queries import REGISTRY

    missing = [n for n in names if n not in REGISTRY]
    if missing or not names:
        print(f"unknown or no queries: {missing}")
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("scale-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # warm both scales first so codegen/broadcast caches are hot
        for name in names:
            for sf in SFS:
                REGISTRY[name].fn(spark, sf).collect()
        rows = []
        for name in names:
            mins = []
            for sf in SFS:
                best = float("inf")
                for _ in range(3):
                    t0 = time.monotonic()
                    REGISTRY[name].fn(spark, sf).collect()
                    best = min(best, time.monotonic() - t0)
                mins.append(best)
            ratio = mins[1] / mins[0] if mins[0] else float("nan")
            rows.append((name, mins[0], mins[1], ratio))
            print(
                f"| {name} | {mins[0]:.3f} | {mins[1]:.3f} "
                f"| {ratio:.2f} |",
                flush=True,
            )
        worst = max(rows, key=lambda r: r[3])
        print(f"\nsteepest: {worst[0]} at {worst[3]:.2f}x under 10x data")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
