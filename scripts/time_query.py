#!/usr/bin/env python
"""Time individual registry queries: warm-up collect + N timed runs,
report each run and the min.  Mirrors bench.py methodology (collect on
the same session) for quick optimization iterations.

Usage: python scripts/time_query.py <query> [<query> ...] [--runs N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickbom_spark.queries import REGISTRY  # noqa: E402
from clickbom_spark.session import default_cpus, get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 4
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i:i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = get_spark("time-query", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for name in args:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir).collect()  # warm-up
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            times.append(round(time.perf_counter() - t0, 4))
        print(f"{name}: min={min(times)} runs={times}")


if __name__ == "__main__":
    main()
