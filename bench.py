#!/usr/bin/env python
"""Benchmark harness: run the headline queries and print one JSON line.

Usage: python bench.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Failure isolation: one broken query must never zero the whole round's
numbers — each query runs under its own try/except; failures land in
an ``errors`` map while every healthy query still reports its timing.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickbom_spark.queries import REGISTRY  # noqa: E402
from clickbom_spark.session import default_cpus, get_spark  # noqa: E402

# The round-1 headline set, frozen: its total is reported alongside the
# growing headline total so rounds stay directly comparable.
CORE13 = [
    "q10_returned_item_customers", "q18_large_orders", "q1_pricing_summary",
    "q3_shipping_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q9_nation_year_profit", "q_cosine_topk", "q_explode_words",
    "q_minhash_lsh_dedup", "q_theta_join_event_pairs",
    "q_tumbling_window_events", "q_window_rank_orders",
]

# Timed runs per headline query feeding the *_min metrics: one
# single-pass run + (MIN_RUNS - 1) extra passes.
MIN_RUNS = 5


def wait_for_quiet_host(
    threshold: float, max_wait_s: float, need: int = 3, gap_s: float = 5.0
) -> dict:
    """Gate the timed passes on host load (round-7 finding: +18%
    core13_min drift at loadavg ~7 on UNCHANGED code).  Round-11
    finding (VERDICT r11 "What's wrong" #1): a SINGLE instantaneous
    sample can pass on a transient dip — r11 entered at loadavg 5.64
    and passed after 25 s while the run-end loadavg was back at 4.31.
    The gate now requires ``need`` CONSECUTIVE sub-threshold samples
    ``gap_s`` apart (sustained quiet) before the timed passes, or
    gives up after ``max_wait_s``; either way the gate outcome is
    recorded in the output JSON so a cross-round reader can tell a
    contended run from a quiet one."""
    t0 = time.monotonic()
    start = [round(x, 2) for x in os.getloadavg()]
    streak = 1 if start[0] < threshold else 0
    while streak < need:
        if time.monotonic() - t0 >= max_wait_s:
            break
        time.sleep(gap_s)
        streak = streak + 1 if os.getloadavg()[0] < threshold else 0
    return {
        "threshold": threshold,
        "protocol": f"{need} consecutive samples {gap_s:g}s apart",
        "loadavg_at_entry": start,
        "waited_s": round(time.monotonic() - t0, 1),
        "passed": streak >= need,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    # Round-10 lesson (VERDICT r10 "What's wrong" #1): BENCH_r10 was
    # captured at loadavg 2.5–6.4 and read +9.6% on unchanged code —
    # the old gate (threshold 10) passed contended runs that round 7
    # already showed drift +18% at loadavg ~7.  Capture quiet: wait up
    # to 10 min for loadavg < 4 so the committed number is from the
    # regime where cross-round comparison is trustworthy.
    gate = wait_for_quiet_host(
        threshold=float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4")),
        max_wait_s=float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600")),
    )
    spark = get_spark("clickbom-bench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    headline = {n: s for n, s in REGISTRY.items() if s.bench}
    errors: dict[str, str] = {}
    # Warm the JVM (whole-stage codegen JIT) + file listing with one
    # full collect per query, so timings measure steady-state execution.
    for name, spec in headline.items():
        try:
            spec.fn(spark, sf_dir).collect()
        except Exception:
            errors[name] = traceback.format_exc(limit=3)

    timings: dict[str, float] = {}
    for name, spec in sorted(headline.items()):
        if name in errors:
            continue
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf_dir).collect()
        except Exception:
            errors[name] = traceback.format_exc(limit=3)
            continue
        timings[name] = round(time.perf_counter() - t0, 4)

    # Noise control: FOUR extra timed passes over EVERY headline query
    # (round-8 finding: the single-pass total inverted against
    # core13_min because sub-second queries carry ±30% single-pass
    # load jitter).  The per-query MIN across five runs is a stable
    # lower-envelope estimate of the real cost, and `headline_min` is
    # the round-over-round top line; the single-pass total stays for
    # continuity with r1–r8 but is demoted to a secondary field.
    min_each = {n: t for n, t in timings.items()}
    for _ in range(MIN_RUNS - 1):
        for name in sorted(min_each):
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                headline[name].fn(spark, sf_dir).collect()
            except Exception:
                continue
            min_each[name] = min(
                min_each[name], round(time.perf_counter() - t0, 4)
            )

    total = round(sum(timings.values()), 4)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # A core13 member that errored or went missing must NOT silently
    # deflate the frozen metric (it would read as a speedup): report
    # null totals and flip the completeness flag instead.
    core13_complete = all(n in timings for n in CORE13)
    headline_complete = all(n in min_each for n in headline)
    out = {
        # Top line = min-of-5 across the whole headline set (stable
        # against host jitter); the single-pass total remains as
        # `headline_single_pass_total` for r1–r8 continuity.
        "metric": "headline_queries_min_total",
        # same no-silent-deflation rule as core13: a headline
        # member that errored must null the top line (a sum over the
        # survivors would read as a speedup), flagged by
        # headline_complete
        "value": round(sum(min_each.values()), 4)
        if headline_complete else None,
        "unit": "sec",
        "headline_single_pass_total": total if headline_complete else None,
        "headline_complete": headline_complete,
        "queries": timings,
        "queries_min": {n: min_each[n] for n in sorted(min_each)},
        "sf": float(sf) if sf else None,
        # frozen round-1 subset: directly comparable round-over-round
        # even as the headline set grows
        "core13_total": round(
            sum(timings[n] for n in CORE13), 4
        ) if core13_complete else None,
        "core13_min": round(
            sum(min_each[n] for n in CORE13), 4
        ) if core13_complete else None,
        "core13_complete": core13_complete,
        # host load context (1/5/15-min averages), recorded so
        # cross-round comparisons can spot machine-contention inflation
        # without re-running archived trees (the r4→r5 +26% drift was
        # pure load — see docs/BENCH_NOTES.md)
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "load_gate": gate,
        "min_runs": MIN_RUNS,
    }
    if errors:
        out["errors"] = {n: e.strip().splitlines()[-1] for n, e in errors.items()}
        print("\n".join(f"BENCH ERROR {n}:\n{e}" for n, e in errors.items()),
              file=sys.stderr)
    # The JSON must be the ONLY stdout line and must be flushed: the
    # r13 driver artifact lost its numbers because the stdout tail it
    # captured started mid-JSON (PERF_r14 prev_bench_ok=false).  Flush
    # stderr first so interleaved JVM/log writes cannot land after the
    # JSON in a combined capture, then write the one line and flush.
    sys.stderr.flush()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
