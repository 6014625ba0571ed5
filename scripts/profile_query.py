#!/usr/bin/env python
"""Per-job/stage breakdown for one registry query via the Spark UI
REST API (guide §7.1 without a browser): run the query once warm, once
profiled, then dump every job of the profiled run with its stages'
task time, shuffle read/write bytes, and record counts.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/profile_query.py <query> [...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickbom_spark.queries import REGISTRY  # noqa: E402
from clickbom_spark.session import default_cpus, get_spark  # noqa: E402


def api(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = get_spark(
        "profile-query",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    for name in names:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir).collect()  # warm
        jobs_before = {j["jobId"] for j in api(base, "/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        time.sleep(0.3)
        jobs = [j for j in api(base, "/jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        for j in jobs:
            sub = j.get("submissionTime", "")[-12:-3]
            dur = ""
            if j.get("submissionTime") and j.get("completionTime"):
                fmt = "%Y-%m-%dT%H:%M:%S.%f"
                try:
                    a = time.mktime(time.strptime(j["submissionTime"][:-3], fmt))
                    b = time.mktime(time.strptime(j["completionTime"][:-3], fmt))
                    # mktime drops sub-second; recover from the string
                    a += float("0." + j["submissionTime"][-6:-3])
                    b += float("0." + j["completionTime"][-6:-3])
                    dur = f"{b - a:6.2f}s"
                except ValueError:
                    dur = "?"
            print(f"  job {j['jobId']:>4} {dur} sub={sub} "
                  f"stages={len(j.get('stageIds', []))} "
                  f"tasks={j.get('numCompletedTasks', 0)}")
            for sid in sorted(j.get("stageIds", [])):
                try:
                    sts = api(base, f"/stages/{sid}")
                except Exception:
                    continue
                for st in sts:
                    if st.get("status") not in ("COMPLETE", "FAILED"):
                        continue
                    print(
                        f"    stage {sid:>4} tasks={st['numCompleteTasks']:>4} "
                        f"exec={st['executorRunTime'] / 1000:7.2f}s "
                        f"cpu={st.get('executorCpuTime', 0) / 1e9:7.2f}s "
                        f"in={st.get('inputBytes', 0) >> 20:>5}M "
                        f"sr={st.get('shuffleReadBytes', 0) >> 20:>5}M "
                        f"sw={st.get('shuffleWriteBytes', 0) >> 20:>5}M  "
                        f"{st.get('name', '')[:70]}"
                    )


if __name__ == "__main__":
    main()
