#!/usr/bin/env python
"""Phase-level wall breakdown of q_lake_stream_serving: create,
upsert x2, stream (source+matview sink), projection, serve — so the
optimization loop knows which phase owns the time.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/profile_lake_serving.py [N]
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from clickbom_spark.queries import load  # noqa: E402
from clickbom_spark.session import default_cpus, get_spark  # noqa: E402


def run_once(spark, sf_dir, tick):
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        add_projection,
        additive_matview_sink,
        route_aggregate,
    )
    from clickbom_spark.queries import scratch_path
    from clickbom_spark.streaming.lake_source import LakeStreamDataSource

    marks = {}
    t = time.perf_counter()

    def mark(name):
        nonlocal t
        now = time.perf_counter()
        marks[name] = marks.get(name, 0.0) + (now - t)
        t = now

    (events,) = load(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "event_type",
        (F.col("user_id") % 4).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tag = uuid.uuid4().hex[:8]
    src_path = scratch_path(f"psrv_src_{tag}")
    mv_path = scratch_path(f"psrv_mv_{tag}")
    mark("setup")
    src = VersionedLake.create(
        spark, src_path, base.where(F.col("event_id") % 3 == 0), n_files=2
    )
    mark("create")
    src.upsert(base.where(F.col("event_id") % 3 == 1), ["event_id"], keys_unique=True)
    mark("upsert1")
    src.upsert(base.where(F.col("event_id") % 3 == 2), ["event_id"], keys_unique=True)
    mark("upsert2")
    mv = VersionedLake.create(
        spark,
        mv_path,
        base.select(
            "event_type", "bucket",
            F.lit(0).cast("long").alias("n"), F.lit(0).cast("long").alias("s"),
        ).where(F.lit(False)),
        n_files=1,
    )
    mark("mv_create")

    def partial(df):
        return df.groupBy("event_type", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )

    spark.dataSource.register(LakeStreamDataSource)
    reader = (
        spark.readStream.format("lake_stream")
        .option("path", src_path)
        .load()
    )
    mark("stream_plan")
    q = (
        reader.writeStream.foreachBatch(
            additive_matview_sink(mv, ["event_type", "bucket"], partial)
        )
        .option("checkpointLocation", scratch_path(f"psrv_ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    mark("stream_start")
    q.awaitTermination(300)
    mark("stream_await")
    for p in q.recentProgress:
        print("   batch", p["batchId"], p["durationMs"],
              "rows", p.get("numInputRows"))
    add_projection(mv, "by_type", ["event_type", "bucket"], ["event_type"],
                   ["n", "s"])
    mark("projection")
    served, route = route_aggregate(mv, ["event_type"], ["n", "s"])
    served.select(
        "event_type",
        F.col("sum_n").cast("long").alias("n"),
        F.col("sum_s").cast("long").alias("cents"),
    ).orderBy("event_type").collect()
    mark("serve")
    for p in (src_path, mv_path, scratch_path(f"psrv_ck_{tag}")):
        shutil.rmtree(p, ignore_errors=True)
    return marks


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = get_spark("profile-lake", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    run_once(spark, sf_dir, 0)  # warm
    for i in range(n):
        marks = run_once(spark, sf_dir, i + 1)
        total = sum(marks.values())
        line = "  ".join(f"{k}={v:.2f}" for k, v in marks.items())
        print(f"run{i + 1}: total={total:.2f}  {line}")


if __name__ == "__main__":
    main()
