"""Source-format round-trip queries: parquet → CSV/JSON-lines → read
back with explicit schema → aggregate.

The oracle aggregates the ORIGINAL parquet table, so a green row
proves the text serialization is lossless for every column type that
reaches the aggregate (long, string, double, timestamp) — doubles via
shortest-round-trip text, timestamps at microsecond precision (see
io/formats.py).  This is the engine's CSV/JSON connector contract, the
Spark-side analog of the reference's JSON-in / TSV-out surface
(entrypoint.sh jq ingestion and @tsv insert paths).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clickbom_spark.io import formats as FMT
from clickbom_spark.queries import dec, epoch_us, load, query, scratch_path


@query(
    "q_csv_roundtrip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    description="CSV connector round-trip: orders → RFC-4180-quoted "
    "CSV (explicit schema, no inference) → read → aggregate; equals "
    "the same aggregate on the original parquet, proving lossless "
    "text serialization of longs, doubles, strings and timestamps.",
)
def q_csv_roundtrip(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    path = scratch_path("orders_csv")
    FMT.write_csv(orders, path, n_files=4)
    back = FMT.read_csv(spark, path, orders.schema)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_json_roundtrip",
    # max(epoch_us(ts)) in the output pins MICROSECOND timestamp
    # fidelity through the text format, not just the numeric columns.
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(epoch_us(ts)) AS max_ts_us
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="JSON-lines connector round-trip: events → JSONL "
    "(ISO-8601 microsecond timestamps, explicit schema on read) → "
    "aggregate; equals the same aggregate on the original parquet.",
)
def q_json_roundtrip(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    path = scratch_path("events_jsonl")
    FMT.write_jsonl(events, path, n_files=4)
    back = FMT.read_jsonl(spark, path, events.schema)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
            F.max(epoch_us("ts")).alias("max_ts_us"),
        )
        .orderBy("event_type")
    )


@query(
    "q_orc_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(epoch_us(ts)) AS max_ts_us,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="ORC connector round-trip: events → ORC stripes → read "
    "back (self-describing schema, TIMESTAMP_NTZ at µs fidelity) → "
    "aggregate; equals the same aggregate on the original parquet — the "
    "warehouse-interchange binary format next to the CSV/JSONL text "
    "connectors.",
)
def q_orc_roundtrip(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    path = scratch_path("events_orc")
    FMT.write_orc(events, path, n_files=4)
    back = FMT.read_orc(spark, path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
            F.max(epoch_us("ts")).alias("max_ts_us"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "q_schema_evolution",
    # Two parquet "ingest generations" with different schemas — v2
    # adds a channel column — read as ONE table via mergeSchema;
    # missing columns surface as NULL and defaults are applied in the
    # plan, not by rewriting v1 files.  The oracle replays the same
    # union semantics.
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS channel
  FROM orders WHERE o_orderkey % 2 = 0
), v2 AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS channel
  FROM orders WHERE o_orderkey % 2 = 1
), unioned AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT COALESCE(channel, 'unknown') AS channel,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM unioned
GROUP BY 1
ORDER BY 1
""",
    description="Schema evolution across ingest generations: v1 files "
    "lack the channel column v2 adds; spark.read with mergeSchema "
    "unions the generations into one logical table, old rows surface "
    "NULL → default 'unknown' in the plan — no backfill rewrite of "
    "history, the only sane path at 100 TB.",
)
def q_schema_evolution(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    base = scratch_path("orders_evolving")
    v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("web"))
        .otherwise(F.lit("store"))
        .alias("channel"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("channel"), F.lit("unknown")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy("channel")
    )


@query(
    "q_tsv_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(epoch_us(ts)) AS max_ts_us
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="TSV (ClickHouse TabSeparated) connector round-trip: "
    "events → tab-separated text with in-field escaping (\\t \\n \\r "
    "\\\\, \\N nulls — the reference's jq @tsv / FORMAT TSV wire "
    "format) → read with explicit schema → aggregate; escaping keeps "
    "records line-splittable at any file size, unlike multiLine CSV.",
)
def q_tsv_roundtrip(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    path = scratch_path("events_tsv")
    FMT.write_tsv(events, path, n_files=4)
    back = FMT.read_tsv(spark, path, events.schema)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
            F.max(epoch_us("ts")).alias("max_ts_us"),
        )
        .orderBy("event_type")
    )
