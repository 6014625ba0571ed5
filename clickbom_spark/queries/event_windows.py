"""Event-time window queries over the events table.

These run the SAME transformations as the streaming package
(clickbom_spark/streaming/windows.py) in batch mode, which makes the
window arithmetic DuckDB-oracle-checkable; tests/test_streaming.py then
proves stream-mode output (watermark + availableNow) equals the batch
output row-for-row.

Oracle notes:
- Spark tumbling/sliding windows are epoch-aligned; the DuckDB side
  reproduces them with floor(epoch/size)*size arithmetic (make_timestamp
  keeps plain-TIMESTAMP typing, matching Spark's UTC session).
- Spark session windows are [ts, ts+gap) intervals merged while
  overlapping, i.e. a NEW session starts when ts - prev_ts >= gap;
  the oracle is the classic gaps-and-islands formulation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.ext.asof import asof_join
from clickbom_spark.queries import epoch_us, load, query
from clickbom_spark.streaming.windows import (
    session_stats,
    sliding_counts,
    tumbling_counts,
)

_BUCKET10 = "make_timestamp(CAST(floor(epoch(ts)/600)*600*1000000 AS BIGINT))"
_BUCKET5 = "make_timestamp(CAST(floor(epoch(ts)/300)*300*1000000 AS BIGINT))"


@query(
    "q_tumbling_window_events",
    oracle=f"""
SELECT {_BUCKET10} AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    description="Tumbling 10-minute event-time windows per event_type — "
    "the streaming aggregation's batch twin.",
    bench=True,
)
def q_tumbling_window_events(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    return tumbling_counts(events, "10 minutes").orderBy("window_start", "event_type")


@query(
    "q_sliding_window_events",
    oracle=f"""
WITH posted AS (
  SELECT value,
         UNNEST([{_BUCKET5}, {_BUCKET5} - INTERVAL 5 MINUTE]) AS ws
  FROM events
)
SELECT ws AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM posted
GROUP BY ws
ORDER BY window_start
""",
    description="Sliding 10-minute windows hopping every 5 — each event "
    "posts to exactly size/slide windows.",
)
def q_sliding_window_events(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    return sliding_counts(events, "10 minutes", "5 minutes").orderBy("window_start")


@query(
    "q_asof_join_events",
    oracle="""
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
views AS (SELECT * FROM events WHERE event_type = 'view'),
matched AS (
  SELECT c.user_id, c.ts, c.value,
         v.ts AS ts_r, v.value AS value_r
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND c.ts >= v.ts
)
SELECT COUNT(*) AS n_clicks,
       COUNT(ts_r) AS n_matched,
       CAST(SUM(epoch_us(ts) - epoch_us(ts_r)) AS BIGINT) AS total_lag_us,
       CAST(SUM(CAST(value_r AS DECIMAL(18,2))) AS DOUBLE) AS total_view_value
FROM matched
""",
    description="As-of (point-in-time) join: each click matched to the "
    "user's latest prior-or-equal view — union+window plan (one shuffle, "
    "no candidate blow-up) vs DuckDB's native ASOF JOIN.",
)
def q_asof_join_events(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click")
    views = events.where(F.col("event_type") == "view")
    m = asof_join(clicks, views, by=["user_id"], right_payload=["value"])
    return m.agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("ts_r").alias("n_matched"),
        F.sum(epoch_us("ts") - epoch_us("ts_r")).alias("total_lag_us"),
        F.sum(F.col("value_r").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_view_value"),
    )


@query(
    "q_funnel_conversion",
    oracle="""
WITH views AS (
  SELECT event_id AS vid, user_id, ts AS vts FROM events WHERE event_type = 'view'
), first_click AS (
  SELECT v.vid, v.user_id, v.vts, MIN(c.ts) AS cts
  FROM views v JOIN events c
    ON c.user_id = v.user_id AND c.event_type = 'click'
   AND c.ts > v.vts AND c.ts <= v.vts + INTERVAL 10 MINUTE
  GROUP BY v.vid, v.user_id, v.vts
), full_funnel AS (
  SELECT f.vid, MIN(p.ts) AS pts, f.cts, f.vts
  FROM first_click f JOIN events p
    ON p.user_id = f.user_id AND p.event_type = 'purchase'
   AND p.ts > f.cts AND p.ts <= f.cts + INTERVAL 30 MINUTE
  GROUP BY f.vid, f.cts, f.vts
)
SELECT (SELECT COUNT(*) FROM views) AS n_views,
       (SELECT COUNT(*) FROM first_click) AS n_view_click,
       COUNT(*) AS n_full_funnel,
       CAST(SUM(epoch_us(pts) - epoch_us(vts)) AS BIGINT) AS total_funnel_us
FROM full_funnel
""",
    description="Funnel analysis: view -> click (<=10 min) -> purchase "
    "(<=30 min after click), first-match semantics via range join + "
    "min-aggregate at each stage.",
)
def q_funnel_conversion(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("vts"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    first_click = (
        views.join(
            clicks,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("c_ts") > F.col("vts"))
            & (F.col("c_ts") <= F.col("vts") + F.expr("INTERVAL 10 MINUTE")),
        )
        .groupBy("vid", "v_user", "vts")
        .agg(F.min("c_ts").alias("cts"))
    )
    full = (
        first_click.join(
            purchases,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_ts") > F.col("cts"))
            & (F.col("p_ts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTE")),
        )
        .groupBy("vid", "vts", "cts")
        .agg(F.min("p_ts").alias("pts"))
    )
    # Stage counts as in-plan broadcast scalars (1-row aggregates), not
    # driver-side .count() calls — one job, no synchronous pre-passes.
    n_views = views.agg(F.count(F.lit(1)).alias("n_views"))
    n_view_click = first_click.agg(F.count(F.lit(1)).alias("n_view_click"))
    return (
        full.agg(
            F.count(F.lit(1)).alias("n_full_funnel"),
            F.sum(epoch_us("pts") - epoch_us("vts")).alias(
                "total_funnel_us"
            ),
        )
        .join(F.broadcast(n_views))
        .join(F.broadcast(n_view_click))
        .select("n_views", "n_view_click", "n_full_funnel", "total_funnel_us")
    )


@query(
    "q_session_window_events",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    description="Per-user session windows (30-minute inactivity gap) — "
    "Spark session_window vs the gaps-and-islands SQL oracle.",
)
def q_session_window_events(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    return session_stats(events, "30 minutes").orderBy("user_id", "session_start")


@query(
    "q_cohort_retention",
    oracle="""
WITH f AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day
  FROM events
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort_day, a.active_day) // 7 AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT a.user_id) AS active_users
FROM a JOIN f ON f.user_id = a.user_id
GROUP BY f.cohort_day, week_offset
ORDER BY cohort_day, week_offset
""",
    description="Cohort retention triangle: users grouped by first-seen "
    "day, distinct-active counts per (cohort, week offset).  Both the "
    "first-seen aggregate and the distinct-activity set shuffle on "
    "user_id, so the join between them is co-partitioned; the final "
    "rollup is tiny (days x offsets).",
)
def q_cohort_retention(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    cohort = events.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = events.select(
        "user_id", F.col("ts").cast("date").alias("active_day")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(F.datediff("active_day", "cohort_day") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "week_offset")
    )


@query(
    "q_keep_latest_event",
    oracle="""
SELECT user_id, event_type, event_id, ts, value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, event_type
""",
    description="CDC compaction primitive: latest record per "
    "(user_id, event_type) key via a descending row_number — the "
    "changelog-to-snapshot op; one hash shuffle on the key, "
    "deterministic tie-break on event_id.",
)
def q_keep_latest_event(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    )


@query(
    "q_cdc_stream_compaction",
    # The STREAMING twin of q_keep_latest_event, driver-checked: the
    # stateful keep-latest operator (applyInPandasWithState, keyed
    # state = one (ts, event_id, value) triple per key) replays the
    # events changelog as a Structured Streaming source and must
    # converge to the identical compacted snapshot the batch window
    # produces — which is exactly what the SQL oracle computes.
    oracle="""
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, event_type
""",
    description="Streaming CDC compaction: keep-latest-per-key via "
    "keyed state (applyInPandasWithState) over an availableNow replay "
    "of the changelog; equals the batch window compaction.",
)
def q_cdc_stream_compaction(spark, sf_dir):
    from pyspark.sql import Window

    from clickbom_spark.streaming import read_events_stream
    from clickbom_spark.streaming.stateful import keep_latest_per_key

    latest = keep_latest_per_key(read_events_stream(spark, sf_dir))
    sink = (
        latest.writeStream.format("memory")
        .queryName("m_cdc_compact")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    sink.awaitTermination(120)
    # update-mode sink appends one row per (key, micro-batch it changed
    # in); keep each key's final state so the result is slicing-proof.
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        spark.table("m_cdc_compact")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts_us", "value")
        .orderBy("user_id", "event_type")
    )


@query(
    "q_dedup_stream_watermark",
    # Streaming dedup emits ONE surviving row per key, but WHICH row
    # survives depends on arrival order — so the deterministic,
    # oracle-checkable contract is the surviving KEY SET, which must
    # equal batch DISTINCT exactly (state eviction at the watermark
    # horizon never drops a first-seen key within the replay).
    oracle="""
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
""",
    description="Streaming dedup (dropDuplicatesWithinWatermark) twin "
    "of the exact-dedup op: watermark-bounded keyed state over an "
    "availableNow replay; surviving key set equals batch DISTINCT.",
)
def q_dedup_stream_watermark(spark, sf_dir):
    from clickbom_spark.streaming import (
        dedup_within_watermark,
        read_events_stream,
        run_to_memory_sink,
    )

    deduped = dedup_within_watermark(
        read_events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    run_to_memory_sink(deduped, "m_dedup_stream")
    return (
        spark.table("m_dedup_stream")
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")
    )


@query(
    "q_stream_stream_attribution",
    # Stream-stream interval join executed AS A STREAM (availableNow
    # replay): both sides carry watermarks so the engine can expire
    # buffered state; the emitted (view, click) pair set equals the
    # batch interval join exactly (the single-file replay is in-order,
    # so the watermark never drops a qualifying pair).  The output
    # aggregates integer ids only — timezone-independent by
    # construction.
    oracle="""
SELECT COUNT(*) AS n_pairs,
       COUNT(DISTINCT v.user_id) AS n_users,
       CAST(SUM(v.event_id) AS BIGINT) AS sum_view_ids,
       CAST(SUM(c.event_id) AS BIGINT) AS sum_click_ids
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
  ON c.user_id = v.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
""",
    description="Stream-stream event-time interval join (view→click "
    "attribution pairs): both live streams buffered in watermark-"
    "bounded keyed state, time-range residual keeps per-key matching "
    "O(events-in-window) and lets state expire — the §2.10 operator "
    "beyond stream-static enrichment; pair set over an availableNow "
    "replay equals the batch interval join.",
)
def q_stream_stream_attribution(spark, sf_dir):
    from clickbom_spark.streaming import read_events_stream
    from clickbom_spark.streaming.joins import (
        attribution_join,
        split_views_clicks,
    )
    from clickbom_spark.streaming.pipeline import run_to_memory_sink

    views, clicks = split_views_clicks(read_events_stream(spark, sf_dir))
    pairs = attribution_join(views, clicks)
    run_to_memory_sink(pairs, "m_stream_attrib")
    return spark.table("m_stream_attrib").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("view_id").alias("sum_view_ids"),
        F.sum("click_id").alias("sum_click_ids"),
    )


@query(
    "q_stream_static_enrich",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    description="Stream-static enrichment join: the events stream joins "
    "the static customer dimension per micro-batch (no stream-side "
    "state, the standard enrich-then-aggregate topology; customer grows "
    "with SF so the join is AQE/planner-sized, not hard-broadcast); "
    "complete-mode aggregate over an availableNow replay equals the "
    "batch join twin.",
)
def q_stream_static_enrich(spark, sf_dir):
    from clickbom_spark.queries import dec
    from clickbom_spark.streaming import read_events_stream

    customer = load(spark, sf_dir, "customer")[0].select(
        "c_custkey", "c_mktsegment"
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.join(
        customer, stream["user_id"] == customer["c_custkey"]
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )
    sink = (
        agg.writeStream.format("memory")
        .queryName("m_stream_enrich")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sink.awaitTermination(120)
    return spark.table("m_stream_enrich").orderBy("c_mktsegment")


@query(
    "q_session_funnel",
    # Funnel scoped to sessions: conversion only counts when the click
    # follows the session's FIRST view inside the SAME 30-minute-gap
    # session — sessionization (gaps-and-islands) composed with funnel
    # logic, all window functions, no self-join.
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), with_first_view AS (
  SELECT user_id, session_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id, session_id) AS first_view_ts
  FROM sessioned
), per_session AS (
  SELECT user_id, session_id,
         MAX(CASE WHEN first_view_ts IS NOT NULL THEN 1 ELSE 0 END)
           AS has_view,
         MAX(CASE WHEN event_type = 'click' AND first_view_ts IS NOT NULL
                   AND ts > first_view_ts THEN 1 ELSE 0 END) AS converted
  FROM with_first_view
  GROUP BY user_id, session_id
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(has_view) AS BIGINT) AS n_with_view,
       CAST(SUM(converted) AS BIGINT) AS n_converted
FROM per_session
""",
    description="Session-scoped funnel: 30-minute-gap sessionization "
    "(gaps-and-islands) composed with view→click conversion INSIDE the "
    "same session — two window passes over one shuffle key "
    "(user_id), no self-join, the composition a product-analytics "
    "stack runs constantly.",
)
def q_session_funnel(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") >= F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    sessioned = events.select(
        "user_id", "ts", "event_type",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id")
    with_fv = sessioned.withColumn(
        "first_view_ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws),
    )
    per_session = with_fv.groupBy("user_id", "session_id").agg(
        F.max(
            F.when(F.col("first_view_ts").isNotNull(), 1).otherwise(0)
        ).alias("has_view"),
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & F.col("first_view_ts").isNotNull()
                & (F.col("ts") > F.col("first_view_ts")),
                1,
            ).otherwise(0)
        ).alias("converted"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_view").cast("long").alias("n_with_view"),
        F.sum("converted").cast("long").alias("n_converted"),
    )


@query(
    "q_event_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
""",
    description="Behavioral transition matrix (user-journey Markov "
    "counts): LEAD over each user's time-ordered event sequence pairs "
    "every event with its successor — one window pass over the user_id "
    "shuffle, no self-join; the input to journey mining and "
    "next-action models.",
)
def q_event_transitions(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


@query(
    "q_conversion_latency",
    # Time-to-convert distribution: each view's FIRST subsequent click
    # within 10 minutes (the funnel edge), then exact discrete
    # percentiles of the lag — integers, so percentile_disc is
    # bit-stable across engines.
    oracle="""
WITH views AS (
  SELECT event_id AS vid, user_id, ts AS vts FROM events
  WHERE event_type = 'view'
), first_click AS (
  SELECT v.vid, MIN(c.ts) AS cts, v.vts
  FROM views v JOIN events c
    ON c.user_id = v.user_id AND c.event_type = 'click'
   AND c.ts > v.vts AND c.ts <= v.vts + INTERVAL 10 MINUTE
  GROUP BY v.vid, v.vts
), lags AS (
  SELECT epoch_us(cts) - epoch_us(vts) AS lag_us FROM first_click
)
SELECT COUNT(*) AS n_conversions,
       CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
       CAST(quantile_disc(lag_us, 0.5) AS BIGINT) AS p50_lag_us,
       CAST(quantile_disc(lag_us, 0.9) AS BIGINT) AS p90_lag_us,
       CAST(MAX(lag_us) AS BIGINT) AS max_lag_us
FROM lags
""",
    description="Conversion-latency distribution: view→first-click lag "
    "within the 10-minute funnel edge, summarized with EXACT discrete "
    "percentiles over integer microseconds (bit-stable in any engine) "
    "— the SLA-style latency readout product analytics runs on every "
    "funnel.",
)
def q_conversion_latency(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("vts"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    first_click = (
        views.join(
            clicks,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("c_ts") > F.col("vts"))
            & (F.col("c_ts") <= F.col("vts") + F.expr("INTERVAL 10 MINUTE")),
        )
        .groupBy("vid", "vts")
        .agg(F.min("c_ts").alias("cts"))
    )
    lags = first_click.select(
        (epoch_us("cts") - epoch_us("vts")).alias("lag_us")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.min("lag_us").cast("long").alias("min_lag_us"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
        .cast("long")
        .alias("p50_lag_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
        .cast("long")
        .alias("p90_lag_us"),
        F.max("lag_us").cast("long").alias("max_lag_us"),
    )


@query(
    "q_stream_stream_attribution_outer",
    # Left-outer stream-stream interval join executed AS A STREAM:
    # matched pairs emit immediately; views with no click in window
    # emit a NULL click when their buffered state expires.  Null
    # results are only decidable up to the watermark horizon, so both
    # sides (stream sink and oracle) restrict to views strictly below
    # LEAST(max view ts, max click ts) - (watermark 30m + within 10m)
    # — inside that closed region the availableNow no-data flush batch
    # is guaranteed to have evicted every unmatched view.
    oracle="""
WITH h AS (
  SELECT LEAST(
           MAX(CASE WHEN event_type = 'view' THEN ts END),
           MAX(CASE WHEN event_type = 'click' THEN ts END)
         ) - INTERVAL 40 MINUTE AS horizon
  FROM events
), v AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
), c AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), j AS (
  SELECT v.user_id, v.ts AS v_ts, v.event_id AS view_id, c.event_id AS click_id
  FROM v LEFT JOIN c
    ON c.user_id = v.user_id
   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(view_id) AS BIGINT) AS sum_view_ids,
       CAST(SUM(click_id) AS BIGINT) AS sum_click_ids
FROM j, h
WHERE v_ts < horizon
""",
    description="Left-outer stream-stream interval join (attribution "
    "completeness: views that never converted emit NULL on state "
    "expiry) — the hardest stream-stream semantics; watermark-horizon-"
    "restricted aggregate over an availableNow replay equals the batch "
    "left join exactly.",
)
def q_stream_stream_attribution_outer(spark, sf_dir):
    from clickbom_spark.streaming import read_events_stream
    from clickbom_spark.streaming.joins import (
        attribution_join_outer,
        split_views_clicks,
    )
    from clickbom_spark.streaming.pipeline import run_to_memory_sink

    (events,) = load(spark, sf_dir, "events")
    # The horizon is computed from the BATCH table (TIMESTAMP_NTZ) but
    # the sink's v_ts is TIMESTAMP (LTZ; the stream reader rebuilds the
    # NTZ wall clock as UTC-epoch instants so watermarks work).  A
    # direct NTZ-vs-LTZ comparison would coerce through the SESSION
    # timezone and shift the cut — so compare in timezone-free epoch
    # micros on both sides (unix_micros is exact for LTZ; epoch_us is
    # the NTZ-safe twin).
    horizon = events.groupBy().agg(
        (
            epoch_us(
                F.least(
                    F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                )
            )
            - F.lit(40 * 60 * 1_000_000)
        ).alias("h_us")
    )
    s_views, s_clicks = split_views_clicks(read_events_stream(spark, sf_dir))
    pairs = attribution_join_outer(s_views, s_clicks)
    run_to_memory_sink(pairs, "m_stream_attrib_outer")
    return (
        spark.table("m_stream_attrib_outer")
        .join(F.broadcast(horizon))
        .where(F.unix_micros(F.col("v_ts")) < F.col("h_us"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("view_id").alias("sum_view_ids"),
            F.sum("click_id").alias("sum_click_ids"),
        )
    )


@query(
    "q_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS nt
  FROM events
), d AS (
  SELECT user_id, cents, nt - t AS dur_us, (nt - t) // 1000 AS dur_ms
  FROM seq WHERE nt IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       CAST(SUM(cents * dur_ms) AS DOUBLE)
         / CAST(SUM(dur_ms) AS DOUBLE) / 100.0 AS twa_value
FROM d GROUP BY user_id
HAVING SUM(dur_ms) > 0
ORDER BY user_id
""",
    description="Time-weighted average per user (the ClickHouse "
    "avgWeighted / Timescale time_weight 'locf' shape): each event's "
    "value is held until the next event and weighted by the held "
    "duration — one window lead per user plus one hash aggregate.  "
    "All accumulation is pure BIGINT (value in cents x duration in "
    "ms; int-to-double conversion is identically IEEE-defined in both "
    "engines, unlike decimal(38,2)-to-double above 2^53), so the "
    "oracle matches bit-for-bit.",
)
def q_time_weighted_avg(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = epoch_us("ts")
    seq = events.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.lead(t).over(w) - t).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    seq = seq.withColumn("dur_ms", F.expr("dur_us div 1000"))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").cast("long").alias("total_us"),
            (
                F.sum(F.col("cents") * F.col("dur_ms")).cast("double")
                / F.sum("dur_ms").cast("double")
                / F.lit(100.0)
            ).alias("twa_value"),
            F.sum("dur_ms").alias("_sdm"),
        )
        .where(F.col("_sdm") > 0)
        .drop("_sdm")
        .orderBy("user_id")
    )


@query(
    "q_ema_value",
    oracle="""
WITH seq AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vs
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(vs) AS BIGINT) AS n_vals,
       list_reduce(vs, (acc, x) -> 0.5 * x + 0.5 * acc) AS ema
FROM seq ORDER BY user_id
""",
    description="Per-user exponential moving average of event values "
    "(ClickHouse exponentialMovingAverage shape, alpha=0.5): one hash "
    "aggregate collects the per-user time-ordered value list, one "
    "array fold computes ema = a*x + (1-a)*ema seeded with the first "
    "value.  alpha is a power of two, so every multiply is EXACT and "
    "the only rounding is the per-step add — an identical op sequence "
    "in both engines, hence bit-equal without decimal scaffolding.  "
    "Per-key state is the value list only; no global sort, no window "
    "over the corpus.",
)
def q_ema_value(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    src = events.where(F.col("value").isNotNull()).select(
        "user_id",
        F.struct(
            epoch_us("ts").alias("t"),
            F.col("event_id").alias("tb"),
            F.col("value").alias("v"),
        ).alias("s"),
    )
    packed = src.groupBy("user_id").agg(
        F.array_sort(F.collect_list("s")).alias("arr")
    )
    ema = F.aggregate(
        F.col("arr"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["v"]).otherwise(
            0.5 * x["v"] + 0.5 * acc
        ),
    )
    return packed.select(
        "user_id",
        F.size("arr").cast("long").alias("n_vals"),
        ema.alias("ema"),
    ).orderBy("user_id")


@query(
    "q_stream_matview",
    # The maintained view is batch-slicing-independent: at every epoch
    # boundary it equals the plain GROUP BY of all data so far, so the
    # final state oracles directly against batch SQL.
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="Streaming materialized view (ClickHouse materialized-"
    "view / AggregatingMergeTree pattern; ext/streaming_dedup.py "
    "streaming_matview_sink): a real availableNow stream upserts each "
    "micro-batch into a versioned data lake and rolls a (group, count, "
    "sum) aggregate forward from ONLY that commit's change feed — IVM "
    "cost scales with the batch, shared files are never re-read; both "
    "commits are epoch-marked so replay never double-counts.  Final "
    "view == plain GROUP BY of everything ingested.",
)
def q_stream_matview(spark, sf_dir):
    import os
    import shutil

    from clickbom_spark.ext.manifest import VersionedLake, sum_agg_of
    from clickbom_spark.ext.streaming_dedup import streaming_matview_sink
    from clickbom_spark.queries import scratch_path
    from clickbom_spark.queries.staged import stage_single_parquet

    (events,) = load(spark, sf_dir, "events")
    rows = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = scratch_path("stream_matview")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    os.makedirs(src)
    n = rows.agg(F.max("event_id")).collect()[0][0] + 1
    cuts = [0, n // 3, 2 * n // 3, n]
    for e in range(3):
        stage_single_parquet(
            rows.where(
                (F.col("event_id") >= cuts[e])
                & (F.col("event_id") < cuts[e + 1])
            ),
            os.path.join(src, f"b{e}.parquet"),
            mtime=1_700_000_000 + e * 1000,
        )
    data_lake = VersionedLake.create(
        spark, os.path.join(base, "data"), rows.where(F.lit(False)), n_files=1
    )
    view_lake = VersionedLake.create(
        spark,
        os.path.join(base, "view"),
        sum_agg_of(rows.where(F.lit(False)), ["event_type"], ["cents"]),
        n_files=1,
    )
    sink = streaming_matview_sink(
        data_lake, view_lake, ["event_id"], ["event_type"], ["cents"]
    )
    q = (
        spark.readStream.schema("event_id long, event_type string, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        view_lake.read()
        .select(
            "event_type",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("event_type")
    )
