"""Scale utilities: salted ops must be result-identical to their plain
forms; bucketed tables must join without a shuffle."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from clickbom_spark.ext.scale import salted_agg, salted_join
from clickbom_spark.queries import dec
from clickbom_spark.session import read_table
from tests.conftest import SF_SMOKE


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_salted_agg_matches_plain(spark):
    events = read_table(spark, SF_SMOKE, "events")
    plain = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("total"),
    )
    salted = salted_agg(
        events,
        ["event_type"],
        {"n": ("count", F.lit(1)), "total": ("sum", dec("value"))},
        salt_buckets=8,
    )
    assert rows_set(salted) == rows_set(plain)


def test_salted_join_matches_plain(spark):
    events = read_table(spark, SF_SMOKE, "events")
    dim = (
        events.select("user_id").distinct().withColumn("seg", F.pmod("user_id", F.lit(5)))
    )
    plain = (
        events.join(dim, "user_id")
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("total"))
    )
    salted = (
        salted_join(events, dim, "user_id", salt_buckets=4)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("total"))
    )
    assert rows_set(salted) == rows_set(plain)


def test_approx_distinct_within_rsd(spark):
    events = read_table(spark, SF_SMOKE, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(0.05 * n, 2), (k, n, approx[k])


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketed+sorted tables on the join key must sort-merge join with
    ZERO Exchange operators — the co-located join that replaces the
    biggest shuffle in a fact-fact join at scale."""
    orders = read_table(spark, SF_SMOKE, "orders")
    lineitem = read_table(spark, SF_SMOKE, "lineitem")
    suffix = uuid.uuid4().hex[:8]
    t_o, t_l = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    try:
        (
            orders.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(t_o)
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(t_l)
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(t_o).join(
                spark.table(t_l),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # and it actually runs
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")


def test_skewed_theta_join_salted_matches_unsalted(spark):
    """The salted self theta-join (q_theta_join_skewed) must return the
    same aggregate as the straightforward unsalted join on the same
    skewed fixture — salting is distribution-only."""
    from clickbom_spark.queries import REGISTRY
    from clickbom_spark.session import read_table
    from tests.conftest import SF_CORRECT

    salted = {
        (r["type_a"], r["type_b"], r["n_pairs"])
        for r in REGISTRY["q_theta_join_skewed"].fn(spark, SF_CORRECT).collect()
    }

    events = read_table(spark, SF_CORRECT, "events")
    se = events.withColumn(
        "user_id",
        F.when(F.pmod(F.col("user_id"), F.lit(10)) < 3, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    a, b = se.alias("a"), se.alias("b")
    plain = {
        (r["type_a"], r["type_b"], r["n_pairs"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.ts") < F.col("b.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTE"))
            & (F.col("a.event_id") != F.col("b.event_id")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .collect()
    }
    assert salted == plain


def test_time_partitioned_layout_prunes_directories(spark, tmp_path):
    """A predicate on the partition column must become a PartitionFilter
    (directory pruning), not a post-scan row filter; only the selected
    days' files are read."""
    from clickbom_spark.ext.layout import write_time_partitioned
    from clickbom_spark.session import read_table
    from tests.conftest import SF_SMOKE

    events = read_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(events, "ts", path)

    back = spark.read.parquet(path)
    one_day = back.where(F.col("dt") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters", 1)[1][:200], plan
    # row-correctness of the pruned read
    expected = events.where(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-06")
    ).count()
    assert one_day.count() == expected
    # one file per partition directory (no small-files explosion)
    import glob as _g
    files = _g.glob(f"{path}/dt=2024-01-05/*.parquet")
    assert len(files) == 1, files


def test_compact_files_binpacks_and_preserves_rows(spark, tmp_path):
    from clickbom_spark.ext.layout import compact_files
    from clickbom_spark.session import read_table
    from tests.conftest import SF_SMOKE

    events = read_table(spark, SF_SMOKE, "events")
    frag = str(tmp_path / "fragmented")
    events.repartition(40).write.parquet(frag)  # simulate streaming-sink spray
    compacted = str(tmp_path / "compacted")
    compact_files(spark, frag, compacted, target_files=4, sort_cols=["ts"])

    import glob as _g
    assert len(_g.glob(f"{compacted}/*.parquet")) == 4
    back = spark.read.parquet(compacted)
    assert back.count() == events.count()
    assert back.exceptAll(events).count() == 0
    assert events.exceptAll(back).count() == 0


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1,), (2**40,), (None,)], "v long"),
        ([(1,), (-7,)], "v int"),
        ([("a",), ("\té",), (None,)], "v string"),
        ([(True,), (False,), (None,)], "v boolean"),
        ([(1.5,), (float("nan"),), (None,)], "v double"),
        ([(1, [0.5, float("nan")]), (2, [])], "id int, cv array<double>"),
        ([], "id long, name string"),
    ],
    ids=["long", "int", "string", "boolean", "double_nan", "array_double", "empty"],
)
def test_local_frame_is_a_sized_local_relation(spark, rows, schema):
    """Driver rows become a LocalRelation with a finite size estimate,
    and read back exactly (NaN included)."""
    import math

    from clickbom_spark.ext.scale import plan_size_bytes
    from clickbom_spark.session import local_frame

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return [norm(x) for x in v] if isinstance(v, (list, tuple)) else v

    df = local_frame(spark, rows, schema)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert plan_size_bytes(df) is not None
    assert [norm(r) for r in df.collect()] == [norm(r) for r in rows]
