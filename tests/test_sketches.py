"""Misra–Gries heavy hitters: exactness vs full groupBy-count, the
pigeonhole completeness bound, and partitioning invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.ext.sketches import heavy_hitters


def _exact(df, col, k):
    n = df.where(F.col(col).isNotNull()).count()
    return {
        (r[col], r["cnt"])
        for r in df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * k > F.lit(n))
        .collect()
    }


def _skewed_rows():
    # zipf-ish: 'a' x 400, 'b' x 150, 'c' x 60, long tail of singletons
    rows = ["a"] * 400 + ["b"] * 150 + ["c"] * 60
    rows += [f"t{i}" for i in range(300)]
    rows += [None] * 10
    return [(i, v) for i, v in enumerate(rows)]


def test_heavy_hitters_equals_exact_groupby(spark):
    df = spark.createDataFrame(_skewed_rows(), "id long, v string")
    for k in (4, 8, 16):
        got = {
            (r["v"], r["cnt"])
            for r in heavy_hitters(df, "v", k=k).collect()
        }
        assert got == _exact(df, "v", k), k


def test_heavy_hitters_partitioning_invariant(spark):
    """The candidate superset depends on partitioning; the final
    answer must not."""
    df = spark.createDataFrame(_skewed_rows(), "id long, v string")
    a = {
        (r["v"], r["cnt"])
        for r in heavy_hitters(df.repartition(1), "v", k=8).collect()
    }
    b = {
        (r["v"], r["cnt"])
        for r in heavy_hitters(df.repartition(13, "v"), "v", k=8).collect()
    }
    c = {
        (r["v"], r["cnt"])
        for r in heavy_hitters(df.repartition(32), "v", k=8).collect()
    }
    assert a == b == c == _exact(df, "v", k=8)


def test_heavy_hitters_no_qualifying_items(spark):
    """A uniform corpus has no item above N/k — empty result, no
    crash."""
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(200)], "id long, v string"
    )
    assert heavy_hitters(df, "v", k=8).count() == 0


def test_heavy_hitters_rejects_reserved_column_names(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a")], "id long, cnt string")
    with _pytest.raises(ValueError):
        heavy_hitters(df, "cnt", k=4)


def test_heavy_hitters_non_nullable_input_column(spark):
    """The sentinel row is NULL in the value column; a non-nullable
    input field must not NPE (the kernel schema re-declares it
    nullable)."""
    df = spark.range(100).select(
        F.coalesce(F.col("id").cast("string"), F.lit("x")).alias("v")
    )
    df = df.union(spark.createDataFrame([("hot",)] * 60, "v string"))
    out = heavy_hitters(df, "v", k=4).collect()
    assert [(r["v"], r["cnt"]) for r in out] == [("hot", 60)]


def test_heavy_hitters_counts_nan_as_one_item(spark):
    """NaN occurrences must share ONE counter (Spark's groupBy
    normalizes NaN): a NaN heavy hitter is found, exactly like the
    equivalent groupBy-count."""
    rows = [(float("nan"),)] * 50 + [(float(i),) for i in range(40)]
    df = spark.createDataFrame(rows, "v double")
    out = heavy_hitters(df, "v", k=4).collect()
    assert len(out) == 1
    assert out[0]["cnt"] == 50 and out[0]["v"] != out[0]["v"]  # NaN


def test_heavy_hitters_leaves_no_cached_state(spark):
    import py4j

    before = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    df = spark.createDataFrame([(i % 3,) for i in range(90)], "v int")
    heavy_hitters(df, "v", k=4).collect()
    after = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(after) == len(before)


def test_quantile_sketch_weight_conservation_and_accuracy(spark):
    """Σ weight must equal N exactly (compaction is weight-preserving),
    and quantile estimates must land within a small rank error of the
    exact order statistics on both uniform and skewed data."""
    import random

    from clickbom_spark.ext.sketches import (
        approx_quantiles_from_sketch,
        quantile_sketch,
    )

    rng = random.Random(3)
    n = 20000
    data = [rng.random() for _ in range(n // 2)]
    data += [rng.random() ** 4 * 100 for _ in range(n // 2)]  # skewed tail
    df = spark.createDataFrame([(v,) for v in data], "x double").repartition(8)
    sk = quantile_sketch(df, "x", k=128)
    agg = sk.agg(F.sum("weight")).collect()[0][0]
    assert agg == n
    probs = [0.1, 0.5, 0.9, 0.99]
    est = approx_quantiles_from_sketch(sk, probs)
    s = sorted(data)
    for p, e in zip(probs, est):
        # rank of the estimate vs target rank, bounded at 2% of N
        import bisect

        r = bisect.bisect_left(s, e)
        assert abs(r - p * n) <= 0.02 * n, (p, e, r)


def test_quantile_sketch_states_merge_by_union(spark):
    """Two corpora sketched separately and UNIONED must estimate the
    combined distribution — the mergeable-state contract."""
    from clickbom_spark.ext.sketches import (
        approx_quantiles_from_sketch,
        quantile_sketch,
    )

    a = spark.range(0, 10000).select(F.col("id").cast("double").alias("x"))
    b = spark.range(10000, 20000).select(F.col("id").cast("double").alias("x"))
    merged = quantile_sketch(a, "x", k=128).union(quantile_sketch(b, "x", k=128))
    assert merged.agg(F.sum("weight")).collect()[0][0] == 20000
    (med,) = approx_quantiles_from_sketch(merged, [0.5])
    assert abs(med - 10000) <= 400  # 2% of N


# ---- HyperLogLog distinct sketch ----


def test_hll_registers_partitioning_invariant_and_merge_law(spark):
    """Registers are a pure function of the value set (any partitioning),
    and merge(regs(A), regs(B)) == regs(A ∪ B) bucket-for-bucket."""
    from clickbom_spark.ext.sketches import hll_merge, hll_registers

    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(3000, 5000).select(F.col("id").alias("v"))
    whole = spark.range(0, 5000).select(F.col("id").alias("v"))

    def reg_map(df):
        return {
            r["bucket"]: r["rho"]
            for r in hll_registers(df, "v", p=8).collect()
        }

    assert reg_map(whole) == reg_map(whole.repartition(13))
    merged = {
        r["bucket"]: r["rho"]
        for r in hll_merge(
            hll_registers(a, "v", p=8), hll_registers(b, "v", p=8)
        ).collect()
    }
    assert merged == reg_map(whole)
    assert len(merged) == 256


def test_hll_estimate_accuracy_both_regimes(spark):
    """Estimate lands within ~3 standard errors (1.04/sqrt(m)) of the
    true cardinality in the raw regime, and the linear-counting branch
    handles the small-range regime."""
    from clickbom_spark.ext.sketches import hll_estimate, hll_registers

    for n in (80, 5000, 20000):
        df = spark.range(n).select(F.col("id").alias("v"))
        est = hll_estimate(hll_registers(df, "v", p=8), p=8).collect()[0][
            "est_hll"
        ]
        assert abs(est - n) / n < 3 * 1.04 / (256 ** 0.5), (n, est)


def test_hll_nulls_excluded_and_duplicates_ignored(spark):
    from clickbom_spark.ext.sketches import hll_estimate, hll_registers

    base = spark.range(1000).select(F.col("id").alias("v"))
    dup = base.union(base).union(
        spark.range(1).select(F.lit(None).cast("long").alias("v"))
    )
    r1 = {r["bucket"]: r["rho"] for r in hll_registers(base, "v").collect()}
    r2 = {r["bucket"]: r["rho"] for r in hll_registers(dup, "v").collect()}
    assert r1 == r2


def test_hll_distinct_by_accurate_and_group_isolated(spark):
    from clickbom_spark.ext.sketches import hll_distinct_by

    a = spark.range(2000).select(F.lit("a").alias("g"), F.col("id").alias("v"))
    b = spark.range(60).select(F.lit("b").alias("g"), F.col("id").alias("v"))
    c = spark.range(500).select(F.lit("c").alias("g"), F.col("id").alias("v"))

    def ests(df):
        return {
            r["g"]: r["est_hll"]
            for r in hll_distinct_by(df, "v", ["g"], p=8).collect()
        }

    two = ests(a.union(b))
    three = ests(a.union(b).union(c))
    # group isolation: c's arrival changes nothing for a and b
    assert two["a"] == three["a"] and two["b"] == three["b"]
    for g, n in (("a", 2000), ("b", 60), ("c", 500)):
        assert abs(three[g] - n) / n < 3 * 1.04 / (256 ** 0.5), (g, three[g])


def test_grouped_heavy_hitters_exact_across_partitionings(spark):
    """heavy_hitters_by == the full per-group groupBy-count answer at
    the same cutoff, under any partitioning, on a skewed synthetic."""
    import random

    from clickbom_spark.ext.sketches import heavy_hitters_by

    rng = random.Random(13)
    rows = []
    for g in ("a", "b", "c"):
        for _ in range(3000):
            # zipf-ish skew, different hot keys per group
            v = min(int(rng.paretovariate(1.1)), 50)
            rows.append((g, f"{g}{v}"))
    df = spark.createDataFrame(rows, "g string, v string")

    def run(parts):
        return {
            (r["g"], r["v"]): (r["cnt"], r["n_group"])
            for r in heavy_hitters_by(
                df.repartition(parts), "v", ["g"], k=8
            ).collect()
        }

    exact = {}
    counts: dict = {}
    totals: dict = {}
    for g, v in rows:
        counts[(g, v)] = counts.get((g, v), 0) + 1
        totals[g] = totals.get(g, 0) + 1
    for (g, v), c in counts.items():
        if c * 8 > totals[g]:
            exact[(g, v)] = (c, totals[g])
    assert run(1) == exact
    assert run(7) == exact
    assert exact  # the fixture actually produces heavy hitters


def test_weighted_heavy_hitters_exact_across_partitionings(spark):
    """topKWeighted == the full weighted groupBy answer at the W/k
    cutoff, under any partitioning, with zero-weight rows inert."""
    import random

    from clickbom_spark.ext.sketches import heavy_hitters_weighted

    rng = random.Random(17)
    rows = []
    for _ in range(4000):
        v = f"v{min(int(rng.paretovariate(1.2)), 40)}"
        rows.append((v, rng.randrange(0, 7)))
    df = spark.createDataFrame(rows, "v string, w int")

    totals: dict = {}
    for v, w in rows:
        totals[v] = totals.get(v, 0) + w
    W = sum(totals.values())
    exact = {
        v: (tw, W) for v, tw in totals.items() if tw * 8 > W
    }
    assert exact

    def run(parts):
        return {
            r["v"]: (r["total_w"], r["w_total"])
            for r in heavy_hitters_weighted(
                df.repartition(parts), "v", "w", k=8
            ).collect()
        }

    assert run(1) == exact
    assert run(11) == exact


def test_heavy_hitters_merge_tree_bounds_driver_rows(spark, monkeypatch):
    """Partition-count-proofing: with more input partitions than the
    merge fan-in, intermediate merge rounds must fold the summaries so
    the frame the driver collects never exceeds (k+1)·fanin rows —
    while the final answer stays exactly the groupBy ground truth."""
    from clickbom_spark.ext import sketches
    from clickbom_spark.ext.sketches import (
        _CNT,
        _PN,
        _mg_merge,
        _mg_partition,
        _mg_sketch_frame,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    df = spark.createDataFrame(_skewed_rows(), "id long, v string")
    k, fanin = 8, 4
    src = df.repartition(37).select("v").where(F.col("v").isNotNull())
    schema = StructType(
        [StructField("v", StringType(), True),
         StructField(_CNT, LongType(), False),
         StructField(_PN, LongType(), False)]
    )
    sk = _mg_sketch_frame(
        src, _mg_partition(k, "v"), _mg_merge(k, "v"), schema, fanin
    )
    rows = sk.collect()
    assert len(rows) <= (k + 1) * fanin, len(rows)
    # weight conservation through every merge level: sentinels sum to N
    assert sum(r[_PN] for r in rows) == src.count()
    # and the public operator built on the same path stays exact
    monkeypatch.setattr(sketches, "_MG_FANIN", fanin)
    got = {
        (r["v"], r["cnt"])
        for r in heavy_hitters(df.repartition(37), "v", k=k).collect()
    }
    assert got == _exact(df, "v", k=k)


def test_heavy_hitters_long_column_through_empty_merge_partition(
    spark, monkeypatch
):
    """A merge round can leave a partition empty, and its summary is a
    lone (NULL, 0, 0) sentinel.  It is not a candidate: mapped to the
    NaN stand-in it could not enter a long value column."""
    from clickbom_spark.ext import sketches
    from clickbom_spark.ext.sketches import (
        _CNT,
        _PN,
        _mg_merge,
        _mg_partition,
        _mg_sketch_frame,
    )

    codes = {v: i for i, v in enumerate(sorted({v for _, v in _skewed_rows() if v}))}
    df = spark.createDataFrame(
        [(i, codes.get(v)) for i, v in _skewed_rows()], "id long, v long"
    ).repartition(37)
    src = df.select("v").where(F.col("v").isNotNull())
    schema = f"v long, {_CNT} long, {_PN} long"
    rows = _mg_sketch_frame(
        src, _mg_partition(8, "v"), _mg_merge(8, "v"), schema, 4
    ).collect()
    assert (None, 0, 0) in [tuple(r) for r in rows]  # the empty partition
    monkeypatch.setattr(sketches, "_MG_FANIN", 4)
    got = {(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", k=8).collect()}
    assert got == _exact(df, "v", k=8)


def test_weighted_heavy_hitters_merge_tree_exact(spark, monkeypatch):
    """The weighted twin through forced merge rounds: residual WEIGHTS
    ride the merge, so the pigeonhole-on-weights superset (and hence
    the exact recount answer) survives the tree."""
    from clickbom_spark.ext import sketches
    from clickbom_spark.ext.sketches import heavy_hitters_weighted

    rows = [(i, "hot" if i % 3 else "cold", (i % 7) + 1) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, v string, w long")
    exact = {
        (r["v"], r["total_w"])
        for r in heavy_hitters_weighted(
            df.coalesce(1), "v", "w", k=4
        ).collect()
    }
    monkeypatch.setattr(sketches, "_MG_FANIN", 3)
    got = {
        (r["v"], r["total_w"])
        for r in heavy_hitters_weighted(df.repartition(29), "v", "w", k=4).collect()
    }
    assert got == exact and got


def test_heavy_hitters_from_parts_equals_whole(spark):
    """topKState/-Merge law: sketching ingest parts independently and
    merging must equal heavy hitters over the pre-unioned data — for
    any split and any partitioning of the parts."""
    from clickbom_spark.ext.sketches import heavy_hitters_from_parts

    df = spark.createDataFrame(_skewed_rows(), "id long, v string")
    whole = _exact(df, "v", k=8)
    for split_mod in (2, 3):
        parts = [
            df.where(F.col("id") % split_mod == i).repartition(7 + i)
            for i in range(split_mod)
        ]
        got = {
            (r["v"], r["cnt"])
            for r in heavy_hitters_from_parts(parts, "v", k=8).collect()
        }
        assert got == whole, split_mod
    # degenerate: a single part is just heavy_hitters
    got1 = {
        (r["v"], r["cnt"])
        for r in heavy_hitters_from_parts([df], "v", k=8).collect()
    }
    assert got1 == whole
