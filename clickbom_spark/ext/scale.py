"""Scale utilities: plan-size estimates, skew mitigation and shuffle
avoidance.

- ``plan_size_bytes``: the one place build-time choices (bucket
  counts, broadcast gates) read the optimizer's size estimate, so no
  operator runs a job just to size itself.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; these helpers are the explicit variants for the cases AQE
cannot fix:

- ``salted_agg``: two-phase aggregation for a heavily-skewed group key
  (one key ≫ others).  Phase 1 aggregates on (key, salt) — spreading
  the hot key over N reducers — phase 2 merges the partials.  Works for
  any algebraic aggregate; exposed here for decimal-exact sums/counts
  so salting cannot perturb float results.
- ``salted_join``: fact-side salting + dimension-side replication for a
  skewed equi-join where the dimension is too big to broadcast but
  small enough to replicate N×.

Both are result-identical to their unsalted forms (proven in
tests/test_scale.py and by the DuckDB oracle on q_salted_agg_events).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# What Spark reports for a plan it cannot size, e.g. a LogicalRDD
# (``createDataFrame`` over a Python list): Long.MaxValue.
_NO_ESTIMATE = 2**63 - 1


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes — plan
    statistics only, no Spark job — or ``None`` when the plan has no
    estimate (including Spark's Long.MaxValue placeholder).  It is an
    upper bound (filters and joins are estimated pessimistically), so
    build-time choices made from it only err toward the scale-safe
    side."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except (AttributeError, Py4JError):
        # no JVM plan behind the frame, or the plan cannot be sized
        return None
    return None if size >= _NO_ESTIMATE else size


def _salt(n: int):
    # distribution-only value: result correctness never depends on it
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column -> ("sum"|"count", column expression).
    Counts become sums of partial counts in phase 2; sums merge as
    sums.  Use decimal-cast expressions for float columns to keep the
    two-phase result bit-identical to the one-phase result.
    """
    salted = df.withColumn("_salt", _salt(salt_buckets))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[
            (F.count(expr) if kind == "count" else F.sum(expr)).alias(f"_p_{out}")
            for out, (kind, expr) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[F.sum(f"_p_{out}").alias(out) for out in aggs]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the (possibly skewed) fact side gets a
    per-row salt; the dimension side is replicated once per salt value
    (explode over sequence).  The join key becomes (key, salt), so a
    hot key's rows spread over ``salt_buckets`` reducers.

    Cost: dim is shuffled salt_buckets×; use only when dim ≪ fact and
    broadcast is not possible."""
    f = fact.withColumn("_salt", _salt(salt_buckets))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    return f.join(d, [key, "_salt"], how).drop("_salt")
