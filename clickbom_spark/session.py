"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same configs are what we would
set cluster-side at 100 TB (AQE, skew-join handling, partition coalescing,
Arrow for the few Pandas-UDF code paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local core count: ``SPARK_GRAFT_CPUS`` if set, else the host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "clickbom_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Configuration rationale, scale-first:

    - ``spark.sql.adaptive.enabled`` — runtime re-planning: coalesce
      post-shuffle partitions, convert sort-merge to broadcast joins when
      runtime stats allow, split skewed partitions.  At 100 TB this is the
      difference between a 200-partition straggler and an even plan.
    - ``spark.sql.adaptive.skewJoin.enabled`` — skewed key handling for
      the big fact-fact joins without manual salting.
    - ``spark.sql.execution.arrow.pyspark.enabled`` — Arrow batch
      transfer for the Pandas-UDF extension operators (similarity
      kernels, multimodal decode).
    - ``spark.sql.shuffle.partitions`` — sized to the test box by
      default; on a real cluster size to ~128 MB per post-shuffle
      partition (AQE coalescing makes the exact number less critical).
    - ``spark.sql.files.maxPartitionBytes`` default 128m is kept: scan
      parallelism at 100 TB comes from file splits, not from us.
    """
    cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans are exempt from AQE partition coalescing by
        # default (compat guard); with it on, a persisted small frame
        # (matview partials, loop invariants, key sets) caches at its
        # AQE-sized partition count instead of the static
        # shuffle-partition count — measured: the streaming matview
        # sink's 20-row upsert stops writing one file per static
        # partition.  Output values are partitioning-independent.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (the events table) is read as long ns;
        # read_table() converts to microsecond timestamps (floor, matching
        # DuckDB's ns→µs semantics).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # If we attached to a pre-existing session (e.g. the driver's), make
    # sure the nanos read path is still on.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """Driver-side ``rows`` (tuples in ``schema`` order; ``schema`` a
    DDL string or ``StructType``) as a plan leaf — the one way library
    code turns Python values into a DataFrame.

    The rows become a ``pyarrow.Table``, which Spark plans as a
    ``LocalRelation``: exact size statistics (the optimizer can
    broadcast it and size operators from it), read on the JVM.  Built
    from a Python list the frame would be a Python-RDD ``LogicalRDD``
    sized at Long.MaxValue bytes, and every execution of a plan over it
    would first run Python-worker tasks to read it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


# (session id, sf_dir, table) → DataFrame.  A DataFrame is just an
# analyzed plan — caching it skips the per-call parquet footer read and
# conf RPC when a harness runs many registry queries over the same
# tables in one session.  Keyed by id(spark) so a new session never
# sees plans bound to a dead one.
_READ_CACHE: dict[tuple[int, str, str], "object"] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one corpus table, normalizing physical quirks.

    The ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark reads (under ``nanosAsLong``) as a raw ns long; convert to a
    microsecond timestamp with floor semantics — identical to DuckDB's
    ns→µs coercion, so oracle comparisons stay exact.
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    key = (id(spark), sf_dir, name)
    cached = _READ_CACHE.get(key)
    # The cached entry pins the session object, so its id() cannot be
    # reused by a new session while the entry exists — the identity
    # check makes the key collision-proof rather than merely unlikely.
    if cached is not None and cached[0] is spark:
        return cached[1]
    # Runtime-settable: the driver contract hands us an externally built
    # SparkSession, so the conf cannot be assumed preset by get_spark().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _READ_CACHE[key] = (spark, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load the synthetic corpus tables as DataFrames and register temp views.

    One parquet per table (TESTDATA.md).  Reads are lazy; Catalyst prunes
    columns and pushes filters into the parquet scans.
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, n)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
