"""Bucket-spec integration for the versioned lake: the manifest
records the table's physical bucketing ``(col, n_buckets)``, and
equi-joins on the bucket key route through Spark's co-located bucketed
join — ZERO Exchange operators, the fact-fact join shape that replaces
the biggest shuffle at 100 TB.

How the pieces fit:

- :func:`create_bucketed` writes the data with ``bucketBy(n, col)``
  (each part file carries its bucket id in the file name — Spark's
  bucket layout contract) into the lake path, then commits a normal
  manifest whose payload additionally carries the bucket spec.  The
  spec is thereby versioned, vacuum-safe metadata: any later session —
  or another engine — can rebuild the catalog entry from the manifest
  alone.
- :func:`read_bucketed` re-registers the catalog table from the spec
  when needed (``CREATE TABLE … USING PARQUET CLUSTERED BY … INTO n
  BUCKETS LOCATION path``) and returns ``spark.table(...)``, which
  carries the bucket metadata Catalyst needs to elide the Exchange on
  joins/aggregations keyed on the bucket column.

Honest boundary: Spark's catalog-table scan reads the DIRECTORY, not
the manifest's file list, so the co-located fast path is only valid
while the on-disk layout equals the CURRENT snapshot.
:func:`read_bucketed` verifies exactly that (file-set equality) and
falls back to the plain manifest read otherwise — after a COW
mutation (old snapshot files still on disk) or on a time-travel read,
correctness never depends on the fast path.  A compaction that
restores the bucket layout (re-``create_bucketed``) re-enables it.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from clickbom_spark.ext.manifest import VersionedLake, _mdir


def _table_name(path: str) -> str:
    """Deterministic catalog name per lake path, so re-registration in
    a fresh session converges on the same entry."""
    return "lake_bkt_" + hashlib.md5(
        os.path.abspath(path).encode()
    ).hexdigest()[:12]


def create_bucketed(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    bucket_col: str,
    n_buckets: int,
) -> VersionedLake:
    """Create a versioned lake whose physical layout is bucketed (and
    sorted) by ``bucket_col`` into ``n_buckets`` files, with the spec
    persisted in the manifest."""
    name = _table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(name)
    )
    files = [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.startswith("part-") and os.path.isfile(os.path.join(path, f))
    ]
    os.makedirs(_mdir(path), exist_ok=True)
    lake = VersionedLake(spark, path)
    lake._commit(files, df.count(), "create-bucketed")
    # Pin the exact bucketed file set in the spec: the co-located fast
    # path is only valid while the CURRENT snapshot IS this file set —
    # later COW rewrites produce plain parquet files (no bucket-id
    # layout), and a vacuum can make disk == live again without
    # restoring bucketedness, so file-set-vs-disk equality alone is
    # not a sufficient gate (it must also equal THIS set).
    rel = sorted(os.path.relpath(f, path) for f in files)
    lake._commit_meta(
        lambda p: {
            **p,
            "bucket": {"col": bucket_col, "n": n_buckets, "files": rel},
        },
        "bucket-spec",
    )
    return lake


def bucket_spec(lake: VersionedLake) -> dict | None:
    return lake._manifest().get("bucket")


def _layout_intact(lake: VersionedLake, spec: dict) -> bool:
    """The catalog fast path scans the DIRECTORY, so it is valid only
    when (a) disk holds exactly the CURRENT snapshot's files (no stale
    COW leftovers the catalog scan would double-read) AND (b) the
    current snapshot IS the original bucketed file set pinned in the
    spec — COW rewrites are plain parquet without the bucket-id file
    layout, and after a vacuum disk can equal live again while
    bucketedness is gone.  Specs written before the "files" pin
    existed fail closed (fall back to the manifest read)."""
    pinned = spec.get("files")
    if pinned is None:
        return False
    live = set(lake._manifest()["files"])
    if live != set(pinned):
        return False
    disk = {
        f
        for f in os.listdir(lake.path)
        if os.path.isfile(os.path.join(lake.path, f))
        and not f.startswith((".", "_"))
    }
    return disk == live


def read_bucketed(lake: VersionedLake) -> DataFrame:
    """Read the CURRENT snapshot through the bucket-aware catalog path
    when the spec exists and the physical layout is intact; otherwise
    fall back to the plain (always-correct) manifest read."""
    spec = bucket_spec(lake)
    if spec is None or not _layout_intact(lake, spec):
        return lake.read()
    spark = lake.spark
    name = _table_name(lake.path)
    if not spark.catalog.tableExists(name):
        # rebuild the catalog entry from manifest metadata alone
        sch = lake.read().schema
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in sch.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({spec['col']}) SORTED BY ({spec['col']}) "
            f"INTO {spec['n']} BUCKETS LOCATION '{lake.path}'"
        )
    return spark.table(name)
