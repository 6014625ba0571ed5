"""Object-store sinks (K1) — S3/lake writers.

The reference uploads single JSON documents with ``aws s3 cp``
(entrypoint.sh:19-35).  Spark-side, a path is a path: ``s3a://`` in
production, ``file://`` in tests — the code is identical, which is the
point of re-expressing the pipeline on Spark.

Two shapes:
- ``write_components_lake``: the scale path — exploded component rows
  as parquet partitioned by source, one file per source, written by
  ``spark.sql.shuffle.partitions`` tasks (columnar, splittable,
  predicate-pushdown friendly).  This is what downstream analytics
  should read at 100 TB.
- ``write_sbom_document``: parity path — one merged CycloneDX JSON
  document, like the reference's single-object upload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_components_lake(
    components: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = ("source",),
) -> None:
    """Partitioned parquet lake of warehouse tuples, one file per source.

    Partitioning by ``source`` mirrors the LowCardinality(String)
    dictionary column (entrypoint.sh:225) and gives partition pruning
    for per-source queries; within files, rows are sorted by the
    MergeTree key for row-group min/max pruning on name lookups.

    The rows are hash-repartitioned on the partition columns into the
    session's ``spark.sql.shuffle.partitions`` tasks, so every source
    lands in exactly one task: the lake has one file per source on any
    host, and the write runs on every core.  Without it the write
    inherits its input's partitioning: on a small input AQE folds that
    to one task, which writes every source serially, and on a large one
    each task writes a file per source it holds (tasks × sources files).
    ``REBALANCE(source)`` and ``repartition("source")`` are no fix: AQE
    folds each to one task too.  On the 70-source ``sbom_merge`` lake
    (4 cores, persisted input, median of 5 writes) the write took 1.14 s
    as is, 1.16 s with ``REBALANCE(source)``, 1.14 s with
    ``repartition("source")`` and 0.68 s with ``repartition(4, "source")``.

    The trade-off: a source larger than a task's share of the rows makes
    its task a straggler, since it is never split.

    The sort leads with the partition columns so it is the ordering the
    partitioned writer needs; sorted by the key alone, the writer adds
    its own sort on ``source`` and the rows of each file lose the key
    order.
    """
    tasks = int(components.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        components.repartition(tasks, *partition_by)
        .sortWithinPartitions(*partition_by, "name", "version", "license")
        .write.mode(mode)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_sbom_document(doc_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """One merged SBOM document as a single JSON file (K1 parity).

    ``coalesce(1)`` is correct here by construction: the input is the
    single-row output of assemble_merged_doc.
    """
    doc_df.coalesce(1).write.mode(mode).json(path)
