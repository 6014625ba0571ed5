"""Copy-on-write mutation laws on the versioned lake: correctness of the
final table state, and file-level pruning — every file a mutation leaves
live must be byte-identical."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from clickbom_spark.ext.manifest import VersionedLake


def _live_md5(lake):
    """md5 of every data file in the live snapshot, by manifest name."""
    out = {}
    for f in lake._manifest()["files"]:
        with open(os.path.join(lake.path, f), "rb") as fh:
            out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


def _lake(spark, tmp_path):
    """A small lake where key ranges map to files, so a selective
    predicate affects a strict subset of files."""
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 2).cast("double").alias("val"),
    )
    # range-partition on id so each file holds one tight key range
    return VersionedLake.create(
        spark, str(tmp_path / "lake"), df.repartitionByRange(8, "id"),
        n_files=8,
    )


def _assert_pruned(before, after):
    """A strict subset of files was replaced; the rest are untouched."""
    kept = before.keys() & after.keys()
    assert kept and len(kept) < len(before), (before, after)
    assert {f: after[f] for f in kept} == {f: before[f] for f in kept}


def test_cow_update_state_and_pruning(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    before = _live_md5(lake)
    pred = (F.col("id") >= 100) & (F.col("id") < 150)
    lake.update(pred, {"val": F.col("val") + 1000.0})
    _assert_pruned(before, _live_md5(lake))

    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(got) == 1000
    for i in range(1000):
        expect = i * 2.0 + (1000.0 if 100 <= i < 150 else 0.0)
        assert got[i] == expect, i


def test_cow_delete_state_and_pruning(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    before = _live_md5(lake)
    lake.delete(F.col("id") < 125)
    _assert_pruned(before, _live_md5(lake))
    remaining = lake.read()
    assert remaining.count() == 875
    assert remaining.agg(F.min("id")).collect()[0][0] == 125


def test_cow_update_noop_predicate_rewrites_nothing(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    before = _live_md5(lake)
    lake.update(F.col("id") > 10_000, {"val": F.lit(0.0)})
    lake.delete(F.col("id") > 10_000)
    assert _live_md5(lake) == before
    assert lake.row_count() == 1000


def test_cow_upsert_merge_semantics_pruning_and_idempotence(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    before = _live_md5(lake)
    # updates hit a narrow id range (subset of files); plus pure inserts
    changes = spark.createDataFrame(
        [(i, i % 7, -1.0) for i in range(200, 220)]
        + [(5000 + i, 0, 99.0) for i in range(5)],
        "id long, grp long, val double",
    )
    lake.upsert(changes, ["id"])
    _assert_pruned(before, _live_md5(lake))

    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(got) == 1005
    for i in range(1000):
        assert got[i] == (-1.0 if 200 <= i < 220 else i * 2.0), i
    for i in range(5):
        assert got[5000 + i] == 99.0

    # idempotence: replaying the same change set leaves the state fixed
    lake.upsert(changes, ["id"])
    got2 = {r["id"]: r["val"] for r in lake.read().collect()}
    assert got2 == got

    # duplicate change keys are rejected, not silently merged
    dup = spark.createDataFrame(
        [(1, 0, 1.0), (1, 0, 2.0)], "id long, grp long, val double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        lake.upsert(dup, ["id"])


def test_cow_upsert_pure_inserts_without_matches(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    before = _live_md5(lake)
    inserts = spark.createDataFrame(
        [(9000, 1, 7.0)], "id long, grp long, val double"
    )
    lake.upsert(inserts, ["id"])
    after = _live_md5(lake)
    # nothing rewritten: every old file is live and unchanged; the
    # insert only adds files
    assert {f: after[f] for f in before} == before
    assert len(after) > len(before)
    assert lake.row_count() == 1001
