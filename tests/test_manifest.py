"""Versioned-lake laws: atomic publish, snapshot isolation / time
travel, mutation correctness against reference semantics, crash-orphan
and vacuum behavior."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clickbom_spark.ext.manifest import VersionedLake


def _mk(spark, tmp_path, n=500):
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 1.0).alias("val"),
    )
    return VersionedLake.create(spark, str(tmp_path / "vlake"), df, n_files=4)


def test_time_travel_reads_every_snapshot(spark, tmp_path):
    lake = _mk(spark, tmp_path)
    v0 = lake.current_version()
    lake.update(F.col("id") < 100, {"val": F.lit(-1.0)})
    lake.delete(F.col("id") >= 450)
    assert lake.current_version() == v0 + 2

    # v0: pristine
    d0 = lake.read(v0)
    assert d0.count() == 500
    assert d0.where(F.col("val") < 0).count() == 0
    # v1: update visible, delete not yet
    d1 = lake.read(v0 + 1)
    assert d1.count() == 500
    assert d1.where(F.col("val") == -1.0).count() == 100
    # v2 == current
    d2 = lake.read()
    assert d2.count() == 450
    assert d2.where(F.col("val") == -1.0).count() == 100
    hist = lake.history()
    assert [h["message"] for h in hist] == ["create", "update", "delete"]
    assert [h["n_rows"] for h in hist] == [500, 500, 450]


def test_upsert_and_reference_semantics(spark, tmp_path):
    lake = _mk(spark, tmp_path)
    changes = spark.createDataFrame(
        [(10, 0, 99.0), (9999, 1, 42.0)], "id long, grp long, val double"
    )
    lake.upsert(changes, ["id"])
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(got) == 501
    assert got[10] == 99.0 and got[9999] == 42.0 and got[11] == 11.0
    # the pre-upsert snapshot (v0 = create) still shows the old value
    old = {r["id"]: r["val"] for r in lake.read(0).collect()}
    assert old[10] == 10.0 and 9999 not in old


def test_mutations_rewrite_only_affected_files(spark, tmp_path):
    lake = _mk(spark, tmp_path)
    before = set(lake._manifest()["files"])
    lake.update(F.col("id") < 50, {"val": F.lit(0.0)})
    after = set(lake._manifest()["files"])
    survivors = before & after
    assert survivors, "update must not rewrite every file"
    assert after - before, "update must produce new files"


def test_vacuum_drops_unreferenced_and_orphans(spark, tmp_path):
    lake = _mk(spark, tmp_path)
    lake.update(F.col("id") < 100, {"val": F.lit(-1.0)})
    # crash simulation: an orphan data file from an unpublished commit
    orphan = os.path.join(lake.path, "cdeadbeef-part-orphan.parquet")
    open(orphan, "wb").write(b"junk")
    state_before = {r["id"]: r["val"] for r in lake.read().collect()}
    deleted = lake.vacuum(keep_last=1)
    assert "cdeadbeef-part-orphan.parquet" in deleted
    assert any(d.startswith("v0-") for d in deleted)  # v0-only files gone
    # current snapshot unharmed
    assert {r["id"]: r["val"] for r in lake.read().collect()} == state_before
    # time travel to vacuumed snapshots is refused, not wrong
    import pytest

    with pytest.raises(ValueError, match="no snapshot"):
        lake.read(0)


def test_readers_never_see_half_commits(spark, tmp_path):
    """A reader that resolved its file list keeps a consistent snapshot
    even if a commit lands before it materializes."""
    lake = _mk(spark, tmp_path)
    snapshot = lake.read()  # resolves v0's explicit file list
    lake.update(F.col("id") < 100, {"val": F.lit(-1.0)})
    # the already-resolved frame still reads the OLD files
    assert snapshot.where(F.col("val") < 0).count() == 0


def test_change_feed_matches_bruteforce_snapshot_diff(spark, tmp_path):
    from clickbom_spark.ext.manifest import change_feed

    lake = _mk(spark, tmp_path)
    lake.update(F.col("id").between(40, 59), {"val": F.lit(-5.0)})
    lake.delete(F.col("id") >= 480)
    lake.upsert(
        spark.createDataFrame(
            [(40, 0, 777.0), (8888, 3, 1.0)], "id long, grp long, val double"
        ),
        ["id"],
    )

    def snap(v):
        return {
            r["id"]: (r["grp"], r["val"]) for r in lake.read(v).collect()
        }

    for v in range(3):
        pre, post = snap(v), snap(v + 1)
        want = {"insert": set(), "delete": set(), "update": set()}
        for k in pre.keys() - post.keys():
            want["delete"].add(k)
        for k in post.keys() - pre.keys():
            want["insert"].add(k)
        for k in pre.keys() & post.keys():
            if pre[k] != post[k]:
                want["update"].add(k)
        cf = change_feed(lake, v, v + 1, ["id"]).collect()
        got = {"insert": set(), "delete": set(), "update_pre": set(),
               "update_post": set()}
        for r in cf:
            got[r["_change_type"]].add(r["id"])
        assert got["insert"] == want["insert"], v
        assert got["delete"] == want["delete"], v
        assert got["update_pre"] == want["update"], v
        assert got["update_post"] == want["update"], v
        # pre/post rows carry the correct values
        for r in cf:
            if r["_change_type"] == "update_pre":
                assert (r["grp"], r["val"]) == pre[r["id"]]
            if r["_change_type"] == "update_post":
                assert (r["grp"], r["val"]) == post[r["id"]]

    # identical versions produce an empty feed
    assert change_feed(lake, 3, 3, ["id"]).count() == 0


def test_incremental_sum_agg_equals_full_recompute(spark, tmp_path):
    """Rolling the materialized aggregate forward with CDF deltas must
    equal a full recompute of the target snapshot, across an
    update + delete + upsert history — including groups that appear,
    change, and vanish."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        maintain_sum_agg,
        sum_agg_of,
    )

    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 10).alias("val"),  # long: exact sums
    )
    lake = VersionedLake.create(spark, str(tmp_path / "ivm"), df, n_files=4)
    lake.update(F.col("id") < 30, {"val": F.lit(0).cast("long")})
    lake.delete(F.col("grp") == 3)  # a whole group vanishes
    lake.upsert(
        spark.createDataFrame(
            [(900, 7, 5), (10, 0, 123)], "id long, grp long, val long"
        ),
        ["id"],
    )

    mat = sum_agg_of(lake.read(0), ["grp"], ["val"])
    for v in range(3):
        mat = maintain_sum_agg(
            lake, mat, v, v + 1, ["grp"], ["id"], ["val"]
        )
        want = {
            (r["grp"]): (r["n_rows"], r["sum_val"])
            for r in sum_agg_of(lake.read(v + 1), ["grp"], ["val"]).collect()
        }
        got = {
            (r["grp"]): (r["n_rows"], r["sum_val"]) for r in mat.collect()
        }
        assert got == want, (v, got, want)
    assert 7 in got and 3 not in got  # new group present, dead group gone


def test_incremental_uniq_state_equals_full_recompute(spark, tmp_path):
    """Round-12: rolling the HLL code-set distinct matview forward
    with CDF inserts must equal a full recompute of the target
    snapshot — set-for-set AND estimate-for-estimate (union of
    register states is exact) — and the finalized estimates must
    match the dialect's own uniqMerge values for the same data."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        maintain_uniq_state,
        uniq_state_of,
    )
    from clickbom_spark.ext.sketches import hll_distinct_from_codes

    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 97).alias("u"),
    )
    lake = VersionedLake.create(spark, str(tmp_path / "uq"), df, n_files=3)
    # two insert-only commits (fresh keys)
    for lo in (1000, 2000):
        lake.upsert(
            spark.range(lo, lo + 150).select(
                F.col("id"),
                (F.col("id") % 3).alias("grp"),
                (F.col("id") % 113).alias("u"),
            ),
            ["id"],
        )
    mat = uniq_state_of(lake.read(0), ["grp"], "u")
    for v in range(2):
        mat = maintain_uniq_state(lake, mat, v, v + 1, ["grp"], ["id"], "u")
        full = uniq_state_of(lake.read(v + 1), ["grp"], "u")
        got = {(r["grp"], r["code"]) for r in mat.collect()}
        want = {(r["grp"], r["code"]) for r in full.collect()}
        assert got == want, (v, len(got), len(want))
    est = {
        r["grp"]: r["uniq_est"]
        for r in hll_distinct_from_codes(mat, ["grp"]).collect()
    }
    # finalized estimate == the dialect's uniqMerge over the same data
    from clickbom_spark.dialect import translate_clickhouse_sql

    lake.read().createOrReplaceTempView("uq_final")
    want_est = {
        r["grp"]: r["u"]
        for r in spark.sql(translate_clickhouse_sql(
            "SELECT grp, uniqMerge(s) AS u FROM "
            "(SELECT grp, uniqState(u) AS s FROM uq_final GROUP BY grp) "
            "GROUP BY grp"
        )).collect()
    }
    assert est == want_est
    # exact distinct is 113 per group here; the estimate must be in
    # the m=256 error band
    exact = {
        r["grp"]: r["n"]
        for r in lake.read().groupBy("grp")
        .agg(F.countDistinct("u").alias("n")).collect()
    }
    for g in exact:
        assert abs(est[g] - exact[g]) <= 4 * 1.04 / 16 * exact[g] + 2


def test_uniq_state_refuses_retractions(spark, tmp_path):
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        maintain_uniq_state,
        uniq_state_of,
    )

    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 2).alias("grp"), F.col("id").alias("u")
    )
    lake = VersionedLake.create(spark, str(tmp_path / "uqr"), df, n_files=2)
    lake.delete(F.col("id") < 5)
    mat = uniq_state_of(lake.read(0), ["grp"], "u")
    with pytest.raises(ValueError, match="retract"):
        maintain_uniq_state(lake, mat, 0, 1, ["grp"], ["id"], "u")


def test_incremental_uniq_support_exact(spark, tmp_path):
    """The exact support-table IVM handles update + delete + upsert —
    uniq_exact_of over the rolled table equals count(DISTINCT)
    recomputed on every snapshot, including groups that vanish."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        maintain_uniq_support,
        uniq_exact_of,
        uniq_support_of,
    )

    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") % 11).alias("u"),
    )
    lake = VersionedLake.create(spark, str(tmp_path / "uqs"), df, n_files=4)
    lake.update(F.col("id") < 30, {"u": F.lit(99).cast("long")})
    lake.delete(F.col("grp") == 3)
    lake.upsert(
        spark.createDataFrame(
            [(900, 7, 5), (10, 0, 123)], "id long, grp long, u long"
        ),
        ["id"],
    )
    mat = uniq_support_of(lake.read(0), ["grp"], "u")
    for v in range(3):
        mat = maintain_uniq_support(
            lake, mat, v, v + 1, ["grp"], ["id"], "u"
        )
        got = {
            r["grp"]: r["n_distinct"]
            for r in uniq_exact_of(mat, ["grp"]).collect()
        }
        want = {
            r["grp"]: r["n"]
            for r in lake.read(v + 1).groupBy("grp")
            .agg(F.countDistinct("u").alias("n")).collect()
        }
        assert got == want, (v, got, want)
    assert 7 in got and 3 not in got


def test_compaction_is_a_logical_noop_with_empty_cdf(spark, tmp_path):
    from clickbom_spark.ext.manifest import change_feed, compact

    lake = _mk(spark, tmp_path)
    # fragment the lake: several tiny upserts create small files
    for i in range(3):
        lake.upsert(
            spark.createDataFrame(
                [(7000 + i, 1, 1.0)], "id long, grp long, val double"
            ),
            ["id"],
        )
    v_before = lake.current_version()
    n_files_before = len(lake._manifest()["files"])
    state_before = {r["id"]: r["val"] for r in lake.read().collect()}
    compact(lake, target_files=2)
    assert len(lake._manifest()["files"]) == 2 < n_files_before
    assert {r["id"]: r["val"] for r in lake.read().collect()} == state_before
    # physical rewrite, zero logical change
    assert change_feed(
        lake, v_before, lake.current_version(), ["id"]
    ).count() == 0


def test_streaming_epoch_sink_exactly_once_under_replay(spark, tmp_path):
    """Replaying an epoch (Spark's at-least-once foreachBatch contract
    after a failure) must not change the lake: the epoch marker is the
    idempotency token."""
    from clickbom_spark.ext.manifest import streaming_epoch_sink

    lake = _mk(spark, tmp_path, n=100)
    sink = streaming_epoch_sink(lake, ["id"])
    b1 = spark.createDataFrame(
        [(10, 0, -1.0), (200, 2, 5.0)], "id long, grp long, val double"
    )
    b2 = spark.createDataFrame(
        [(11, 1, -2.0)], "id long, grp long, val double"
    )
    sink(b1, 0)
    sink(b2, 1)
    state = {r["id"]: r["val"] for r in lake.read().collect()}
    assert state[10] == -1.0 and state[200] == 5.0 and state[11] == -2.0
    v = lake.current_version()
    # replay both epochs (same epoch ids) — no new versions, same state
    sink(b1, 0)
    sink(b2, 1)
    assert lake.current_version() == v
    assert {r["id"]: r["val"] for r in lake.read().collect()} == state
    # a NEW epoch still commits
    sink(
        spark.createDataFrame([(12, 0, 9.0)], "id long, grp long, val double"),
        2,
    )
    assert lake.current_version() == v + 1
    assert {r["id"]: r["val"] for r in lake.read().collect()}[12] == 9.0


def test_streaming_epoch_sink_end_to_end_with_real_stream(spark, tmp_path):
    """Real readStream → foreachBatch(epoch sink) → versioned lake;
    re-running the whole stream from a fresh checkpoint replays the
    same epochs and must leave the lake untouched."""
    from clickbom_spark.ext.manifest import streaming_epoch_sink

    lake = _mk(spark, tmp_path, n=50)
    src = str(tmp_path / "stream_src")
    updates = spark.createDataFrame(
        [(i, i % 5, float(-i)) for i in range(20)],
        "id long, grp long, val double",
    )
    updates.repartition(3).write.parquet(src)

    def run(ckpt):
        stream = (
            spark.readStream.schema(updates.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                streaming_epoch_sink(lake, ["id"])
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run("ckpt1")
    state = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(state) == 50
    for i in range(20):
        assert state[i] == float(-i)
    v = lake.current_version()
    # fresh checkpoint: Spark replays the files as the same epoch ids
    run("ckpt2")
    assert lake.current_version() == v
    assert {r["id"]: r["val"] for r in lake.read().collect()} == state


@pytest.mark.slow
def test_lake_model_based_random_mutation_sequence(spark, tmp_path):
    """Model-based check: a random sequence of update/delete/upsert/
    compact ops applied to both the lake and an in-memory dict model;
    every snapshot must equal the model's state at that version, and
    every consecutive CDF must equal the model diff."""
    import random

    from clickbom_spark.ext.manifest import change_feed, compact

    rng = random.Random(42)
    model = {i: (i % 3, float(i)) for i in range(120)}
    df = spark.createDataFrame(
        [(k, g, v) for k, (g, v) in model.items()],
        "id long, grp long, val double",
    )
    lake = VersionedLake.create(spark, str(tmp_path / "mb"), df, n_files=3)
    states = {0: dict(model)}

    for step in range(8):
        op = rng.choice(["update", "delete", "upsert", "compact"])
        if op == "update":
            lo = rng.randrange(0, 120)
            hi = lo + rng.randrange(1, 30)
            delta = float(rng.randrange(1, 9) * 1000)
            lake.update(
                F.col("id").between(lo, hi), {"val": F.lit(delta)}
            )
            for k in list(model):
                if lo <= k <= hi:
                    model[k] = (model[k][0], delta)
        elif op == "delete":
            g = rng.randrange(0, 3)
            cut = rng.randrange(0, 120)
            lake.delete((F.col("grp") == g) & (F.col("id") >= cut))
            for k in list(model):
                if model[k][0] == g and k >= cut:
                    del model[k]
        elif op == "upsert":
            rows = [
                (rng.randrange(0, 200), rng.randrange(0, 3),
                 float(rng.randrange(0, 50)))
                for _ in range(rng.randrange(1, 6))
            ]
            # dedup keys (upsert forbids duplicates)
            rows = list({r[0]: r for r in rows}.values())
            lake.upsert(
                spark.createDataFrame(rows, "id long, grp long, val double"),
                ["id"],
            )
            for k, g, v in rows:
                model[k] = (g, v)
        else:
            compact(lake, target_files=rng.randrange(2, 5))
        states[lake.current_version()] = dict(model)

    for v, want in states.items():
        got = {
            r["id"]: (r["grp"], r["val"]) for r in lake.read(v).collect()
        }
        assert got == want, f"snapshot v{v} diverged from model"

    versions = sorted(states)
    for a, b in zip(versions, versions[1:]):
        pre, post = states[a], states[b]
        expect_ins = post.keys() - pre.keys()
        expect_del = pre.keys() - post.keys()
        expect_upd = {
            k for k in pre.keys() & post.keys() if pre[k] != post[k]
        }
        cf = change_feed(lake, a, b, ["id"]).collect()
        got_t: dict = {"insert": set(), "delete": set(),
                       "update_pre": set(), "update_post": set()}
        for r in cf:
            got_t[r["_change_type"]].add(r["id"])
        assert got_t["insert"] == expect_ins, (a, b)
        assert got_t["delete"] == expect_del, (a, b)
        assert got_t["update_pre"] == expect_upd, (a, b)
        assert got_t["update_post"] == expect_upd, (a, b)


def test_manifest_zone_maps_prune_files_without_losing_rows(spark, tmp_path):
    """read_pruned must read a strict file subset for a selective range
    (metadata-only skipping) while returning exactly the rows a full
    scan + filter would."""
    from clickbom_spark.ext.manifest import commit_with_stats, read_pruned

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 9).alias("grp")
    )
    lake = VersionedLake.create(spark, str(tmp_path / "zm"), df, n_files=1)
    # range-partition into files with tight, disjoint id ranges
    lake.spark.conf.set("spark.sql.shuffle.partitions", "8")
    # rewrite as 8 range files (compact-like relayout)
    new_files = lake._write_new(
        lake.read().repartitionByRange(8, "id").sortWithinPartitions("id")
    )
    lake._commit(new_files, 1000, "relayout")
    commit_with_stats(lake, ["id"])

    out, n_total, n_read = read_pruned(lake, "id", 100, 199)
    assert n_read < n_total, (n_read, n_total)
    got = sorted(
        r["id"] for r in out.where(F.col("id").between(100, 199)).collect()
    )
    assert got == list(range(100, 200))

    # disjoint range: zero files read, empty result, schema intact
    out2, _, n_read2 = read_pruned(lake, "id", 5000, 6000)
    assert n_read2 == 0 and out2.count() == 0
    assert out2.columns == ["id", "grp"]

    # stats-free snapshot falls back to reading everything (correct,
    # just unpruned)
    out3, n_total3, n_read3 = read_pruned(lake, "id", 100, 199, version=1)
    assert n_read3 == n_total3
    assert out3.where(F.col("id").between(100, 199)).count() == 100


def test_zone_maps_survive_mutations_incrementally(spark, tmp_path):
    """After commit_with_stats, every later mutation commit carries
    untouched files' stats forward verbatim and adds fresh stats for
    its new files — pruned reads keep working on the mutated lake."""
    from clickbom_spark.ext.manifest import commit_with_stats, read_pruned

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 9).alias("grp"))
    lake = VersionedLake.create(spark, str(tmp_path / "zmi"), df, n_files=1)
    new_files = lake._write_new(
        lake.read().repartitionByRange(8, "id").sortWithinPartitions("id")
    )
    lake._commit(new_files, 1000, "relayout")
    commit_with_stats(lake, ["id"])
    stats_v = lake._manifest()["stats"]

    lake.update(F.col("id") < 60, {"grp": F.lit(99).cast("long")})
    m = lake._manifest()
    assert "stats" in m
    carried = {
        f: st for f, st in m["stats"].items() if f in stats_v
    }
    assert carried and all(stats_v[f] == st for f, st in carried.items())
    fresh = set(m["stats"]) - set(stats_v)
    assert fresh  # rewritten subset got new stats

    out, n_total, n_read = read_pruned(lake, "id", 500, 599)
    assert n_read < n_total
    assert (
        out.where(F.col("id").between(500, 599)).count() == 100
    )
    # the mutated region is found through the fresh files' stats too
    out2, _, _ = read_pruned(lake, "id", 0, 59)
    assert out2.where(F.col("grp") == 99).count() == 60


def test_manifest_blooms_match_python_model_and_skip_files(spark, tmp_path):
    """The distributed bit_or bloom construction must equal a python
    reference bloom per file, present keys must always be found, and
    absent keys must skip (nearly) all files even under a hash-
    scattered layout where min/max ranges cannot prune."""
    from clickbom_spark.ext.manifest import (
        _bloom_positions_py,
        commit_with_blooms,
        read_pruned_point,
    )

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 9).alias("grp"))
    lake = VersionedLake.create(spark, str(tmp_path / "bl"), df, n_files=1)
    # hash-scattered relayout: every file spans the whole id range
    new_files = lake._write_new(lake.read().repartition(8, "grp"))
    lake._commit(new_files, 1000, "scatter")
    commit_with_blooms(lake, "id")

    # the stored blooms equal a per-file python reference model
    m = lake._manifest()
    import os as _os

    for f, ws in m["blooms"]["files"].items():
        ids = [
            r["id"]
            for r in spark.read.parquet(
                _os.path.join(lake.path, f)
            ).collect()
        ]
        ref: dict = {}
        for i in ids:
            for p in _bloom_positions_py(i):
                ref[p // 64] = ref.get(p // 64, 0) | (1 << (p % 64))
        got = {int(w): int(h, 16) for w, h in ws.items()}
        assert got == ref, f

    # present keys: always found
    for key in (0, 123, 999):
        out, n_total, n_read = read_pruned_point(lake, key)
        assert out.where(F.col("id") == key).count() == 1
        assert n_read <= n_total
    # absent keys: typically zero files survive (allow rare fp)
    reads = []
    for key in range(2000, 2030):
        _, n_total, n_read = read_pruned_point(lake, key)
        reads.append(n_read)
    assert sum(reads) <= 2, reads  # ~all 30 probes skip all 8 files


def test_blooms_survive_mutations_incrementally(spark, tmp_path):
    """After commit_with_blooms, mutation commits carry untouched
    files' blooms forward verbatim and rebuild only the fresh files' —
    point-lookup skipping keeps working on the mutated lake."""
    from clickbom_spark.ext.manifest import (
        commit_with_blooms,
        read_pruned_point,
    )

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 9).alias("grp"))
    lake = VersionedLake.create(spark, str(tmp_path / "bli"), df, n_files=1)
    new_files = lake._write_new(
        lake.read().repartitionByRange(8, "id").sortWithinPartitions("id")
    )
    lake._commit(new_files, 1000, "relayout")
    commit_with_blooms(lake, "id")
    before = lake._manifest()["blooms"]["files"]

    lake.upsert(
        spark.createDataFrame(
            [(5000, 1, 1), (17, 0, 1)], "id long, grp long, val long"
        ).select("id", "grp"),
        ["id"],
    )
    m = lake._manifest()
    assert "blooms" in m
    carried = {f: b for f, b in m["blooms"]["files"].items() if f in before}
    assert carried and all(before[f] == b for f, b in carried.items())
    assert set(m["blooms"]["files"]) - set(before)  # fresh files rebuilt

    out, n_total, n_read = read_pruned_point(lake, 5000)
    assert out.where(F.col("id") == 5000).count() == 1
    out17, _, _ = read_pruned_point(lake, 17)
    assert out17.where(F.col("id") == 17).count() == 1
    _, _, n_absent = read_pruned_point(lake, 999999)
    assert n_absent <= 1


def test_add_column_evolution_without_rewrites(spark, tmp_path):
    """add_column changes NO data file: old snapshots are unaffected,
    reads surface the default for pre-evolution files, post-evolution
    writes carry real values, and mutations preserve them."""
    from clickbom_spark.ext.manifest import add_column

    lake = _mk(spark, tmp_path, n=100)
    files_before = set(lake._manifest()["files"])
    add_column(lake, "quality", 0.5)
    assert set(lake._manifest()["files"]) == files_before  # zero rewrites

    cur = lake.read()
    assert "quality" in cur.columns
    assert cur.where(F.col("quality") == 0.5).count() == 100
    # pre-evolution snapshot is untouched
    assert "quality" not in lake.read(0).columns

    # new rows carry real values through upsert
    lake.upsert(
        spark.createDataFrame(
            [(500, 1, 2.0, 0.9)],
            "id long, grp long, val double, quality double",
        ),
        ["id"],
    )
    got = {
        r["id"]: r["quality"] for r in lake.read().collect()
    }
    assert got[500] == 0.9
    assert got[1] == 0.5  # old rows keep the default

    # an update touching old files keeps the evolved column intact
    lake.update(F.col("id") < 10, {"val": F.lit(-1.0)})
    got2 = {r["id"]: r["quality"] for r in lake.read().collect()}
    assert got2[500] == 0.9 and got2[5] == 0.5

    import pytest

    with pytest.raises(ValueError, match="already added"):
        add_column(lake, "quality", 1.0)


def test_multi_column_pruning_intersects_ranges(spark, tmp_path):
    from clickbom_spark.ext.manifest import (
        commit_with_stats,
        read_pruned_multi,
    )

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 3).alias("b")
    )
    lake = VersionedLake.create(spark, str(tmp_path / "mc"), df, n_files=1)
    new_files = lake._write_new(
        lake.read().repartitionByRange(8, "id").sortWithinPartitions("id")
    )
    lake._commit(new_files, 1000, "relayout")
    commit_with_stats(lake, ["id", "b"])

    out, n_total, n_read = read_pruned_multi(
        lake, {"id": (100, 199), "b": (300, 597)}
    )
    assert n_read < n_total
    rows = out.where(
        F.col("id").between(100, 199) & F.col("b").between(300, 597)
    ).count()
    assert rows == 100  # ids 100..199 all satisfy b = 3*id in [300, 597]
    # contradictory conjunction: nothing survives
    _, _, n0 = read_pruned_multi(lake, {"id": (0, 50), "b": (900, 999)})
    assert n0 == 0


def test_add_column_expression_default(spark, tmp_path):
    """MATERIALIZED-expression defaults: the added column derives from
    the row at read time on pre-evolution files, physical values win
    after a rewrite, and old snapshots stay untouched."""
    from clickbom_spark.ext.manifest import add_column

    lake = _mk(spark, tmp_path, n=50)
    add_column(lake, "val_sq", "val * val", expr=True)
    cur = lake.read()
    got = {r["id"]: r["val_sq"] for r in cur.collect()}
    assert got[7] == 49.0 and got[0] == 0.0
    assert "val_sq" not in lake.read(0).columns

    # expression columns are ALWAYS derived (ClickHouse MATERIALIZED
    # semantics): updating the source column updates the derivation,
    # with no recompute bookkeeping
    lake.update(F.col("id") == 7, {"val": F.lit(100.0)})
    got2 = {r["id"]: r["val_sq"] for r in lake.read().collect()}
    assert got2[8] == 64.0
    assert got2[7] == 10000.0

# ---- round-6: commit protocol hardening ----


def test_add_column_then_stats_preserves_schema_extras(spark, tmp_path):
    """The metadata-commit path must carry EVERY manifest section
    forward: add_column → commit_with_stats previously rebuilt the
    payload from scratch and silently dropped the evolved column."""
    from clickbom_spark.ext.manifest import add_column, commit_with_stats

    lake = _mk(spark, tmp_path)
    add_column(lake, "quality", 0.5)
    commit_with_stats(lake, ["id"])
    df = lake.read()
    assert "quality" in df.columns
    assert df.where(F.col("quality") == 0.5).count() == 500
    m = lake._manifest()
    assert m["schema_extras"] == {"quality": 0.5}
    assert "stats" in m


def test_blooms_then_stats_then_blooms_all_carried(spark, tmp_path):
    """Stacked metadata commits (blooms → stats) keep both sections."""
    from clickbom_spark.ext.manifest import (
        commit_with_blooms,
        commit_with_stats,
        read_pruned,
        read_pruned_point,
    )

    lake = _mk(spark, tmp_path)
    commit_with_blooms(lake, "id")
    commit_with_stats(lake, ["grp"])
    m = lake._manifest()
    assert "blooms" in m and "stats" in m
    # both pruning paths still function on the same snapshot
    _, total, read_z = read_pruned(lake, "grp", 0, 0)
    assert 0 < read_z <= total
    _, total_b, read_b = read_pruned_point(lake, 3)
    assert 0 < read_b <= total_b


def test_two_writer_contention_no_lost_update(spark, tmp_path):
    """Optimistic concurrency: two threads upsert DISJOINT key sets
    concurrently.  Exactly one wins the first commit; the loser detects
    the conflict, re-runs against the winner's snapshot, and commits on
    top — both change sets land, no snapshot number is double-assigned,
    and no writer's rows are lost."""
    import threading

    lake = _mk(spark, tmp_path, n=200)
    v0 = lake.current_version()
    barrier = threading.Barrier(2)
    results: dict[str, int] = {}
    errors: list[BaseException] = []

    def writer(tag: str, lo: int):
        changes = spark.createDataFrame(
            [(lo + i, 0, float(1000 + lo)) for i in range(3)],
            "id long, grp long, val double",
        )
        try:
            barrier.wait(timeout=60)
            results[tag] = lake.upsert(changes, ["id"])
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("a", 5000))
    t2 = threading.Thread(target=writer, args=("b", 6000))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    # two distinct versions were assigned (the loser retried, it did
    # not clobber the winner's manifest)
    assert sorted(results.values()) == [v0 + 1, v0 + 2]
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    for lo in (5000, 6000):
        for i in range(3):
            assert got[lo + i] == float(1000 + lo)
    assert len(got) == 206


def test_change_feed_carries_evolved_column_on_both_sides(spark, tmp_path):
    """CDF over an evolved lake: removed files that predate add_column
    must still surface the evolved column (read under the target
    snapshot's logical schema), with symmetric pre/post schemas."""
    from clickbom_spark.ext.manifest import add_column, change_feed

    lake = _mk(spark, tmp_path, n=100)
    v0 = lake.current_version()
    add_column(lake, "quality", 0.5)
    lake.update(F.col("id") == 7, {"val": F.lit(-7.0)})
    v2 = lake.current_version()
    cf = change_feed(lake, v0, v2, ["id"])
    assert "quality" in cf.columns
    rows = {r["_change_type"]: r for r in cf.where(F.col("id") == 7).collect()}
    assert set(rows) == {"update_pre", "update_post"}
    assert rows["update_pre"]["quality"] == 0.5
    assert rows["update_post"]["quality"] == 0.5
    assert rows["update_pre"]["val"] == 7.0
    assert rows["update_post"]["val"] == -7.0


def test_epoch_marker_atomic_and_survives_vacuum(spark, tmp_path):
    """The epoch high-water mark rides in the same manifest swap as the
    data (no committed-but-unmarked window) and is carried forward by
    later commits — so vacuum dropping old manifests cannot resurrect
    an already-applied epoch."""
    from clickbom_spark.ext.manifest import (
        epoch_committed,
        streaming_epoch_sink,
    )

    lake = _mk(spark, tmp_path, n=50)
    sink = streaming_epoch_sink(lake, ["id"])
    b0 = spark.createDataFrame([(900, 0, 1.0)], "id long, grp long, val double")
    b1 = spark.createDataFrame([(901, 0, 2.0)], "id long, grp long, val double")
    sink(b0, 0)
    sink(b1, 1)
    # marker is IN the epoch's own manifest (single atomic publish)
    m = lake._manifest()
    assert m["last_epoch"] == 1 and m["message"] == "epoch-1"
    # a non-epoch commit carries the mark forward
    lake.update(F.col("id") == 900, {"val": F.lit(9.0)})
    assert lake._manifest()["last_epoch"] == 1
    # vacuum to a single surviving manifest; old epochs stay detected
    lake.vacuum(keep_last=1)
    assert epoch_committed(lake, 0) and epoch_committed(lake, 1)
    v = lake.current_version()
    sink(b0, 0)  # late replay of an old epoch: must be a no-op
    sink(b1, 1)
    assert lake.current_version() == v
    sink(spark.createDataFrame([(902, 0, 3.0)], "id long, grp long, val double"), 2)
    assert lake.current_version() == v + 1
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert got[900] == 9.0 and got[901] == 2.0 and got[902] == 3.0


def test_merge_cdc_full_merge_semantics_and_idempotent_replay(spark, tmp_path):
    """One CDC batch (I/U/D) = one snapshot with exactly the merged
    state; replaying the same batch converges to the same state; the
    change feed across the commit shows the right per-key changes."""
    from clickbom_spark.ext.manifest import change_feed

    lake = _mk(spark, tmp_path, n=100)
    v0 = lake.current_version()
    batch = spark.createDataFrame(
        [
            (500, 0, 1.5, "I"),   # brand-new key
            (10, 0, -10.0, "U"),  # replaces id=10
            (20, 0, 0.0, "D"),    # deletes id=20
            (999, 0, 0.0, "D"),   # delete of a missing key: no-op
        ],
        "id long, grp long, val double, op string",
    )
    lake.merge_cdc(batch, ["id"])
    v1 = lake.current_version()
    assert v1 == v0 + 1
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert got[500] == 1.5 and got[10] == -10.0
    assert 20 not in got and 999 not in got
    assert len(got) == 100  # 100 - 1 deleted + 1 inserted
    cf = change_feed(lake, v0, v1, ["id"])
    by_type = {
        (r["_change_type"], r["id"])
        for r in cf.where(F.col("id").isin(500, 10, 20)).collect()
    }
    assert ("insert", 500) in by_type
    assert ("delete", 20) in by_type
    assert ("update_pre", 10) in by_type and ("update_post", 10) in by_type
    # replay: same batch applied again → same state (new version, since
    # the I/U rows rewrite, but values identical)
    lake.merge_cdc(batch, ["id"])
    got2 = {r["id"]: r["val"] for r in lake.read().collect()}
    assert got2 == got


def test_merge_cdc_rejects_bad_ops_and_duplicate_keys(spark, tmp_path):
    import pytest

    lake = _mk(spark, tmp_path, n=20)
    bad_op = spark.createDataFrame(
        [(1, 0, 0.0, "X")], "id long, grp long, val double, op string"
    )
    with pytest.raises(ValueError, match="unknown ops"):
        lake.merge_cdc(bad_op, ["id"])
    dup = spark.createDataFrame(
        [(1, 0, 0.0, "U"), (1, 0, 1.0, "D")],
        "id long, grp long, val double, op string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        lake.merge_cdc(dup, ["id"])


def test_zorder_layout_improves_multi_column_manifest_pruning(spark, tmp_path):
    """Layout × metadata synergy: the SAME manifest zone maps prune a
    2-D box predicate far better over a z-ordered file layout than over
    an unclustered one — and the pruned read stays a correct superset."""
    from clickbom_spark.ext.layout import write_zordered
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        commit_with_stats,
        read_pruned_multi,
    )
    from clickbom_spark.session import read_table
    from tests.conftest import SF_SMOKE

    events = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )

    def lake_files_read(df_writer, name):
        path = str(tmp_path / name)
        df_writer(path)
        files = spark.read.parquet(path)
        lake = VersionedLake(spark, path)
        import os as _os

        _os.makedirs(_os.path.join(path, "_manifests"))
        parts = [
            _os.path.join(path, f)
            for f in sorted(_os.listdir(path))
            if f.startswith("part-")
        ]
        lake._commit(parts, files.count(), "create")
        commit_with_stats(lake, ["user_id", "cents"])
        ranges = {"user_id": (10, 20), "cents": (1000, 2000)}
        frame, total, n_read = read_pruned_multi(lake, ranges)
        got = frame.where(
            F.col("user_id").between(10, 20) & F.col("cents").between(1000, 2000)
        ).count()
        return got, total, n_read

    exact = events.where(
        F.col("user_id").between(10, 20) & F.col("cents").between(1000, 2000)
    ).count()
    assert exact > 0

    got_z, total_z, read_z = lake_files_read(
        lambda p: write_zordered(
            events, [F.col("user_id"), F.col("cents")], p, n_files=16
        ),
        "zlake",
    )
    got_n, total_n, read_n = lake_files_read(
        lambda p: events.repartition(16).write.parquet(p), "nlake"
    )
    # correctness first: both layouts return the exact box count
    assert got_z == exact and got_n == exact
    # the naive layout scatters both dims → zone maps prune nothing
    assert read_n == total_n
    # the z-ordered layout localizes the box → most files skipped
    assert read_z < total_z / 2, (read_z, total_z)


def test_projection_exact_through_mutations_refresh_and_compaction(
    spark, tmp_path
):
    """ClickHouse-PROJECTION analog: the stored aggregate, rolled
    forward through the change feed at read time, equals a full
    recompute after every kind of commit — update, delete, upsert,
    CDC merge, compaction (CDF-empty: projection untouched) — and
    refresh_projection re-bases it without changing the answer."""
    from clickbom_spark.ext.manifest import (
        add_projection,
        compact,
        read_projection,
        refresh_projection,
        sum_agg_of,
    )

    # integer measure column (cents) so the maintained sums are exact
    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 3).alias("cents"),
    )
    from clickbom_spark.ext.manifest import VersionedLake

    lake = VersionedLake.create(spark, str(tmp_path / "plake"), df, n_files=4)
    add_projection(lake, "by_grp", ["id"], ["grp"], ["cents"])

    def check():
        got = {
            r["grp"]: (r["n_rows"], r["sum_cents"])
            for r in read_projection(lake, "by_grp").collect()
        }
        want = {
            r["grp"]: (r["n_rows"], r["sum_cents"])
            for r in sum_agg_of(lake.read(), ["grp"], ["cents"]).collect()
        }
        assert got == want and want
        return got

    base = check()
    lake.update(F.col("id") < 50, {"cents": F.lit(0).cast("long")})
    assert check() != base  # the roll-forward really applied
    lake.delete(F.col("id") >= 290)
    check()
    changes = spark.createDataFrame(
        [(1000, 1, 7), (2, 2, 9)], "id long, grp long, cents long"
    )
    lake.upsert(changes, ["id"])
    check()
    batch = spark.createDataFrame(
        [(1001, 3, 11, "I"), (1000, 1, 0, "D"), (3, 4, 13, "U")],
        "id long, grp long, cents long, op string",
    )
    lake.merge_cdc(batch, ["id"])
    after_cdc = check()
    # compaction is logically empty: projection answer unchanged
    compact(lake, target_files=2)
    assert check() == after_cdc
    # refresh re-bases: built_at pins the data version the refresh saw
    # (the version just before its own meta commit), answer unchanged
    v = refresh_projection(lake, "by_grp")
    m = lake._manifest()
    assert m["projections"]["by_grp"]["built_at"] == v - 1
    assert check() == after_cdc
    # refresh when already current is a no-op commit
    assert refresh_projection(lake, "by_grp") == lake.current_version()


def test_route_aggregate_uses_matching_projection_exactly(spark, tmp_path):
    """Routing: a GROUP BY on a subset of a projection's group columns
    is answered from the projection by re-aggregation, exactly; an
    uncovered aggregate falls back to the scan."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        add_projection,
        route_aggregate,
        sum_agg_of,
    )

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") % 3).alias("sub"),
        (F.col("id") * 2).alias("cents"),
    )
    lake = VersionedLake.create(spark, str(tmp_path / "rlake"), df, n_files=3)
    add_projection(lake, "fine", ["id"], ["grp", "sub"], ["cents"])
    lake.update(F.col("id") < 40, {"cents": F.lit(5).cast("long")})

    got, route = route_aggregate(lake, ["grp"], ["cents"])
    assert route == "fine"
    want = sum_agg_of(lake.read(), ["grp"], ["cents"])
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }
    # exact-match grouping also routes
    got2, route2 = route_aggregate(lake, ["grp", "sub"], ["cents"])
    assert route2 == "fine"
    want2 = sum_agg_of(lake.read(), ["grp", "sub"], ["cents"])
    assert {tuple(r) for r in got2.collect()} == {
        tuple(r) for r in want2.collect()
    }
    # a sum column no projection covers → scan
    _, route3 = route_aggregate(lake, ["grp"], ["id"])
    assert route3 == "scan"


def test_three_writer_mixed_mutation_contention(spark, tmp_path):
    """Optimistic concurrency under real contention: three threads run
    conflicting mutations (two updates + one upsert touching shared
    files) simultaneously; all three serialize through CommitConflict
    retries and every change lands."""
    import threading

    lake = _mk(spark, tmp_path, n=300)
    v0 = lake.current_version()
    barrier = threading.Barrier(3)
    errors: list[BaseException] = []

    def run(fn):
        try:
            barrier.wait(timeout=120)
            fn()
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    ups = spark.createDataFrame(
        [(9000, 0, -3.0)], "id long, grp long, val double"
    )
    t1 = threading.Thread(
        target=run,
        args=(lambda: lake.update(F.col("id") < 10, {"val": F.lit(-1.0)}),),
    )
    t2 = threading.Thread(
        target=run,
        args=(
            lambda: lake.update(
                (F.col("id") >= 100) & (F.col("id") < 110),
                {"val": F.lit(-2.0)},
            ),
        ),
    )
    t3 = threading.Thread(target=run, args=(lambda: lake.upsert(ups, ["id"]),))
    for t in (t1, t2, t3):
        t.start()
    for t in (t1, t2, t3):
        t.join(300)
    assert not errors, errors
    assert lake.current_version() == v0 + 3  # three serialized commits
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert all(got[i] == -1.0 for i in range(10))
    assert all(got[i] == -2.0 for i in range(100, 110))
    assert got[9000] == -3.0
    assert len(got) == 301

def test_vacuum_preserves_live_projection_window(spark, tmp_path):
    """vacuum must never reclaim a version a live projection still
    rolls forward through: after add_projection -> mutations ->
    vacuum(keep_last=1), read_projection still answers (and exactly);
    refresh_projection re-bases built_at, RELEASING the old window so
    the next vacuum reclaims it."""
    from clickbom_spark.ext.manifest import (
        add_projection,
        read_projection,
        refresh_projection,
        sum_agg_of,
    )

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 4).alias("grp"),
        (F.col("id") * 3).alias("cents"),
    )
    lake = VersionedLake.create(spark, str(tmp_path / "vp"), df, n_files=4)
    add_projection(lake, "by_grp", ["id"], ["grp"], ["cents"])
    built_at = lake._manifest()["projections"]["by_grp"]["built_at"]
    lake.update(F.col("id") < 30, {"cents": F.lit(0).cast("long")})
    lake.delete(F.col("id") >= 190)
    lake.vacuum(keep_last=1)
    # the projection's roll-forward window survived the vacuum
    assert os.path.exists(
        os.path.join(lake.path, "_manifests", f"v{built_at}.json")
    )
    got = {
        r["grp"]: (r["n_rows"], r["sum_cents"])
        for r in read_projection(lake, "by_grp").collect()
    }
    want = {
        r["grp"]: (r["n_rows"], r["sum_cents"])
        for r in sum_agg_of(lake.read(), ["grp"], ["cents"]).collect()
    }
    assert got == want and want
    # refresh re-bases built_at; vacuum can now reclaim the old window
    refresh_projection(lake, "by_grp")
    lake.vacuum(keep_last=1)
    assert not os.path.exists(
        os.path.join(lake.path, "_manifests", f"v{built_at}.json")
    )
    got2 = {
        r["grp"]: (r["n_rows"], r["sum_cents"])
        for r in read_projection(lake, "by_grp").collect()
    }
    assert got2 == want


def test_read_projection_pins_requested_version(spark, tmp_path):
    """read_projection(version=) serves the projection AT that
    snapshot — the seam refresh_projection uses to close its TOCTOU
    (a data commit landing mid-refresh must not drift the roll-forward
    target past the recorded built_at)."""
    from clickbom_spark.ext.manifest import (
        add_projection,
        read_projection,
        sum_agg_of,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("grp"),
        (F.col("id") * 2).alias("cents"),
    )
    lake = VersionedLake.create(spark, str(tmp_path / "pin"), df, n_files=2)
    add_projection(lake, "by_grp", ["id"], ["grp"], ["cents"])
    lake.update(F.col("id") < 10, {"cents": F.lit(1).cast("long")})
    v1 = lake.current_version()
    lake.update(F.col("id") >= 90, {"cents": F.lit(2).cast("long")})
    # pinned read reflects v1, not CURRENT
    got = {
        r["grp"]: (r["n_rows"], r["sum_cents"])
        for r in read_projection(lake, "by_grp", version=v1).collect()
    }
    want = {
        r["grp"]: (r["n_rows"], r["sum_cents"])
        for r in sum_agg_of(lake.read(v1), ["grp"], ["cents"]).collect()
    }
    assert got == want
    cur = {
        r["grp"]: (r["n_rows"], r["sum_cents"])
        for r in read_projection(lake, "by_grp").collect()
    }
    assert cur != got  # the later commit genuinely changed the answer


def test_delete_and_ttl_retain_null_predicate_rows(spark, tmp_path):
    """SQL DELETE / ClickHouse TTL semantics: rows where the predicate
    is NULL are retained — and retained regardless of file layout
    (here the null-predicate row shares its file with truly-matching
    rows, the layout that used to drop it)."""
    from clickbom_spark.ext.manifest import apply_ttl

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0), (4, None), (5, 1.0)],
        "id long, val double",
    )
    # one file: every null-val row co-lives with a matching row
    lake = VersionedLake.create(spark, str(tmp_path / "nd"), df, n_files=1)
    lake.delete(F.col("val") > 50.0)
    assert {r["id"] for r in lake.read().collect()} == {1, 2, 4, 5}
    apply_ttl(lake, F.col("val") < 5.0)
    assert {r["id"] for r in lake.read().collect()} == {1, 2, 4}
    # a TTL rollup keeps them verbatim too, on the same one-file layout
    from clickbom_spark.ext.manifest import apply_ttl_rollup

    rolled = VersionedLake.create(spark, str(tmp_path / "nr"), df, n_files=1)
    apply_ttl_rollup(rolled, F.col("val") > 5.0, [], {"id": "min", "val": "sum"})
    assert sorted(
        (r["id"], r["val"]) for r in rolled.read().collect()
    ) == [(1, 109.0), (2, None), (4, None), (5, 1.0)]

class _FakeObjectStore:
    """A store offering ONLY conditional PUT (the S3 ``If-None-Match:
    *`` surface): exists-check + atomic install under one lock, no
    os.link.  Counts calls and can be told to LOSE its first N PUTs
    (return False without writing) — the object-store race outcome
    where another writer's PUT landed first."""

    def __init__(self, lose_first: int = 0):
        import threading

        self._lock = threading.Lock()
        self.puts = 0
        self.lost = 0
        self._lose_first = lose_first

    def put_if_absent(self, target: str, data: bytes) -> bool:
        import uuid as _uuid

        with self._lock:
            self.puts += 1
            if self._lose_first > 0:
                self._lose_first -= 1
                self.lost += 1
                return False
            if os.path.exists(target):
                return False
            tmp = target + f".fake-{_uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, target)
            return True


class _HttpCasServer:
    """In-memory stand-in for the object-store HTTP surface the
    LAKE.md S3 mapping describes: conditional PUT (``If-None-Match:
    *``) answers 201 Created or 412 Precondition Failed; GET answers
    200/404 with an ETag.  Bodies land on the real filesystem (the
    manifest READ path opens files), but all protocol state — status
    codes, ETags, response loss — is spoken over this request surface
    so the mapping is executable, not prose.  ``drop_next_responses``
    makes the next N successful PUTs apply server-side but lose the
    RESPONSE (client sees a timeout) — the classic CAS ambiguity."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self.puts = self.gets = self.lost_responses = 0
        self.drop_next_responses = 0

    @staticmethod
    def _etag(data: bytes) -> str:
        import hashlib

        return hashlib.md5(data).hexdigest()

    def request(self, method, key, headers=None, body=None):
        import uuid as _uuid

        with self._lock:
            if method == "PUT":
                self.puts += 1
                if (headers or {}).get("If-None-Match") != "*":
                    return 400, {}, b"refusing unconditional PUT"
                if os.path.exists(key):
                    return 412, {}, b""
                tmp = key + f".http-{_uuid.uuid4().hex[:8]}"
                with open(tmp, "wb") as f:
                    f.write(body)
                os.replace(tmp, key)
                if self.drop_next_responses > 0:
                    self.drop_next_responses -= 1
                    self.lost_responses += 1
                    raise TimeoutError(
                        "response lost (effect applied server-side)"
                    )
                return 201, {"ETag": self._etag(body)}, b""
            if method == "GET":
                self.gets += 1
                if not os.path.exists(key):
                    return 404, {}, b""
                with open(key, "rb") as f:
                    data = f.read()
                return 200, {"ETag": self._etag(data)}, data
            return 405, {}, b""


class _HttpCasStore:
    """Client adapter: ``put_if_absent`` over the HTTP surface.  A
    timed-out PUT is retried; a 412 is disambiguated by GET + content
    compare — did MY earlier (response-lost) PUT land, or another
    writer's?  Only a byte-identical object means this writer won."""

    def __init__(self, server: _HttpCasServer):
        self.server = server

    def put_if_absent(self, target: str, data: bytes) -> bool:
        data = bytes(data)
        for _ in range(5):
            try:
                status, _, _ = self.server.request(
                    "PUT", target, {"If-None-Match": "*"}, data
                )
            except TimeoutError:
                continue  # ambiguous outcome: resolve via 412 + GET
            if status == 201:
                return True
            if status == 412:
                s2, _, body = self.server.request("GET", target)
                return s2 == 200 and body == data
            raise RuntimeError(f"unexpected PUT status {status}")
        raise RuntimeError("PUT retries exhausted")


_STORE_BACKENDS = {
    "localfs": lambda: None,  # VersionedLake default (LocalFSStore)
    "put_only": _FakeObjectStore,
    "http_cas": lambda: _HttpCasStore(_HttpCasServer()),
}


@pytest.mark.parametrize("backend", sorted(_STORE_BACKENDS))
def test_contention_matrix_across_store_backends(
    spark, tmp_path, backend
):
    """The SAME two-writer contention law must hold against every
    store implementation of the put_if_absent seam: the local-fs
    hard-link store, the conditional-PUT-only object store, and the
    HTTP If-None-Match double — exactly one winner per version, loser
    retries on top, no lost update."""
    import threading

    store = _STORE_BACKENDS[backend]()
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("grp"),
        (F.col("id") * 1.0).alias("val"),
    )
    lake = VersionedLake.create(
        spark, str(tmp_path / f"mx-{backend}"), df, n_files=2,
        store=store,
    )
    v0 = lake.current_version()
    barrier = threading.Barrier(2)
    results: dict[str, int] = {}
    errors: list[BaseException] = []

    def writer(tag: str, lo: int):
        changes = spark.createDataFrame(
            [(lo + i, 0, float(lo)) for i in range(3)],
            "id long, grp long, val double",
        )
        try:
            barrier.wait(timeout=60)
            results[tag] = lake.upsert(changes, ["id"])
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("a", 5000))
    t2 = threading.Thread(target=writer, args=("b", 6000))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    assert sorted(results.values()) == [v0 + 1, v0 + 2]
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(got) == 106
    assert got[5000] == 5000.0 and got[6002] == 6000.0


def test_http_store_lost_response_then_retry_wins(spark, tmp_path):
    """The lost-response path of the S3 mapping, executed: a PUT whose
    effect lands but whose response is lost must NOT double-commit or
    skip a version — the client retries, reads 412, GETs the object,
    finds its own bytes, and reports the CAS as won."""
    server = _HttpCasServer()
    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 5).alias("grp"),
        (F.col("id") * 1.0).alias("val"),
    )
    lake = VersionedLake.create(
        spark, str(tmp_path / "httplake"), df, n_files=1,
        store=_HttpCasStore(server),
    )
    v0 = lake.current_version()
    server.drop_next_responses = 1
    v = lake.update(F.col("id") < 5, {"val": F.lit(-1.0)})
    assert server.lost_responses == 1
    assert v == v0 + 1  # resolved as won: no retry onto a new version
    assert lake.current_version() == v0 + 1
    assert lake.read().where(F.col("val") == -1.0).count() == 5
    # and a DIFFERENT writer's 412 is NOT mistaken for a win: content
    # compare against foreign bytes reports the CAS as lost
    target = os.path.join(lake.path, "_manifests", f"v{v}.json")
    assert _HttpCasStore(server).put_if_absent(target, b"{}") is False


def test_lake_runs_on_conditional_put_only_store(spark, tmp_path):
    """The CAS commit is store-pluggable: a backend exposing ONLY
    put_if_absent (no hard links) drives the same create / mutate /
    contention behavior.  Two concurrent writers serialize to two
    versions with no lost update — the object-store deployment story,
    executed against a fake."""
    import threading

    store = _FakeObjectStore()
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("grp"),
        (F.col("id") * 1.0).alias("val"),
    )
    lake = VersionedLake.create(
        spark, str(tmp_path / "objlake"), df, n_files=2, store=store
    )
    assert store.puts >= 1  # create went through the fake
    v0 = lake.current_version()
    barrier = threading.Barrier(2)
    results: dict[str, int] = {}
    errors: list[BaseException] = []

    def writer(tag: str, lo: int):
        changes = spark.createDataFrame(
            [(lo + i, 0, float(lo)) for i in range(3)],
            "id long, grp long, val double",
        )
        try:
            barrier.wait(timeout=60)
            results[tag] = lake.upsert(changes, ["id"])
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("a", 5000))
    t2 = threading.Thread(target=writer, args=("b", 6000))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    assert sorted(results.values()) == [v0 + 1, v0 + 2]
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(got) == 106
    assert got[5000] == 5000.0 and got[6002] == 6000.0


def test_lost_conditional_put_retries_and_converges(spark, tmp_path):
    """A PUT the store reports as lost (False) must loop the commit —
    re-resolve the live snapshot, retry — and converge once the store
    accepts, with no version skipped or double-assigned."""
    store = _FakeObjectStore()
    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 5).alias("grp"),
        (F.col("id") * 1.0).alias("val"),
    )
    lake = VersionedLake.create(
        spark, str(tmp_path / "lostlake"), df, n_files=1, store=store
    )
    v0 = lake.current_version()
    store._lose_first = 2  # next two PUTs report "lost"
    v = lake.update(F.col("id") < 5, {"val": F.lit(-1.0)})
    assert store.lost == 2
    assert v == v0 + 1  # retried the SAME version until it stuck
    assert lake.read().where(F.col("val") == -1.0).count() == 5

def test_branch_is_zero_copy_isolated_and_mergeable(spark, tmp_path):
    """Git-for-data laws: (1) branching copies no data files; (2) the
    branch reads the source snapshot exactly; (3) COW mutations on the
    branch never touch source files and vice versa; (4) merge_branch
    applies the branch's net delta to the source as one CDC commit."""
    import glob

    from clickbom_spark.ext.manifest import branch, merge_branch

    lake = _mk(spark, tmp_path, n=300)
    n_src_files = len(glob.glob(os.path.join(lake.path, "*.parquet")))
    br = branch(lake, str(tmp_path / "feature"))
    # (1) zero-copy: no parquet physically in the branch dir yet
    assert glob.glob(os.path.join(br.path, "*.parquet")) == []
    # (2) identical content at branch point
    assert br.read().count() == 300
    assert {r["id"] for r in br.read().collect()} == set(range(300))
    # (3) isolation: branch mutates, source unchanged — and vice versa
    br.update(F.col("id") < 10, {"val": F.lit(-5.0)})
    br.delete(F.col("id") >= 295)
    assert lake.read().where(F.col("val") < 0).count() == 0
    assert lake.read().count() == 300
    lake.update(F.col("id") == 100, {"val": F.lit(777.0)})
    assert br.read().where(F.col("val") == 777.0).count() == 0
    # source files untouched on disk beyond its own COW rewrites
    assert len(glob.glob(os.path.join(lake.path, "*.parquet"))) >= n_src_files
    # (4) merge back: source receives branch's net changes atomically
    v = merge_branch(lake, br, ["id"])
    assert v == lake.current_version()
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert len(got) == 295
    assert got[0] == -5.0 and got[9] == -5.0
    assert 295 not in got and 299 not in got
    # the source's own concurrent change survives if the branch never
    # touched that key... the branch DID carry id=100 at old value?
    # change_feed(0->head) only reads files the branch REWROTE; id=100
    # lives in an untouched shared file, so the merge leaves it alone
    assert got[100] == 777.0

def test_optimize_zorder_is_logical_noop_and_improves_pruning(
    spark, tmp_path
):
    """OPTIMIZE ZORDER: (1) the change feed across the commit is empty
    (logical no-op); (2) with zone-map stats maintained, a 2-d box
    query prunes strictly more files after clustering (shuffled input
    gives every file full-range min/max -> nothing skips before)."""
    import random

    from clickbom_spark.ext.manifest import (
        change_feed,
        commit_with_stats,
        optimize_zorder,
        read_pruned,
    )

    rng = random.Random(5)
    rows = [(i, rng.randrange(1000), rng.randrange(1000))
            for i in range(4000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id long, a long, b long").repartition(8)
    lake = VersionedLake.create(spark, str(tmp_path / "zl"), df, n_files=8)
    commit_with_stats(lake, ["a", "b"])
    _, total0, kept0 = read_pruned(lake, "a", 0, 99)
    assert total0 == 8 and kept0 == 8  # shuffled layout: nothing skips

    v_before = lake.current_version()
    v = optimize_zorder(lake, ["a", "b"], target_files=8)
    assert v == v_before + 1
    assert lake._manifest()["message"] == "optimize-zorder"
    # logical no-op: empty CDF across the optimize commit
    assert change_feed(lake, v_before, v, ["id"]).count() == 0
    # content identical
    assert lake.read().count() == 4000
    # stats were re-derived for the rewritten files by the incremental
    # maintenance in _commit; the same box now skips most files
    _, total1, kept1 = read_pruned(lake, "a", 0, 99)
    assert total1 == 8 and kept1 < 8
    got = lake.read().where(F.col("a") <= 99).count()
    pruned_df, _, _ = read_pruned(lake, "a", 0, 99)
    assert pruned_df.where(F.col("a") <= 99).count() == got

def test_rename_and_drop_column_metadata_only(spark, tmp_path):
    """Delta-column-mapping semantics with zero file rewrites: rename
    resolves old-generation files through the manifest mapping, new
    mutations write the logical name physically, mixed generations
    coalesce, time travel shows the historical schema, CDF crosses the
    rename under the target version's schema, dropped names vanish
    everywhere and are never reused."""
    import glob

    import pytest

    from clickbom_spark.ext.manifest import (
        change_feed,
        drop_column,
        rename_column,
    )

    lake = _mk(spark, tmp_path, n=100)
    files_before = set(glob.glob(os.path.join(lake.path, "*.parquet")))
    v_pre = lake.current_version()
    rename_column(lake, "val", "amount")
    # zero-copy: no data file written by the rename
    assert set(glob.glob(os.path.join(lake.path, "*.parquet"))) == files_before
    assert "amount" in lake.read().columns and "val" not in lake.read().columns
    assert lake.read().where(F.col("amount") == 7.0).count() == 1
    # time travel: the pre-rename snapshot still shows the old name
    assert "val" in lake.read(v_pre).columns

    # a mutation after the rename: rewritten files carry `amount`
    # physically, untouched files still resolve through the mapping
    v_a = lake.current_version()
    lake.update(F.col("id") < 10, {"amount": F.lit(-1.0)})
    got = {r["id"]: r["amount"] for r in lake.read().collect()}
    assert got[5] == -1.0 and got[50] == 50.0 and len(got) == 100
    # CDF across the mutation (and the rename) speaks the new schema
    cf = change_feed(lake, v_a, lake.current_version(), ["id"])
    assert "amount" in cf.columns and "val" not in cf.columns
    pre_rows = {r["id"] for r in cf.where(
        F.col("_change_type") == "update_pre").collect()}
    assert pre_rows == set(range(10))

    # chained rename over mixed generations
    rename_column(lake, "amount", "cents")
    got2 = {r["id"]: r["cents"] for r in lake.read().collect()}
    assert got2[5] == -1.0 and got2[50] == 50.0

    # drop: gone logically everywhere, including mutation rewrites
    drop_column(lake, "grp")
    assert "grp" not in lake.read().columns
    lake.update(F.col("id") == 20, {"cents": F.lit(99.0)})
    assert "grp" not in lake.read().columns
    assert lake.read().count() == 100
    # dropped names are never reused as rename targets
    with pytest.raises(ValueError, match="never reused"):
        rename_column(lake, "cents", "grp")
    # validation: unknown / duplicate names
    with pytest.raises(ValueError, match="no column"):
        rename_column(lake, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(lake, "cents", "id")


def test_rename_interacts_with_add_column_and_upsert(spark, tmp_path):
    """Renaming a metadata-added column moves its default in
    schema_extras; upserts after a rename write the logical schema."""
    from clickbom_spark.ext.manifest import add_column, rename_column

    lake = _mk(spark, tmp_path, n=50)
    add_column(lake, "quality", 0.5)
    rename_column(lake, "quality", "score")
    assert lake.read().where(F.col("score") == 0.5).count() == 50
    rename_column(lake, "val", "amount")
    changes = spark.createDataFrame(
        [(1000, 1, 42.0, 0.9)], "id long, grp long, amount double, score double"
    )
    lake.upsert(changes, ["id"])
    got = {r["id"]: (r["amount"], r["score"])
           for r in lake.read().collect()}
    assert got[1000] == (42.0, 0.9)
    assert got[3] == (3.0, 0.5)

def test_check_constraints_enforced_on_every_mutation(spark, tmp_path):
    """Delta-style CHECK constraints: adding validates existing data;
    every later mutation that would write a violating row refuses the
    whole commit (no snapshot published, table unchanged); NULL
    evaluations PASS (SQL CHECK semantics); layout commits skip the
    re-check but preserve the constraint."""
    import pytest

    from clickbom_spark.ext.manifest import (
        ConstraintViolation,
        add_constraint,
        compact,
        drop_constraint,
    )

    lake = _mk(spark, tmp_path, n=100)
    add_constraint(lake, "val_nonneg", "val >= 0")
    with pytest.raises(ValueError, match="already exists"):
        add_constraint(lake, "val_nonneg", "val >= 0")
    # a violating add is refused up front
    with pytest.raises(ConstraintViolation, match="existing rows"):
        add_constraint(lake, "val_small", "val < 50")

    v = lake.current_version()
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        lake.update(F.col("id") < 10, {"val": F.lit(-5.0)})
    assert lake.current_version() == v  # nothing published
    assert lake.read().where(F.col("val") < 0).count() == 0

    with pytest.raises(ConstraintViolation):
        lake.upsert(
            spark.createDataFrame([(500, 0, -1.0)],
                                  "id long, grp long, val double"),
            ["id"],
        )
    # NULL passes (SQL CHECK three-valued logic)
    lake.upsert(
        spark.createDataFrame([(501, 0, None)],
                              "id long, grp long, val double"),
        ["id"],
    )
    assert lake.read().count() == 101
    # compliant mutation still flows
    lake.update(F.col("id") == 1, {"val": F.lit(7.0)})
    # layout commit skips the re-check but the constraint survives it
    compact(lake, target_files=2)
    with pytest.raises(ConstraintViolation):
        lake.update(F.col("id") == 2, {"val": F.lit(-2.0)})
    # dropped constraint stops enforcement
    drop_constraint(lake, "val_nonneg")
    lake.update(F.col("id") == 2, {"val": F.lit(-2.0)})
    assert lake.read().where(F.col("val") == -2.0).count() == 1

def test_apply_ttl_rollup_aggregates_expired_rows(spark, tmp_path):
    """TTL GROUP BY: expired rows collapse to one row per group with
    the declared aggregates; fresh rows untouched; NULL-predicate rows
    retained verbatim; one ttl-rollup snapshot; schema preserved."""
    import pytest

    from clickbom_spark.ext.manifest import apply_ttl_rollup

    rows = [
        ("a", 1, 10), ("a", 2, 20), ("a", 9, 1),
        ("b", 1, 5), ("b", 3, 7), ("b", 8, 2),
        ("c", None, 100),  # NULL day -> predicate NULL -> retained
    ]
    df = spark.createDataFrame(rows, "grp string, day int, cents long")
    lake = VersionedLake.create(spark, str(tmp_path / "tr"), df, n_files=2)
    with pytest.raises(ValueError, match="group or an aggregate"):
        apply_ttl_rollup(lake, F.col("day") < 5, ["grp"], {"day": "max"})
    with pytest.raises(ValueError, match="both grouped and aggregated"):
        apply_ttl_rollup(
            lake, F.col("day") < 5, ["grp"],
            {"grp": "max", "day": "max", "cents": "sum"},
        )
    v = apply_ttl_rollup(
        lake, F.col("day") < 5, ["grp"], {"day": "max", "cents": "sum"}
    )
    assert v == lake.current_version()
    assert lake._manifest()["message"] == "ttl-rollup"
    got = {
        (r["grp"], r["day"], r["cents"]) for r in lake.read().collect()
    }
    assert got == {
        ("a", 2, 30),   # rolled: days 1,2 -> max day 2, cents 10+20
        ("a", 9, 1),    # fresh
        ("b", 3, 12),   # rolled: days 1,3 -> max day 3, cents 5+7
        ("b", 8, 2),    # fresh
        ("c", None, 100),  # NULL predicate retained verbatim
    }
    assert [f.name for f in lake.read().schema.fields] == [
        "grp", "day", "cents"
    ]

def test_branch_carries_logical_schema_and_constraints(spark, tmp_path):
    """Branching an EVOLVED lake: renames/drops/added defaults and
    CHECK constraints travel with the branch (path-independent
    metadata); a violating branch write is refused just like on the
    source; merge-back speaks the shared logical schema."""
    import pytest

    from clickbom_spark.ext.manifest import (
        ConstraintViolation,
        add_column,
        add_constraint,
        branch,
        merge_branch,
        rename_column,
    )

    lake = _mk(spark, tmp_path, n=80)
    rename_column(lake, "val", "amount")
    add_column(lake, "quality", 0.5)
    add_constraint(lake, "amount_nonneg", "amount >= 0")
    br = branch(lake, str(tmp_path / "feat"))
    cols = set(br.read().columns)
    assert cols == {"id", "grp", "amount", "quality"}
    assert br.read().where(F.col("quality") == 0.5).count() == 80
    with pytest.raises(ConstraintViolation):
        br.update(F.col("id") < 5, {"amount": F.lit(-1.0)})
    br.update(F.col("id") < 5, {"amount": F.lit(500.0)})
    merge_branch(lake, br, ["id"])
    got = {r["id"]: r["amount"] for r in lake.read().collect()}
    assert got[0] == 500.0 and got[10] == 10.0

def test_concurrent_add_constraint_conflicts_in_flight_mutation(
    spark, tmp_path
):
    """The race the file-list check alone misses: add_constraint is
    metadata-only (identical file list), so a mutation that validated
    against the OLD constraint set must be refused at COMMIT time via
    the constraint-set comparison — then succeed or refuse correctly
    on its re-run against the new set."""
    import pytest

    from clickbom_spark.ext.manifest import CommitConflict, add_constraint

    lake = _mk(spark, tmp_path, n=40)
    base = lake._manifest()  # the in-flight writer's snapshot read
    # ... meanwhile another writer lands a constraint (same file list)
    add_constraint(lake, "val_nonneg", "val >= 0")
    files = [os.path.join(lake.path, f) for f in base["files"]]
    with pytest.raises(CommitConflict, match="constraint set changed"):
        lake._commit(
            files, 40, "update",
            based_on=base["files"],
            based_on_constraints=base.get("constraints", {}),
        )
    # the retry loop re-runs the whole mutation against the new
    # snapshot — a violating write is now refused by validation
    from clickbom_spark.ext.manifest import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        lake.update(F.col("id") < 3, {"val": F.lit(-1.0)})
    # and a compliant one lands
    lake.update(F.col("id") < 3, {"val": F.lit(1.0)})
    assert lake.read().where(F.col("val") == 1.0).count() == 3


def test_add_constraint_revalidates_when_data_commits_mid_flight(
    spark, tmp_path
):
    """The OTHER direction of the constraint/data race: a data commit
    landing between add_constraint's validation read and its metadata
    publish was validated only against the OLD constraint set — the
    publish must be refused and validation re-run against the new
    snapshot, so a violating row that slipped in mid-flight refuses
    the constraint (and a compliant one lets the retry land)."""
    import pytest

    from clickbom_spark.ext.manifest import (
        ConstraintViolation,
        add_constraint,
    )

    lake = _mk(spark, tmp_path, n=20)
    orig_read = lake.read
    fired = []

    def racing_read(version=None):
        df = orig_read(version)
        if not fired:
            fired.append(1)
            # meanwhile another writer lands a VIOLATING row (the
            # validation df is pinned to the pre-race snapshot, so
            # the first pass still passes — only the version check
            # at publish time can catch this)
            lake.upsert(
                spark.createDataFrame(
                    [(999, 0, -5.0)], "id long, grp long, val double"
                ),
                ["id"],
            )
        return df

    lake.read = racing_read
    with pytest.raises(ConstraintViolation):
        add_constraint(lake, "val_nonneg", "val >= 0")
    assert "val_nonneg" not in lake._manifest().get("constraints", {})

    # same race with a COMPLIANT mid-flight commit: the retry
    # re-validates against the new snapshot and the constraint lands
    lake2 = _mk(spark, tmp_path / "two", n=20)
    orig_read2 = lake2.read
    fired2 = []

    def racing_read2(version=None):
        df = orig_read2(version)
        if not fired2:
            fired2.append(1)
            lake2.upsert(
                spark.createDataFrame(
                    [(999, 0, 5.0)], "id long, grp long, val double"
                ),
                ["id"],
            )
        return df

    lake2.read = racing_read2
    add_constraint(lake2, "val_nonneg", "val >= 0")
    assert lake2._manifest()["constraints"] == {"val_nonneg": "val >= 0"}
    with pytest.raises(ConstraintViolation):
        lake2.update(F.col("id") < 2, {"val": F.lit(-1.0)})


def test_physical_names_never_reused(spark, tmp_path):
    """Renamed-away and dropped physical names are permanently
    retired: reusing one as a rename target or added column would
    resurrect stale bytes from old-generation files (or break
    mergeSchema on a type clash)."""
    import pytest

    from clickbom_spark.ext.manifest import (
        add_column,
        drop_column,
        rename_column,
    )

    lake = _mk(spark, tmp_path, n=30)
    rename_column(lake, "val", "amount")
    with pytest.raises(ValueError, match="never reused"):
        rename_column(lake, "grp", "val")
    with pytest.raises(ValueError, match="never reused"):
        add_column(lake, "val", 0.0)
    drop_column(lake, "grp")
    with pytest.raises(ValueError, match="never reused"):
        add_column(lake, "grp", 7)
    # the table remains fully readable
    assert set(lake.read().columns) == {"id", "amount"}
    assert lake.read().count() == 30


def test_merge_branch_conflict_detection(spark, tmp_path):
    """Write-write conflict laws: (1) 'fail' raises BranchMergeConflict
    listing exactly the keys modified on both sides since the branch
    point; (2) 'source-wins' keeps the source's concurrent edit and
    merges the branch's non-conflicting ops; (3) 'branch-wins' (the
    default) overwrites; (4) no source divergence -> no conflict under
    any policy."""
    from clickbom_spark.ext.manifest import (
        BranchMergeConflict,
        branch,
        merge_branch,
    )

    lake = _mk(spark, tmp_path, n=100)
    br = branch(lake, str(tmp_path / "feature"))
    # branch edits ids 10..19; source concurrently edits 15..24
    br.update(
        (F.col("id") >= 10) & (F.col("id") < 20),
        {"val": F.lit(-1.0)},
    )
    lake.update(
        (F.col("id") >= 15) & (F.col("id") < 25),
        {"val": F.lit(+99.0)},
    )

    # (1) fail: exactly ids 15..19 conflict
    with pytest.raises(BranchMergeConflict) as ei:
        merge_branch(lake, br, ["id"], on_conflict="fail")
    assert sorted(k[0] for k in ei.value.sample_keys) == list(range(15, 20))
    # nothing committed by the failed merge
    assert lake.read().where(F.col("val") == -1.0).count() == 0

    # (2) source-wins: 10..14 take the branch edit, 15..19 keep 99.0
    v = merge_branch(lake, br, ["id"], on_conflict="source-wins")
    got = {
        r["id"]: r["val"]
        for r in lake.read(v).where(F.col("id").between(10, 24)).collect()
    }
    assert all(got[i] == -1.0 for i in range(10, 15))
    assert all(got[i] == 99.0 for i in range(15, 25))


def test_merge_branch_branch_wins_and_no_divergence(spark, tmp_path):
    from clickbom_spark.ext.manifest import (
        branch,
        merge_branch,
    )

    lake = _mk(spark, tmp_path, n=100)
    br = branch(lake, str(tmp_path / "feature"))
    br.update(F.col("id") < 5, {"val": F.lit(-1.0)})
    lake.update(F.col("id") < 3, {"val": F.lit(+99.0)})
    # default branch-wins: ids 0..4 all take the branch edit
    v = merge_branch(lake, br, ["id"])
    vals = {
        r["id"]: r["val"]
        for r in lake.read(v).where(F.col("id") < 5).collect()
    }
    assert all(vals[i] == -1.0 for i in range(5))

    # no source divergence since branch point -> 'fail' merges cleanly
    lake2 = _mk(spark, tmp_path / "l2", n=50)
    br2 = branch(lake2, str(tmp_path / "feature2"))
    br2.delete(F.col("id") == 7)
    v2 = merge_branch(lake2, br2, ["id"], on_conflict="fail")
    assert lake2.read(v2).where(F.col("id") == 7).count() == 0


def test_merge_branch_conflict_needs_provenance(spark, tmp_path):
    """A branch whose v0 manifest lacks branched_from (pre-provenance
    branches) still merges with branch-wins but refuses detection
    policies with an actionable error."""
    from clickbom_spark.ext.manifest import branch, merge_branch

    lake = _mk(spark, tmp_path, n=50)
    br = branch(lake, str(tmp_path / "feature"))
    # simulate a pre-provenance branch: hide the marker from every
    # manifest read on the branch
    import clickbom_spark.ext.manifest as mm

    orig = mm.VersionedLake._manifest

    def no_prov(self, version=None):
        m = orig(self, version)
        m = dict(m)
        m.pop("branched_from", None)
        return m

    br._manifest = no_prov.__get__(br)
    br.update(F.col("id") == 1, {"val": F.lit(-1.0)})
    with pytest.raises(ValueError, match="branch-point provenance"):
        merge_branch(lake, br, ["id"], on_conflict="fail")


def test_additive_matview_sink_additive_and_exactly_once(spark, tmp_path):
    """Matview sink laws: (1) per-epoch partials fold ADDITIVELY into
    the view; (2) a replayed epoch_id is a no-op (no double counting);
    (3) the final view equals the batch aggregate over all rows."""
    from clickbom_spark.ext.manifest import additive_matview_sink

    rows = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        F.col("id").cast("decimal(18,2)").alias("v"),
    )
    mv = VersionedLake.create(
        spark,
        str(tmp_path / "mv"),
        rows.select("grp", F.lit(0).cast("long").alias("n"),
                    F.lit(0).cast("decimal(18,2)").alias("s"))
        .where(F.lit(False)),
        n_files=1,
    )

    def partial(df):
        return df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("decimal(18,2)").alias("s"),
        )

    body = additive_matview_sink(mv, ["grp"], partial)
    body(rows.where(F.col("id") < 40), 0)
    body(rows.where(F.col("id") < 40), 0)  # replay: must be a no-op
    body(rows.where(F.col("id") >= 40), 1)
    body(rows.where(F.col("id") >= 40), 1)  # replay again

    got = {r["grp"]: (r["n"], float(r["s"]))
           for r in mv.read().collect()}
    want = {r["grp"]: (r["n"], float(r["s"]))
            for r in partial(rows).collect()}
    assert got == want


def test_uniq_matview_sink_union_fold_and_exactly_once(spark, tmp_path):
    """Streaming distinct-count matview laws: (1) per-epoch code sets
    fold by SET UNION into the view; (2) a replayed epoch_id is a
    no-op commit-wise AND value-wise (idempotent fold); (3) the
    finalized estimates equal a full rescan's (register-union law) and
    match the batch twin uniq_state_of + hll_distinct_from_codes."""
    from clickbom_spark.ext.manifest import (
        uniq_matview_sink,
        uniq_state_of,
    )
    from clickbom_spark.ext.sketches import hll_distinct_from_codes

    rows = spark.range(600).select(
        F.col("id"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 151).alias("u"),
    )
    mv = VersionedLake.create(
        spark,
        str(tmp_path / "uqmv"),
        rows.select("grp", F.lit(0).cast("long").alias("code"))
        .where(F.lit(False)),
        n_files=1,
    )
    body = uniq_matview_sink(mv, ["grp"], "u")
    body(rows.where(F.col("id") < 200), 0)
    v_after_0 = mv.current_version()
    body(rows.where(F.col("id") < 200), 0)  # replay: no-op commit
    assert mv.current_version() == v_after_0
    body(rows.where((F.col("id") >= 200) & (F.col("id") < 400)), 1)
    body(rows.where(F.col("id") >= 400), 2)
    body(rows.where(F.col("id") >= 400), 2)  # replay again

    got = {
        r["grp"]: r["uniq_est"]
        for r in hll_distinct_from_codes(mv.read(), ["grp"]).collect()
    }
    want = {
        r["grp"]: r["uniq_est"]
        for r in hll_distinct_from_codes(
            uniq_state_of(rows, ["grp"], "u"), ["grp"]
        ).collect()
    }
    assert got == want
    # the stored state is the exact union of the batch code sets
    got_codes = {(r["grp"], r["code"]) for r in mv.read().collect()}
    want_codes = {
        (r["grp"], r["code"])
        for r in uniq_state_of(rows, ["grp"], "u").collect()
    }
    assert got_codes == want_codes


def test_uniq_matview_sink_streaming_end_to_end(spark, tmp_path):
    """The full streaming loop for the distinct-count matview: a
    source lake with three commits streamed through the Python Data
    Source, each micro-batch folded by uniq_matview_sink, and the
    finalized per-group estimates equal the batch twin over the whole
    source — stream == batch, the registry's streaming law."""
    import os

    from clickbom_spark.ext.manifest import (
        uniq_matview_sink,
        uniq_state_of,
    )
    from clickbom_spark.ext.sketches import hll_distinct_from_codes
    from clickbom_spark.streaming.lake_source import LakeStreamDataSource

    rows = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 2).alias("grp"),
        (F.col("id") % 131).alias("u"),
    )
    src = VersionedLake.create(
        spark, str(tmp_path / "uq_src"),
        rows.where(F.col("id") % 3 == 0), n_files=2,
    )
    for rem in (1, 2):
        src.upsert(rows.where(F.col("id") % 3 == rem), ["id"])
    mv = VersionedLake.create(
        spark, str(tmp_path / "uq_mv"),
        rows.select("grp", F.lit(0).cast("long").alias("code"))
        .where(F.lit(False)),
        n_files=1,
    )
    spark.dataSource.register(LakeStreamDataSource)
    q = (
        spark.readStream.format("lake_stream")
        .option("path", str(tmp_path / "uq_src"))
        .load()
        .writeStream.foreachBatch(uniq_matview_sink(mv, ["grp"], "u"))
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "uq_ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["grp"]: r["uniq_est"]
        for r in hll_distinct_from_codes(mv.read(), ["grp"]).collect()
    }
    want = {
        r["grp"]: r["uniq_est"]
        for r in hll_distinct_from_codes(
            uniq_state_of(rows, ["grp"], "u"), ["grp"]
        ).collect()
    }
    assert got == want and got


def test_merge_branch_revalidates_on_concurrent_source_commit(
    spark, tmp_path
):
    """TOCTOU law: a source commit landing BETWEEN the conflict scan
    and the CDC apply must re-trigger detection (the pinned
    expect_version turns it into a re-scan), not slip past it via
    merge_cdc's default retry."""
    from clickbom_spark.ext.manifest import (
        BranchMergeConflict,
        branch,
        merge_branch,
    )

    def mk_racy(subdir):
        lake = _mk(spark, tmp_path / subdir, n=100)
        br = branch(lake, str(tmp_path / f"{subdir}_feature"))
        br.update(
            (F.col("id") >= 10) & (F.col("id") < 20),
            {"val": F.lit(-1.0)},
        )
        real = lake.merge_cdc
        state = {"fired": False}

        def hooked(batch, key_cols, **kw):
            if not state["fired"]:
                state["fired"] = True
                # concurrent writer edits a key the branch also edits,
                # AFTER the scan (we are inside merge_branch now)
                racer = VersionedLake(spark, lake.path, store=lake.store)
                racer.update(F.col("id") == 12, {"val": F.lit(50.0)})
            return real(batch, key_cols, **kw)

        lake.merge_cdc = hooked
        return lake, br, state

    # 'fail': the re-scan must surface the racing edit as a conflict
    lake, br, state = mk_racy("race_fail")
    with pytest.raises(BranchMergeConflict) as ei:
        merge_branch(lake, br, ["id"], on_conflict="fail")
    assert state["fired"]
    assert [k[0] for k in ei.value.sample_keys] == [12]

    # 'source-wins': the re-scan must preserve the racing edit
    lake2, br2, state2 = mk_racy("race_sw")
    v = merge_branch(lake2, br2, ["id"], on_conflict="source-wins")
    assert state2["fired"]
    got = {
        r["id"]: r["val"]
        for r in lake2.read(v).where(F.col("id").between(10, 19)).collect()
    }
    assert got[12] == 50.0
    assert all(got[i] == -1.0 for i in range(10, 20) if i != 12)


def test_merge_branch_column_merge(spark, tmp_path):
    """'column-merge' laws: (1) both-sides updates over DISJOINT column
    sets merge cell-wise (branch's changed cells + source's head cells);
    (2) overlapping changed columns raise; (3) a delete on a conflicted
    key raises — row identity has no order-free cell merge."""
    from clickbom_spark.ext.manifest import (
        BranchMergeConflict,
        branch,
        merge_branch,
    )

    lake = _mk(spark, tmp_path, n=100)
    br = branch(lake, str(tmp_path / "feature"))
    # branch edits val on 10..19; source concurrently edits grp on 15..24
    br.update((F.col("id") >= 10) & (F.col("id") < 20), {"val": F.lit(-1.0)})
    lake.update(
        (F.col("id") >= 15) & (F.col("id") < 25), {"grp": F.lit(77)}
    )
    v = merge_branch(lake, br, ["id"], on_conflict="column-merge")
    got = {
        r["id"]: (r["grp"], r["val"])
        for r in lake.read(v).where(F.col("id").between(10, 24)).collect()
    }
    for i in range(10, 15):  # branch-only keys: branch val, original grp
        assert got[i] == (i % 5, -1.0)
    for i in range(15, 20):  # conflicted, disjoint cols: BOTH edits
        assert got[i] == (77, -1.0)
    for i in range(20, 25):  # source-only keys: source grp survives
        assert got[i] == (77, float(i))

    # (2) same column on both sides -> real conflict
    lake2 = _mk(spark, tmp_path / "l2", n=50)
    br2 = branch(lake2, str(tmp_path / "f2"))
    br2.update(F.col("id") == 7, {"val": F.lit(-1.0)})
    lake2.update(F.col("id") == 7, {"val": F.lit(99.0)})
    with pytest.raises(BranchMergeConflict, match="overlapping"):
        merge_branch(lake2, br2, ["id"], on_conflict="column-merge")

    # (3) delete on a conflicted key -> raises
    lake3 = _mk(spark, tmp_path / "l3", n=50)
    br3 = branch(lake3, str(tmp_path / "f3"))
    br3.update(F.col("id") == 3, {"val": F.lit(-1.0)})
    lake3.delete(F.col("id") == 3)
    with pytest.raises(BranchMergeConflict):
        merge_branch(lake3, br3, ["id"], on_conflict="column-merge")


def test_scd2_sink_versions_dimension_exactly_once(spark, tmp_path):
    """SCD2 sink laws: changed keys close their open row (valid_to =
    epoch, exclusive) and open a new one; unchanged keys untouched;
    epoch replay is a no-op; interval chain per key is contiguous."""
    from clickbom_spark.ext.manifest import VersionedLake, scd2_sink

    empty = spark.createDataFrame(
        [], "id long, seg string, score long, valid_from long, "
        "valid_to long, is_current boolean"
    )
    dim = VersionedLake.create(
        spark, str(tmp_path / "scd2"), empty, n_files=1
    )
    sink = scd2_sink(dim, ["id"], ["seg", "score"])

    def batch(rows):
        return spark.createDataFrame(rows, "id long, seg string, score long")

    sink(batch([(1, "a", 10), (2, "b", 20)]), 0)
    sink(batch([(1, "a", 10), (2, "b", 25), (3, "c", 30)]), 1)  # 2 changes
    sink(batch([(1, "a", 10), (2, "b", 25), (3, "c", 30)]), 1)  # replay
    sink(batch([(1, "z", 10)]), 2)

    rows = {
        (r["id"], r["valid_from"]): (
            r["seg"], r["score"], r["valid_to"], r["is_current"]
        )
        for r in dim.read().collect()
    }
    assert rows[(1, 0)] == ("a", 10, 2, False)
    assert rows[(1, 2)] == ("z", 10, None, True)
    assert rows[(2, 0)] == ("b", 20, 1, False)
    assert rows[(2, 1)] == ("b", 25, None, True)
    assert rows[(3, 1)] == ("c", 30, None, True)
    assert len(rows) == 5  # replay added nothing
    # exactly one open row per key, intervals contiguous
    open_per_key = {}
    for (k, vf), (_, _, vt, cur) in rows.items():
        if cur:
            open_per_key[k] = open_per_key.get(k, 0) + 1
            assert vt is None
    assert open_per_key == {1: 1, 2: 1, 3: 1}


def test_scd2_history_files_are_metadata_skipped(spark, tmp_path):
    """Round-9 review fix, closed properly: the sink clusters upsert
    files by is_current and reads the open slice through read_pruned,
    so ALL-CLOSED history files are skipped from manifest metadata —
    per-epoch scan cost is open-slice-sized, not history-sized."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        read_pruned,
        scd2_sink,
    )

    empty = spark.createDataFrame(
        [], "id long, seg string, score long, valid_from long, "
        "valid_to long, is_current boolean"
    )
    dim = VersionedLake.create(
        spark, str(tmp_path / "scd2p"), empty, n_files=1
    )
    sink = scd2_sink(dim, ["id"], ["seg", "score"])

    def batch(e):
        # every key changes every epoch → history grows each epoch
        return spark.createDataFrame(
            [(k, f"s{e}", e * 10 + k) for k in range(4)],
            "id long, seg string, score long",
        )

    for e in range(5):
        sink(batch(e), e)
    frame, total, read = read_pruned(dim, "is_current", True, True)
    # pruning must bite: closed-history files outnumber open files
    assert read < total, (read, total)
    # and the pruned open slice is exactly the open rows
    got = sorted(
        (r["id"], r["seg"]) for r in
        frame.where(frame.is_current).collect()
    )
    assert got == [(k, "s4") for k in range(4)]
    # the dimension itself still carries the full history
    assert dim.read().count() == 4 * 5


def test_scd2_seed_unions_existing_stat_columns(spark, tmp_path):
    """Third-review fix: the sink's is_current seed must UNION with
    stat columns the user already attached, not wipe them."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        commit_with_stats,
        scd2_sink,
    )

    empty = spark.createDataFrame(
        [], "id long, seg string, score long, valid_from long, "
        "valid_to long, is_current boolean"
    )
    dim = VersionedLake.create(
        spark, str(tmp_path / "scd2u"), empty, n_files=1
    )
    commit_with_stats(dim, ["valid_to"])
    sink = scd2_sink(dim, ["id"], ["seg", "score"])
    sink(
        spark.createDataFrame(
            [(1, "a", 10)], "id long, seg string, score long"
        ),
        0,
    )
    stats = dim._manifest().get("stats", {})
    cols = set()
    for st in stats.values():
        cols.update(st.keys())
    assert {"is_current", "valid_to"} <= cols, stats


def test_read_pruned_applies_logical_schema(spark, tmp_path):
    """Third-review fix: read_pruned loads through the manifest's
    logical schema — an add_column default must surface on files
    written before the evolution, exactly like lake.read()."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        add_column,
        commit_with_stats,
        read_pruned,
    )

    base = spark.createDataFrame(
        [(1, 5), (2, 50)], "id long, v long"
    )
    lake = VersionedLake.create(
        spark, str(tmp_path / "rps"), base, n_files=1
    )
    commit_with_stats(lake, ["v"])
    add_column(lake, "flag", "unknown")
    frame, total, read = read_pruned(lake, "v", 0, 10)
    got = sorted(tuple(r) for r in frame.select("id", "flag").collect())
    assert got in ([(1, "unknown"), (2, "unknown")], [(1, "unknown")]), got


def test_keys_unique_debug_assertion_catches_violation(spark, tmp_path):
    """keys_unique=True skips duplicate-key validation on the caller's
    word; under the debug flag the validation job runs anyway so a
    broken uniqueness assumption fails loudly instead of silently
    committing duplicate-key rows."""
    lake = _mk(spark, tmp_path, n=20)
    dupes = spark.createDataFrame(
        [(1, 0, 1.0), (1, 0, 2.0)], "id long, grp long, val double"
    )
    # flag off (default): the fast path trusts the caller — the bad
    # batch goes through (this is exactly the hazard the flag guards)
    lake.upsert(dupes, ["id"], keys_unique=True)
    assert lake.read().where(F.col("id") == 1).count() == 2
    spark.conf.set("spark.clickbom.debug.validateAssumptions", "true")
    try:
        with pytest.raises(ValueError, match="keys_unique"):
            lake.upsert(dupes, ["id"], keys_unique=True)
        # unique change sets still pass under the flag
        ok = spark.createDataFrame(
            [(2, 0, 9.0)], "id long, grp long, val double"
        )
        lake.upsert(ok, ["id"], keys_unique=True)
    finally:
        spark.conf.set(
            "spark.clickbom.debug.validateAssumptions", "false"
        )


def test_merge_cdc_unknown_op_check_is_distributed(spark, tmp_path):
    """The unknown-op validation must reject bad ops (and allow good
    ones) through the exploded distributed aggregate — no single
    collect_list buffer of every key's op set."""
    lake = _mk(spark, tmp_path, n=20)
    bad = spark.createDataFrame(
        [(1, 0, 1.0, "X"), (2, 0, 2.0, "U")],
        "id long, grp long, val double, op string",
    )
    with pytest.raises(ValueError, match="unknown ops"):
        lake.merge_cdc(bad, ["id"])
    dup = spark.createDataFrame(
        [(1, 0, 1.0, "U"), (1, 0, 2.0, "D")],
        "id long, grp long, val double, op string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        lake.merge_cdc(dup, ["id"])
    good = spark.createDataFrame(
        [(1, 0, 99.0, "U"), (5, 0, 5.0, "D"), (999, 1, 7.0, "I")],
        "id long, grp long, val double, op string",
    )
    lake.merge_cdc(good, ["id"])
    got = {r["id"]: r["val"] for r in lake.read().collect()}
    assert got[1] == 99.0 and 5 not in got and got[999] == 7.0
