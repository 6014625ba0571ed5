"""Tests of the benchmark itself.

Run from the repository root with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402
from loopback import LoopbackClickHouse  # noqa: E402

FIXTURES = os.path.join(ROOT, "tests", "fixtures", "sboms")
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def _rows(df) -> Counter:
    return Counter(tuple(r[c] for c in ("name", "version", "license", "source", "purl")) for r in df.collect())


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from clickbom_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.mark.parametrize(
    "write",
    [
        lambda root, seed: corpus.write_merge_corpus(root, seed, files=60, comps_per_file=10),
        lambda root, seed: corpus.write_normal_corpus(root, seed, docs=2, packages_per_doc=200),
        lambda root, seed: tables.write_tables(root, seed),
    ],
    ids=["merge", "normal", "tables"],
)
def test_same_seed_same_corpus(tmp_path, write):
    write(str(tmp_path / "a"), 5)
    write(str(tmp_path / "b"), 5)
    write(str(tmp_path / "c"), 6)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))


def test_merge_corpus_has_every_case(tmp_path):
    c = corpus.write_merge_corpus(str(tmp_path), 1, files=250, comps_per_file=10)
    names = os.listdir(c.path)
    docs, malformed = oracle.read_docs(c.path)
    assert malformed == c.malformed > 0
    assert os.path.basename(corpus.OUTPUT_KEY) in names
    inc, exc = corpus.INCLUDE_PATTERNS, corpus.EXCLUDE_PATTERNS
    assert any(not oracle.selected(n, inc, "") for n in names)  # the include globs bite
    assert any(oracle.selected(n, inc, "") and not oracle.selected(n, inc, exc) for n in names)  # so do the excludes
    assert any(not oracle.is_cyclonedx(d) for _, d in docs)  # SPDX and wrapped documents
    rows = [r for _, d in docs if oracle.is_cyclonedx(d) for r in oracle.cdx_rows(d, "s")]
    assert len(oracle.dedup(rows)) < len(rows)


@pytest.mark.parametrize(
    "include,exclude",
    [("", ""), ("*.json", "b-*"), ("*-prod.json,cdx_?.json", "")],
)
def test_oracle_matches_merge_pipeline_on_fixtures(spark, include, exclude):
    from clickbom_spark.engine import PipelineConfig, merge_pipeline

    mappings = os.path.join(FIXTURES, "license-mappings-sample.json")
    cfg = PipelineConfig(
        merge=True, include_patterns=include, exclude_patterns=exclude, license_mappings_path=mappings
    )
    got = merge_pipeline(spark, FIXTURES, cfg, output_key="merged-output.json")
    with open(mappings) as f:
        expected = oracle.merge_rows(FIXTURES, include, exclude, "merged-output.json", json.load(f))
    assert _rows(got) == Counter(expected)


def test_oracle_matches_normal_pipeline_on_fixtures(spark):
    from clickbom_spark.engine import PipelineConfig, normal_pipeline

    mappings = os.path.join(FIXTURES, "license-mappings-sample.json")
    cfg = PipelineConfig(
        sbom_format="cyclonedx", sbom_source="github", repository="o/r", license_mappings_path=mappings
    )
    got = normal_pipeline(spark, FIXTURES, cfg)
    with open(mappings) as f:
        expected = oracle.normal_rows(FIXTURES, "o/r", json.load(f))
    assert _rows(got) == Counter(expected)


_SMALL = {
    "sbom_merge": lambda root, ch: workloads.SbomMerge(root, 3, ch, files=80, components=12),
    "sbom_normal": lambda root, ch: workloads.SbomNormal(root, 3, ch, docs=2, packages=300),
}


@pytest.mark.parametrize("name", sorted(_SMALL))
def test_oracle_matches_engine_on_generated_corpus(spark, tmp_path, name):
    """The oracle agrees with the engine, every sink passes the check, and
    the check catches a lake that lost a file."""
    ch = LoopbackClickHouse(2).start()
    try:
        wl = _SMALL[name](str(tmp_path / "data"), ch)
        assert _rows(wl.build(spark)) == Counter(wl.rows)
        out = str(tmp_path / "out")
        wl.run_pass(spark, out)
        wl.check(out)
        files, size = wl.last_lake
        assert files > 0 and size > 0
        assert ch.snapshot().rows_acked == len(wl.rows)
        victim = next(
            os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "lake")) for f in fs if f.endswith(".parquet")
        )
        os.remove(victim)
        with pytest.raises(workloads.CheckFailed):
            wl.check(out)
    finally:
        ch.close()


@pytest.mark.parametrize("name", sorted(_SMALL))
def test_traced_prefixes_build_the_engines_plan(spark, tmp_path, name):
    """The last traced prefix is the plan the untraced pass runs, and the
    comparison is strict enough to notice a missing stage."""
    wl = _SMALL[name](str(tmp_path / "data"), None)
    steps = wl.prefixes(spark)
    built = workloads.plan_shape(wl.build(spark))
    assert workloads.plan_shape(steps[-1][1]) == built
    assert workloads.plan_shape(steps[-2][1]) != built


def test_registry_matches_its_oracles_on_generated_tables(spark, tmp_path):
    """Every headline query of the registry workload has a non-empty answer
    on the generated tables, equal to its DuckDB oracle; the check catches
    a result that lost a row."""
    from registry import RegistryHeadline

    wl = RegistryHeadline(str(tmp_path / "tables"), 3)
    assert sorted(wl.expected) == sorted(tables.QUERIES)
    assert all(len(frame) > 0 for frame in wl.expected.values())
    wl.run_pass(spark, str(tmp_path / "out"))
    wl.check(str(tmp_path / "out"))
    columns, rows = wl.results["q_minhash_lsh_dedup"]
    wl.results["q_minhash_lsh_dedup"] = (columns, rows[1:])
    with pytest.raises(workloads.CheckFailed):
        wl.check(str(tmp_path / "out"))


def test_loopback_answers_probes_and_bounds_connections():
    from clickbom_spark.io.clickhouse import ClickHouseSink, http_transport

    ch = LoopbackClickHouse(2).start()
    try:
        sink = ClickHouseSink(http_transport(ch.url), "db", "t")
        sink.setup()  # not there yet: CREATE
        assert sink.table_exists() and sink.has_source_column()
        send = http_transport(ch.url)
        q = "INSERT INTO db.t (name, version, license, source) SETTINGS x='1' FORMAT TSV"
        assert send(q, b"a\\tb\t1\tMIT\ts\n")[0] == 200
        assert ch.rows("db", "t") == [("a\tb", "1", "MIT", "s")]
        sink.setup(truncate_table=True)
        assert ch.rows("db", "t") == []

        inflight, peak, lock = [0], [0], threading.Lock()
        answer = ch._answer

        def slow_answer(query, body):
            with lock:
                inflight[0] += 1
                peak[0] = max(peak[0], inflight[0])
            time.sleep(0.05)
            with lock:
                inflight[0] -= 1
            return answer(query, body)

        ch._answer = slow_answer  # the handler looks it up per request
        threads = [threading.Thread(target=send, args=(q, b"x\t1\tMIT\ts\n")) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        assert peak[0] <= 2
        assert ch.snapshot().failed_requests == 0
        assert len(ch.rows("db", "t")) == 8
    finally:
        ch.close()


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"sbom_merge", "registry_headline"}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert METRIC_NAME.fullmatch(name)


@pytest.mark.parametrize(
    "workload,trace", [("sbom_merge", 0), ("sbom_merge", 1), ("registry_headline", 1)]
)
def test_cli_emits_every_metric(workload, trace):
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in m.values())
    elif workload == "registry_headline":
        assert m["queries.builder_jobs"] > 0 and m["queries.exec_jobs"] > 0 and m["queries.plan_s"] > 0
        assert all(m[f"queries.{q}.exec_s"] > 0 for q in tables.QUERIES)
    elif trace:
        assert m["ops.normalize.docs_malformed"] > 0
        assert m["io.clickhouse.failed_requests"] == 0
        assert m["io.clickhouse.rows_acked"] == m["ops.merge.rows_out"] > 0
        assert 0 < m["ops.merge.dedup_keep_ratio"] < 1
    assert not os.path.exists(run.RUNS_DIR)


def test_cli_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sbom_merge", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert done.returncode != 0
    assert "{" not in done.stdout
