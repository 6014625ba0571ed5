"""The SBOM workloads: one untraced pass, its output check, and the traced
passes that split it by layer.

A pass builds the engine's plan from the generated corpus and writes every
sink the workload has.  Each pass writes into its own output directory and
into a ClickHouse table that ``ClickHouseSink.setup`` truncates, so the
check reads only what that pass produced.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time

import corpus
import oracle
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark import StorageLevel
from pyspark.sql import functions as F

from clickbom_spark import engine
from clickbom_spark.io import sinks
from clickbom_spark.io.clickhouse import ClickHouseSink, http_transport
from clickbom_spark.ops import components as C
from clickbom_spark.ops import merge as M
from clickbom_spark.ops import normalize as N

DATABASE = "sbom"
SERIAL = "urn:uuid:00000000-0000-4000-8000-000000000000"
TIMESTAMP = "2026-01-01T00:00:00Z"
_COLUMNS = ["name", "version", "license", "source", "purl"]
_LAKE_PARTITIONING = ds.partitioning(pa.schema([("source", pa.string())]), flavor="hive")

# Corpus sizes: each pass must be long enough to time steadily and short
# enough for warm-up plus several timed passes to fit one run.
MERGE_FILES, MERGE_COMPONENTS = 400, 40
NORMAL_DOCS, NORMAL_PACKAGES = 8, 12000
PREFIX_ROUNDS = 3  # the traced pass times each pipeline prefix this often
# Expression ids, and the numbered names Catalyst gives common
# subexpressions and lambda variables.
_EXPR_ID = re.compile(r"#\d+L?|(?<=_common_expr_)\d+|(?<=\bx_)\d+")


class CheckFailed(Exception):
    """An output of a pass differs from the oracle's."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _sorted(table: pa.Table) -> pa.Table:
    return table.sort_by([(c, "ascending") for c in _COLUMNS])


def _same_rows(got: pa.Table, expected: pa.Table) -> bool:
    """Same rows in any order; nullability flags in the schema are ignored."""
    got = _sorted(got)
    return got.num_rows == expected.num_rows and all(got.column(c).equals(expected.column(c)) for c in _COLUMNS)


def plan_shape(df) -> str:
    """The optimized logical plan without its expression ids, so that two
    separately built copies of one pipeline compare equal."""
    return _EXPR_ID.sub("#", df._jdf.queryExecution().optimizedPlan().toString())


def _lake_table(rows: list[tuple]) -> pa.Table:
    columns = list(zip(*rows)) or [()] * len(_COLUMNS)
    return _sorted(pa.Table.from_arrays([pa.array(c, pa.string()) for c in columns], names=_COLUMNS))


class Workload:
    """One corpus plus the pipeline that loads it into every sink."""

    name: str
    merged_doc = False
    warmup_passes = 3  # the JIT's big steps are over after the third pass (see README)

    def __init__(self, corpus_: corpus.Corpus, rows: list[tuple], table: str, clickhouse):
        self.corpus = corpus_
        self.input_bytes = corpus_.input_bytes
        self.rows = rows
        self.table = table
        self.clickhouse = clickhouse
        self.last_lake = (0, 0)
        self.expected_lake = _lake_table(rows)
        self.expected_ch = sorted(r[:4] for r in rows)
        self.expected_doc = oracle.merged_doc_components(rows) if self.merged_doc else None

    # -- the untraced pass ------------------------------------------------
    def build(self, spark):
        raise NotImplementedError

    def sink(self, url: str) -> ClickHouseSink:
        return ClickHouseSink(http_transport(url), DATABASE, self.table)

    def write(self, comps, out: str, url: str) -> None:
        """Every sink of one pass, in the reference's order."""
        if self.merged_doc:
            doc = M.assemble_merged_doc(comps, serial_number=SERIAL, timestamp=TIMESTAMP)
            sinks.write_sbom_document(doc, os.path.join(out, "merged"))
        sinks.write_components_lake(comps, os.path.join(out, "lake"))
        ch = self.sink(url)
        ch.setup(truncate_table=True)
        ch.insert_components(comps)

    def run_pass(self, spark, out: str) -> None:
        self.write(self.build(spark), out, self.clickhouse.url)

    # -- the output check -------------------------------------------------
    def check(self, out: str) -> None:
        """Raise CheckFailed unless every sink holds exactly the oracle's
        rows; record the lake's (files, bytes) in ``last_lake``."""
        if self.merged_doc:
            parts = glob.glob(os.path.join(out, "merged", "part-*.json"))
            _expect(len(parts) == 1, f"merged document: {len(parts)} part files")
            with open(parts[0]) as f:
                lines = f.read().splitlines()
            _expect(len(lines) == 1, "merged document: not one JSON line")
            try:
                doc = json.loads(lines[0])
            except ValueError as e:
                raise CheckFailed(f"merged document is not JSON: {e}") from e
            _expect(doc.get("bomFormat") == "CycloneDX" and doc.get("serialNumber") == SERIAL, "merged document header")
            _expect((doc.get("metadata") or {}).get("timestamp") == TIMESTAMP, "merged document timestamp")
            _expect(doc.get("components") == self.expected_doc, "merged document components differ from the oracle")
        lake = os.path.join(out, "lake")
        files = glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)
        try:
            got = ds.dataset(lake, format="parquet", partitioning=_LAKE_PARTITIONING).to_table(columns=_COLUMNS)
        except (pa.ArrowInvalid, FileNotFoundError) as e:
            raise CheckFailed(f"lake unreadable: {e}") from e
        _expect(
            _same_rows(got, self.expected_lake),
            f"lake rows differ from the oracle ({got.num_rows} vs {len(self.rows)})",
        )
        ch_rows = sorted(self.clickhouse.rows(DATABASE, self.table))
        _expect(ch_rows == self.expected_ch, f"ClickHouse rows differ ({len(ch_rows)} vs {len(self.rows)})")
        self.last_lake = (len(files), sum(os.path.getsize(f) for f in files))

    # -- the traced pass --------------------------------------------------
    def prefixes(self, spark) -> list[tuple[str, object]]:
        """``[(layer metric, DataFrame)]``: the pipeline cut after each
        public function, in order; each prefix contains the one before.
        The last prefix must be the plan ``build()`` makes; ``trace`` checks
        that it is."""
        raise NotImplementedError

    def trace(self, loop, stats) -> dict[str, float]:
        """One instrumented untraced pass (plan build time, jobs, scans) and
        one traced pass (self time per layer, per-call counts, sinks on a
        persisted input)."""
        spark, ch = loop.spark, self.clickhouse
        m: dict[str, float] = {}

        def instrumented(out: str) -> None:
            with stats.call("pass") as whole:
                t = time.perf_counter()
                comps = self.build(spark)
                m["engine.build_s"] = time.perf_counter() - t
                self.write(comps, out, ch.url)
            m["engine.jobs"] = whole.jobs
            m["engine.scan_passes"] = whole.scan_stages

        def traced(out: str) -> None:
            start = time.perf_counter()
            steps = self.prefixes(spark)
            _expect(
                plan_shape(steps[-1][1]) == plan_shape(self.build(spark)),
                "the traced prefixes no longer build the engine's plan; update prefixes()",
            )
            seconds: dict[str, list[float]] = {name: [] for name, _ in steps}
            calls = {}
            for _ in range(PREFIX_ROUNDS):
                for name, df in steps:
                    with stats.call(name) as calls[name]:
                        df.write.format("noop").mode("overwrite").save()
                    seconds[name].append(calls[name].seconds)
            cumulative = 0.0
            for name, _ in steps:
                m[name] = statistics.median(seconds[name]) - cumulative
                cumulative += m[name]
            m["ops.normalize.read_tasks"] = calls["ops.normalize.read_s"].scan_tasks
            if "ops.merge.dedup_s" in calls:
                m["ops.merge.shuffle_bytes"] = calls["ops.merge.dedup_s"].shuffle_bytes
                m["ops.merge.spill_bytes"] = calls["ops.merge.dedup_s"].spill_bytes
            frames = dict(steps)
            needs_map = F.col("license").isin("unknown", "", "null")
            with stats.call("counts"):
                raw = N.read_sboms(spark, self.corpus.path)
                docs = raw.agg(F.count(F.lit(1)), F.count("_corrupt_record"), F.count("bomFormat")).first()
                m["ops.normalize.docs_read"] = docs[0]
                m["ops.normalize.docs_malformed"] = docs[1]
                m["ops.merge.docs_kept"] = steps[1][1].count()
                exploded = frames["ops.components.explode_s"]
                m["ops.components.rows"] = m["ops.merge.rows_in"] = exploded.count()
                pre_map = frames.get("ops.merge.dedup_s", exploded)
                m["ops.merge.rows_out"] = pre_map.count()
                unknown_before = pre_map.where(needs_map).count()
                final = steps[-1][1].persist(StorageLevel.MEMORY_AND_DISK)
                final.count()
                m["ops.components.licenses_patched"] = unknown_before - final.where(needs_map).count()
            m["ops.merge.dedup_keep_ratio"] = m["ops.merge.rows_out"] / max(1, m["ops.merge.rows_in"])
            try:
                if self.merged_doc:
                    with stats.call("ops.merge.assemble_s") as s:
                        doc = M.assemble_merged_doc(final, serial_number=SERIAL, timestamp=TIMESTAMP)
                        sinks.write_sbom_document(doc, os.path.join(out, "merged"))
                    m["ops.merge.assemble_s"] = s.seconds
                with stats.call("io.sinks.lake_write_s") as s:
                    sinks.write_components_lake(final, os.path.join(out, "lake"))
                m["io.sinks.lake_write_s"] = s.seconds
                before = ch.snapshot()
                with stats.call("io.clickhouse.insert_s") as s:
                    sink = self.sink(ch.url)
                    sink.setup(truncate_table=True)
                    sink.insert_components(final)
                m["io.clickhouse.insert_s"] = s.seconds
                after = ch.snapshot()
            finally:
                final.unpersist(blocking=True)
            m["trace.pass_s"] = time.perf_counter() - start
            for field in ("requests", "bytes_posted", "rows_acked", "failed_requests"):
                m[f"io.clickhouse.{field}"] = getattr(after, field) - getattr(before, field)

        loop.run(instrumented)
        loop.run(traced)
        m["io.sinks.lake_files"], m["io.sinks.lake_bytes"] = self.last_lake
        m["io.sinks.lake_bytes_per_row"] = self.last_lake[1] / len(self.rows)
        return m


class SbomMerge(Workload):
    """EP2 merge mode over many small CycloneDX files."""

    name = "sbom_merge"
    merged_doc = True

    def __init__(self, root: str, seed: int, clickhouse, files: int = MERGE_FILES, components: int = MERGE_COMPONENTS):
        c = corpus.write_merge_corpus(root, seed, files, components)
        with open(c.mappings_path) as f:
            mappings = json.load(f)
        rows = oracle.merge_rows(c.path, corpus.INCLUDE_PATTERNS, corpus.EXCLUDE_PATTERNS, corpus.OUTPUT_KEY, mappings)
        super().__init__(c, rows, M.derive_table_name(corpus.OUTPUT_KEY, merged=True), clickhouse)
        self.cfg = engine.PipelineConfig(
            merge=True,
            include_patterns=corpus.INCLUDE_PATTERNS,
            exclude_patterns=corpus.EXCLUDE_PATTERNS,
            license_mappings_path=c.mappings_path,
        )

    def build(self, spark):
        return engine.merge_pipeline(spark, self.corpus.path, self.cfg, output_key=corpus.OUTPUT_KEY)

    def prefixes(self, spark):
        docs = N.valid_docs(N.read_sboms(spark, self.corpus.path))
        kept = M.exclude_output_key(docs, corpus.OUTPUT_KEY)
        kept = M.filename_filter(kept, self.cfg.include_patterns, self.cfg.exclude_patterns)
        kept = M.cyclonedx_gate(kept).withColumn("source_ref", C.source_reference_expr())
        exploded = C.cdx_components(kept, F.col("source_ref"))
        deduped = M.dedup_components(exploded, deterministic=True)
        mapped = C.map_unknown_licenses(deduped, C.load_license_mappings(spark, self.cfg.license_mappings_path))
        return [
            ("ops.normalize.read_s", docs),
            ("ops.merge.filter_s", kept),
            ("ops.components.explode_s", exploded),
            ("ops.merge.dedup_s", deduped),
            ("ops.components.license_map_s", mapped),
        ]


class SbomNormal(Workload):
    """EP1 normal mode over a few large GitHub-wrapped SPDX documents."""

    name = "sbom_normal"

    def __init__(self, root: str, seed: int, clickhouse, docs: int = NORMAL_DOCS, packages: int = NORMAL_PACKAGES):
        c = corpus.write_normal_corpus(root, seed, docs, packages)
        with open(c.mappings_path) as f:
            mappings = json.load(f)
        rows = oracle.normal_rows(c.path, corpus.REPOSITORY, mappings)
        super().__init__(c, rows, M.derive_table_name(corpus.REPOSITORY), clickhouse)
        self.cfg = engine.PipelineConfig(
            sbom_format=N.FORMAT_CYCLONEDX,
            sbom_source="github",
            repository=corpus.REPOSITORY,
            license_mappings_path=c.mappings_path,
        )

    def build(self, spark):
        return engine.normal_pipeline(spark, self.corpus.path, self.cfg)

    def prefixes(self, spark):
        docs = N.valid_docs(N.read_sboms(spark, self.corpus.path))
        converted = engine.normalize_docs(docs, self.cfg)
        src = engine.default_source_value(self.cfg)
        exploded = M.union_components(
            [
                C.cdx_components(converted.where(F.col("sbom_format") == N.FORMAT_CYCLONEDX), src),
                C.spdx_components(converted.where(F.col("sbom_format") == N.FORMAT_SPDX), src),
            ]
        )
        mapped = C.map_unknown_licenses(exploded, C.load_license_mappings(spark, self.cfg.license_mappings_path))
        return [
            ("ops.normalize.read_s", docs),
            ("ops.normalize.convert_s", converted),
            ("ops.components.explode_s", exploded),
            ("ops.components.license_map_s", mapped),
        ]


SBOM_WORKLOADS = {w.name: w for w in (SbomMerge, SbomNormal)}
