"""Pipeline assembly: the reference's three entry points as lazy plans.

EP1 NORMAL mode (entrypoint.sh:487-574): read one downloaded SBOM →
unwrap → detect → [spdx-fix] → convert → components → license map →
sinks.

EP2 MERGE mode (entrypoint.sh:447-486 + lib/sbom-merging.sh:80-401):
scan a bucket/directory of SBOM JSON → filename filters → CycloneDX
gate → per-doc source reference → explode with source injection →
dedup → merged doc + warehouse rows.

Each builder returns lazy DataFrames; the only materialization
barriers are the sinks (SURVEY §3).  Connectors (GitHub/Mend/Wiz
downloads) live in io/sources.py and run driver-side, producing local
paths that these plans read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickbom_spark.ops import components as C
from clickbom_spark.ops import merge as M
from clickbom_spark.ops import normalize as N


@dataclass
class PipelineConfig:
    """The subset of the reference's 28 action inputs that shapes plans
    (action.yml; sanitized by ops/sanitize.py)."""

    sbom_format: str | None = None  # desired output format (cyclonedx|spdxjson)
    sbom_source: str = "github"  # github|mend|wiz
    repository: str | None = None
    mend_project_uuid: str | None = None
    mend_product_uuid: str | None = None
    mend_org_scope_uuid: str | None = None
    wiz_report_id: str | None = None
    merge: bool = False
    include_patterns: str = ""
    exclude_patterns: str = ""
    license_mappings_path: str | None = None


def default_source_value(cfg: PipelineConfig) -> str:
    """Context-derived provenance default (entrypoint.sh:291-312)."""
    if cfg.merge:
        return C.DEFAULT_UNKNOWN
    if cfg.sbom_source == "github":
        return cfg.repository or C.DEFAULT_UNKNOWN
    if cfg.sbom_source == "mend":
        uuid = (
            cfg.mend_project_uuid
            or cfg.mend_product_uuid
            or cfg.mend_org_scope_uuid
            or C.DEFAULT_UNKNOWN
        )
        return f"mend:{uuid}"
    if cfg.sbom_source == "wiz":
        return f"wiz:{cfg.wiz_report_id or C.DEFAULT_UNKNOWN}"
    return cfg.sbom_source


def normalize_docs(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Shared normalization tail: unwrap → detect → spdx-fix → convert."""
    docs = N.unwrap(docs)
    docs = N.detect_format(docs)
    docs = N.fix_spdx(docs)
    return N.convert(docs, cfg.sbom_format)


def components_from_docs(
    spark: SparkSession, docs: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Project normalized docs to warehouse tuples, license-mapped (K4 core)."""
    src = default_source_value(cfg)
    cdx = C.cdx_components(
        docs.where(F.col("sbom_format") == N.FORMAT_CYCLONEDX), src
    )
    spdx = C.spdx_components(
        docs.where(F.col("sbom_format") == N.FORMAT_SPDX), src
    )
    comps = M.union_components([cdx, spdx])
    if cfg.license_mappings_path:
        mappings = C.load_license_mappings(spark, cfg.license_mappings_path)
        comps = C.map_unknown_licenses(comps, mappings)
    return comps


def normal_pipeline(
    spark: SparkSession, sbom_path: str, cfg: PipelineConfig
) -> DataFrame:
    """EP1: one SBOM document → warehouse tuples."""
    docs = N.valid_docs(N.read_sboms(spark, sbom_path))
    docs = normalize_docs(docs, cfg)
    return components_from_docs(spark, docs, cfg)


def merge_pipeline(
    spark: SparkSession,
    bucket_path: str,
    cfg: PipelineConfig,
    output_key: str = "",
) -> DataFrame:
    """EP2: directory/bucket of SBOMs → deduped, source-tracked tuples.

    One distributed scan replaces the reference's list + N sequential
    downloads; every subsequent stage is columnar and shuffle-minimal
    (the only exchange is the dedup hash-shuffle).
    """
    docs = N.read_sboms(spark, bucket_path)
    docs = N.valid_docs(docs)
    if output_key:
        docs = M.exclude_output_key(docs, output_key)
    docs = M.filename_filter(docs, cfg.include_patterns, cfg.exclude_patterns)
    docs = M.cyclonedx_gate(docs)
    docs = docs.withColumn("source_ref", C.source_reference_expr())
    comps = C.cdx_components(docs, F.col("source_ref"))
    comps = M.dedup_components(comps, deterministic=True)
    if cfg.license_mappings_path:
        mappings = C.load_license_mappings(spark, cfg.license_mappings_path)
        comps = C.map_unknown_licenses(comps, mappings)
    return comps
