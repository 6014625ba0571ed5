"""Golden tests for the SBOM operator suite (SURVEY §2 P/J/U/C series).

Mirrors the reference's BATS coverage (SURVEY §5) with real local
execution instead of mocked CLI invocations: fixtures in
tests/fixtures/sboms are distilled from the reference's own test corpus
(test/simple.bats, test/advanced.bats — see FIXTURES.md §A).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clickbom_spark.engine import (
    PipelineConfig,
    default_source_value,
    merge_pipeline,
    normal_pipeline,
)
from clickbom_spark.ops import components as C
from clickbom_spark.ops import merge as M
from clickbom_spark.ops import normalize as N

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "sboms")


def fx(name: str) -> str:
    return os.path.join(FIXTURES, name)


def read(spark, *names):
    return N.read_sboms(spark, [fx(n) for n in names])


# ---------- P3 unwrap / P4 detect ----------


def test_unwrap_envelope(spark):
    docs = N.unwrap(read(spark, "wrapped.json"))
    row = docs.collect()[0]
    assert row["name"] == "wrapped-repo"
    assert row["spdxVersion"] == "SPDX-2.3"
    assert row["packages"][0]["name"] == "django"


def test_unwrap_identity_for_plain_docs(spark):
    docs = N.unwrap(read(spark, "cdx_a.json"))
    assert docs.collect()[0]["bomFormat"] == "CycloneDX"


def test_detect_format_priorities(spark):
    docs = N.detect_format(N.unwrap(read(spark, "cdx_a.json", "spdx_doc.json", "wrapped.json")))
    by_name = {
        r["filename"].rsplit("/", 1)[-1]: r["sbom_format"] for r in docs.collect()
    }
    assert by_name["cdx_a.json"] == "cyclonedx"
    assert by_name["spdx_doc.json"] == "spdxjson"
    assert by_name["wrapped.json"] == "spdxjson"


def test_invalid_json_is_gated(spark):
    docs = read(spark, "invalid.json", "cdx_a.json")
    assert docs.count() == 2
    # Reference a real column alongside the gate: Spark disallows plans
    # whose scan projects only the corrupt-record column.
    valid = N.valid_docs(docs).select("bomFormat").collect()
    assert len(valid) == 1


# ---------- P10 spdx fix ----------


def test_fix_spdx_reference_categories(spark):
    docs = N.fix_spdx(N.unwrap(read(spark, "spdx_doc.json")))
    pkgs = {p["name"]: p for p in docs.collect()[0]["packages"]}
    cats = [r["referenceCategory"] for r in pkgs["lodash"]["externalRefs"]]
    assert cats == ["PACKAGE_MANAGER"]  # PACKAGE-MANAGER rewritten
    cats2 = [r["referenceCategory"] for r in pkgs["requests"]["externalRefs"]]
    assert cats2 == ["SECURITY", "OTHER"]  # valid kept, unknown → OTHER


# ---------- P1 CycloneDX projection: the 5-way license fallback ----------


def test_cdx_license_fallback_chain(spark):
    docs = N.detect_format(N.unwrap(read(spark, "cdx_a.json")))
    comps = C.cdx_components(docs, "ctx-source")
    rows = {r["name"]: r for r in comps.collect()}
    assert rows["lodash"]["license"] == "MIT"  # licenses[0].license.id
    assert rows["by-name-license"]["license"] == "Apache License 2.0"  # .license.name
    assert rows["express"]["license"] == "(MIT OR Apache-2.0)"  # .expression
    assert rows["left-pad"]["license"] == "WTFPL"  # empty [] → concluded prop
    assert rows["chalk"]["license"] == "MIT"  # [{}] empty object → declared prop
    assert rows["unknown"]["license"] == "unknown"  # missing name+licenses
    assert rows["unknown"]["version"] == "0.0.1"
    assert all(r["source"] == "ctx-source" for r in rows.values())


def test_component_level_source_precedence(spark):
    # a-test.json's component carries source=pre-merged-source (P9)
    docs = N.detect_format(N.unwrap(read(spark, "a-test.json")))
    comps = C.cdx_components(docs, "context-default")
    assert comps.collect()[0]["source"] == "pre-merged-source"


# ---------- P2 SPDX projection ----------


def test_spdx_projection(spark):
    docs = N.detect_format(N.unwrap(read(spark, "spdx_doc.json")))
    comps = C.spdx_components(docs, "spdx-src")
    rows = {r["name"]: r for r in comps.collect()}
    assert len(rows) == 3  # null-name package dropped (entrypoint.sh:375)
    assert rows["lodash"]["license"] == "MIT"  # licenseConcluded
    assert rows["requests"]["license"] == "Apache-2.0"  # licenseDeclared fallback
    assert rows["no-license-pkg"]["license"] == "unknown"
    assert rows["no-license-pkg"]["version"] == "unknown"
    assert all(r["source"] == "spdx-src" for r in rows.values())


# ---------- P7 source reference strategies ----------


def srcref(spark, name):
    docs = N.unwrap(read(spark, name))
    return docs.select(C.source_reference_expr().alias("s")).collect()[0]["s"]


def test_source_ref_strategy_1_document_name(spark):
    assert srcref(spark, "a-prod.json") == "prod-app"  # beats component.name


def test_source_ref_strategy_2_component_name(spark):
    assert srcref(spark, "cdx_a.json") == "service-a"


def test_source_ref_strategy_4_top_level_name(spark):
    assert srcref(spark, "spdx_doc.json") == "spdx-project"


def test_source_ref_strategy_5_tool_stoplist(spark):
    # GitHub.com-Dependency-Graph is stop-listed; trivy wins
    assert srcref(spark, "a-test.json") == "trivy"


def test_source_ref_strategy_6_filename_fallback(spark):
    assert srcref(spark, "b-dev.json") == "b-dev"


# ---------- J1 license mapping join ----------


def test_map_unknown_licenses(spark):
    mappings = C.load_license_mappings(spark, fx("license-mappings-sample.json"))
    comps = spark.createDataFrame(
        [
            ("numpy", "1.26.0", "unknown", "s", None),
            ("left-pad", "1.3.0", "WTFPL", "s", None),  # known: must NOT be overwritten
            ("no-license-pkg", "1.0", "", "s", None),  # empty string: patched
            ("ghost", "0.1", "null", "s", None),  # literal 'null': mapped name absent
        ],
        "name string, version string, license string, source string, purl string",
    )
    out = {r["name"]: r["license"] for r in C.map_unknown_licenses(comps, mappings).collect()}
    assert out["numpy"] == "BSD-3-Clause"
    assert out["left-pad"] == "WTFPL"
    assert out["no-license-pkg"] == "ISC"
    assert out["ghost"] == "null"  # no mapping → untouched


# ---------- P5/P6 filename filters ----------


def test_glob_to_regex():
    assert M.glob_to_regex("*-prod.json") == r"^.*\-prod\.json$" or M.glob_to_regex(
        "*-prod.json"
    ).startswith("^.*")
    import re

    assert re.match(M.glob_to_regex("a-*.json"), "a-prod.json")
    assert not re.match(M.glob_to_regex("a-*.json"), "b-dev.json")
    assert re.match(M.glob_to_regex("?-dev.json"), "b-dev.json")


def test_filename_filters_include_exclude(spark):
    docs = read(spark, "a-prod.json", "a-test.json", "b-dev.json", "production-x.json")
    names = lambda d: sorted(
        r["filename"].rsplit("/", 1)[-1] for r in d.select("filename").collect()
    )
    inc = M.filename_filter(docs, include="a-*.json,production-*.json")
    assert names(inc) == ["a-prod.json", "a-test.json", "production-x.json"]
    # exclude wins over include (README.md:104)
    both = M.filename_filter(docs, include="a-*.json", exclude="*-test.json")
    assert names(both) == ["a-prod.json"]
    # empty include ⇒ all
    exc = M.filename_filter(docs, exclude="b-*.json")
    assert names(exc) == ["a-prod.json", "a-test.json", "production-x.json"]


# ---------- U2 dedup semantics ----------


def test_dedup_preserves_distinct_sources(spark):
    comps = spark.createDataFrame(
        [
            ("lodash", "4.17.21", "MIT", "repo-a", "pkg:npm/lodash@4.17.21"),
            ("lodash", "4.17.21", "MIT", "repo-a", "pkg:npm/lodash@4.17.21"),  # exact dup
            ("lodash", "4.17.21", "MIT", "repo-b", "pkg:npm/lodash@4.17.21"),  # diff source
            ("lodash", None, "MIT", "repo-a", None),  # null version → 'unknown'
            ("lodash", "unknown", "MIT", "repo-a", ""),  # same key as above
        ],
        "name string, version string, license string, source string, purl string",
    )
    out = M.dedup_components(comps, deterministic=True).collect()
    keys = sorted((r["name"], r["version"], r["purl"], r["source"]) for r in out)
    assert keys == [
        ("lodash", "4.17.21", "pkg:npm/lodash@4.17.21", "repo-a"),
        ("lodash", "4.17.21", "pkg:npm/lodash@4.17.21", "repo-b"),
        ("lodash", "unknown", "", "repo-a"),
    ]


# ---------- EP2 merge pipeline end-to-end ----------


def test_merge_pipeline_end_to_end(spark):
    cfg = PipelineConfig(
        merge=True,
        license_mappings_path=fx("license-mappings-sample.json"),
    )
    out = merge_pipeline(
        spark, FIXTURES, cfg, output_key="merged-output.json"
    )
    rows = out.collect()
    by_key = {(r["name"], r["version"], r["source"]): r for r in rows}

    # invalid.json skipped; spdx_doc/wrapped gated out (CycloneDX-only path);
    # merged-output.json excluded as the output key.
    assert all(r["name"] != "SHOULD-NEVER-APPEAR" for r in rows)

    # lodash appears once per distinct source (cdx_a→service-a,
    # a-prod→prod-app, b-dev→filename fallback)
    lodash_sources = sorted(
        s for (n, v, s) in by_key if n == "lodash" and v == "4.17.21"
    )
    assert lodash_sources == ["b-dev", "prod-app", "service-a"]

    # component-level source survives the merge (P9)
    assert ("pytest", "8.0.0", "pre-merged-source") in by_key

    # license mapping applied to unknown (numpy has no license in b-dev.json)
    assert by_key[("numpy", "1.26.0", "b-dev")]["license"] == "BSD-3-Clause"


def test_merge_idempotence(spark):
    """merge(merge(x)) == merge(x) — SURVEY §5 property."""
    cfg = PipelineConfig(merge=True)
    once = merge_pipeline(
        spark, FIXTURES, cfg, output_key="merged-output.json"
    )
    again = M.dedup_components(once, deterministic=True)
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_assemble_merged_doc_golden(spark):
    cfg = PipelineConfig(merge=True)
    comps = merge_pipeline(
        spark, FIXTURES, cfg, output_key="merged-output.json"
    )
    doc = M.assemble_merged_doc(
        comps,
        serial_number="urn:uuid:00000000-0000-0000-0000-000000000000",
        timestamp="2024-06-01T00:00:00Z",
    ).collect()[0]
    assert doc["bomFormat"] == "CycloneDX"
    assert doc["specVersion"] == "1.6"
    assert doc["serialNumber"] == "urn:uuid:00000000-0000-0000-0000-000000000000"
    assert doc["metadata"]["timestamp"] == "2024-06-01T00:00:00Z"
    assert doc["metadata"]["tools"][0]["name"] == "cyclonedx-merge"
    assert doc["metadata"]["component"]["name"] == "merged-sbom"
    comps_list = doc["components"]
    assert len(comps_list) == comps.count()
    # deterministic ordering by dedup key
    keys = [(c["name"], c["version"], c["purl"] or "", c["source"]) for c in comps_list]
    assert keys == sorted(keys)


# ---------- C1 conversion ----------


def test_spdx_to_cdx_conversion(spark):
    docs = N.detect_format(N.unwrap(read(spark, "spdx_doc.json")))
    cdx = N.convert(docs, "cyclonedx")
    row = cdx.collect()[0]
    assert row["bomFormat"] == "CycloneDX"
    assert row["sbom_format"] == "cyclonedx"
    comps = {c["name"]: c for c in row["components"]}
    assert comps["lodash"]["version"] == "4.17.21"
    assert comps["lodash"]["licenses"][0]["license"]["id"] == "MIT"
    assert comps["requests"]["licenses"][0]["license"]["id"] == "Apache-2.0"


def test_cdx_to_spdx_conversion(spark):
    docs = N.detect_format(N.unwrap(read(spark, "cdx_a.json")))
    spdx = N.convert(docs, "spdxjson")
    row = spdx.collect()[0]
    assert row["spdxVersion"] == "SPDX-2.3"
    pkgs = {p["name"]: p for p in row["packages"]}
    assert pkgs["lodash"]["versionInfo"] == "4.17.21"
    assert pkgs["lodash"]["licenseConcluded"] == "MIT"
    assert pkgs["left-pad"]["licenseConcluded"] == "WTFPL"  # fallback chain in convert


def test_convert_round_trip_preserves_tuples(spark):
    """spdx → cdx → project == spdx → project (C1 fidelity)."""
    docs = N.detect_format(N.unwrap(read(spark, "spdx_doc.json")))
    direct = C.spdx_components(docs, "s").select("name", "version", "license")
    via_cdx = C.cdx_components(N.convert(docs, "cyclonedx"), "s").select(
        "name", "version", "license"
    )
    # cdx path keeps null-name packages as 'unknown'; align on named rows
    d = sorted(map(tuple, direct.collect()))
    v = sorted(t for t in map(tuple, via_cdx.collect()) if t[0] != "unknown")
    assert d == v


# ---------- EP1 normal pipeline ----------


def test_normal_pipeline_github_wrapped(spark):
    cfg = PipelineConfig(sbom_source="github", repository="octo/wrapped-repo")
    comps = normal_pipeline(spark, fx("wrapped.json"), cfg)
    rows = comps.collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "django"
    assert rows[0]["source"] == "octo/wrapped-repo"


def test_default_source_values():
    assert default_source_value(PipelineConfig(sbom_source="github", repository="o/r")) == "o/r"
    assert default_source_value(PipelineConfig(sbom_source="mend", mend_product_uuid="u2")) == "mend:u2"
    assert (
        default_source_value(
            PipelineConfig(sbom_source="mend", mend_project_uuid="u1", mend_product_uuid="u2")
        )
        == "mend:u1"
    )
    assert default_source_value(PipelineConfig(sbom_source="wiz", wiz_report_id="w1")) == "wiz:w1"
    assert default_source_value(PipelineConfig(sbom_source="github")) == "unknown"
    assert default_source_value(PipelineConfig(merge=True)) == "unknown"


# ---------- K5 table naming ----------


def test_derive_table_name():
    assert M.derive_table_name("sboms/My-App.json") == "sboms_my_app_json"
    assert M.derive_table_name("key", merged=True) == "key_merged"


# ---------- J1 license dictionary at reference scale ----------


def test_license_mapping_dictionary_scale(spark, tmp_path):
    """Load a reference-shaped dictionary (947 entries, flat
    {package-name: spdx-id} JSON — the shape and size of the
    reference's license-mappings.json:1-949) and assert the patch
    semantics over the full unknown/''/null sentinel matrix at
    dictionary scale."""
    import json

    from clickbom_spark.ops.components import (
        load_license_mappings,
        map_unknown_licenses,
    )

    licenses = ["MIT", "Apache-2.0", "ISC", "BSD-3-Clause", "GPL-3.0-only"]
    mapping = {
        f"@scope-{i % 40}/pkg-{i}": licenses[i % len(licenses)]
        for i in range(947)
    }
    path = tmp_path / "license-mappings.json"
    path.write_text(json.dumps(mapping))

    dim = load_license_mappings(spark, str(path))
    assert dim.count() == 947
    assert dim.columns == ["name", "license"]

    # components hitting every (sentinel × in-dict) combination
    sentinels = ["unknown", "", "null"]
    rows = []
    for i, s in enumerate(sentinels):
        rows.append((f"@scope-{i % 40}/pkg-{i}", "1.0", s, "src", ""))  # mapped
        rows.append((f"not-in-dict-{i}", "1.0", s, "src", ""))  # unmapped
    rows.append(("@scope-0/pkg-0", "1.0", "BSD-2-Clause", "src", ""))  # real kept
    comps = spark.createDataFrame(
        rows, ["name", "version", "license", "source", "purl"]
    )

    out = {
        (r["name"], r["license"])
        for r in map_unknown_licenses(comps, dim).collect()
    }
    expected = set()
    for i, s in enumerate(sentinels):
        expected.add((f"@scope-{i % 40}/pkg-{i}", licenses[i % len(licenses)]))
        expected.add((f"not-in-dict-{i}", s))
    expected.add(("@scope-0/pkg-0", "BSD-2-Clause"))
    assert out == expected
    # The dimension must be a LocalRelation, not a Python RDD: a LogicalRDD
    # here means every plan that broadcasts it runs a Python-worker job.
    # A caller may pass in a session with Arrow off, so check both.
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            plan = load_license_mappings(spark, str(path))._jdf.queryExecution().optimizedPlan()
            assert plan.nodeName() == "LocalRelation", (arrow, plan.toString())
    finally:
        spark.conf.set(key, saved)


@pytest.mark.parametrize(
    "content, bad",
    [
        ('["numpy", "BSD-3-Clause"]', "list"),  # top level is not an object
        ('{"numpy": "BSD-3-Clause", "left-pad": ["a"], "x": 1}', "'left-pad'"),
        ('{"numpy": null}', "'numpy'"),
    ],
    ids=["top_level_list", "list_value", "null_value"],
)
def test_license_mappings_rejects_malformed_file(spark, tmp_path, content, bad):
    path = tmp_path / "license-mappings.json"
    path.write_text(content)
    with pytest.raises(ValueError) as e:
        C.load_license_mappings(spark, str(path))
    assert str(path) in str(e.value) and bad in str(e.value)


def test_license_mappings_empty_file_patches_nothing(spark, tmp_path):
    path = tmp_path / "license-mappings.json"
    path.write_text("{}")
    dim = C.load_license_mappings(spark, str(path))
    assert dim.count() == 0
    assert dim.columns == ["name", "license"]
    rows = [("numpy", "1.0", s, "src", None) for s in ("unknown", "", "null", "MIT")]
    comps = spark.createDataFrame(
        rows, "name string, version string, license string, source string, purl string"
    )
    out = sorted(tuple(r) for r in C.map_unknown_licenses(comps, dim).collect())
    assert out == sorted(rows)
