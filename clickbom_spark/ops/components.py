"""Component extraction: explode, project, provenance, license mapping.

The semantic core of the engine (SURVEY.md §7.2 step 1):

- cdx_components    ← P1 CycloneDX projection + P8/P9 source injection
                      (entrypoint.sh:328-367)
- spdx_components   ← P2 SPDX projection (entrypoint.sh:373-384)
- source_reference_expr ← P7 6-strategy provenance coalesce
                      (entrypoint.sh:38-104)
- map_unknown_licenses  ← J1 broadcast lookup join (entrypoint.sh:245-269)

jq semantics faithfully mirrored: ``//`` treats null and missing alike
(missing struct fields are null in our permissive schema); bash's
``[[ -n "$x" ]]`` additionally rejects empty strings, so the provenance
chain wraps each strategy in ``nullif(x, '')``.

Scale: explode is narrow (no shuffle); the license join broadcasts a
~1k-row dimension (the reference's awk in-memory hash join, J1) so the
fact side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_UNKNOWN = "unknown"

# Tool names that are merge/format machinery, not provenance
# (entrypoint.sh:85: grep -v stop-list, substring match).
_TOOL_STOPLIST = ["GitHub.com-Dependency", "protobom", "CycloneDX", "cyclonedx-merge"]


def license_fallback_expr(c: Column) -> Column:
    """The 5-way CycloneDX license fallback chain (entrypoint.sh:333-361).

    1. licenses[0].(license.id // license.name // id // name // expression)
       — guarded by ``(.licenses|length) > 0`` and "licenses[0] has at
       least one populated key" (the jq ``keys|length > 0`` guard: an
       empty object falls through to the property-based strategies);
    2. properties[name == 'spdx:license-concluded'].value;
    3. properties[name == 'spdx:license-declared'].value;
    4. literal 'unknown'.
    """
    first = F.get(c["licenses"], 0)
    first_nonempty = (
        first["license"]["id"].isNotNull()
        | first["license"]["name"].isNotNull()
        | first["id"].isNotNull()
        | first["name"].isNotNull()
        | first["expression"].isNotNull()
    )
    from_licenses = F.when(
        (F.size(c["licenses"]) > 0) & first_nonempty,
        F.coalesce(
            first["license"]["id"],
            first["license"]["name"],
            first["id"],
            first["name"],
            first["expression"],
        ),
    )

    def prop(prop_name: str) -> Column:
        matches = F.filter(
            c["properties"], lambda p: p["name"] == F.lit(prop_name)
        )
        return F.when(F.size(matches) > 0, F.get(matches, 0)["value"])

    return F.coalesce(
        from_licenses,
        prop("spdx:license-concluded"),
        prop("spdx:license-declared"),
        F.lit(DEFAULT_UNKNOWN),
    )


def cdx_components(df: DataFrame, default_source: Column | str) -> DataFrame:
    """Explode CycloneDX components[] into warehouse tuples (P1).

    ``default_source`` may be a literal (NORMAL mode: repo /
    ``mend:<uuid>`` / ``wiz:<id>``) or a per-row Column (MERGE mode:
    the doc's source reference).  Component-level ``source`` wins over
    the default (P9, entrypoint.sh:363-365).
    """
    src = F.lit(default_source) if isinstance(default_source, str) else default_source
    c = F.col("component")
    return (
        df.where(F.col("components").isNotNull())
        .select(src.alias("_default_source"), F.explode("components").alias("component"))
        .select(
            F.coalesce(c["name"], F.lit(DEFAULT_UNKNOWN)).alias("name"),
            F.coalesce(c["version"], F.lit(DEFAULT_UNKNOWN)).alias("version"),
            license_fallback_expr(c).alias("license"),
            F.coalesce(c["source"], F.col("_default_source")).alias("source"),
            c["purl"].alias("purl"),
        )
    )


def spdx_components(df: DataFrame, default_source: Column | str) -> DataFrame:
    """Explode SPDX packages[] into warehouse tuples (P2).

    Packages with null name are dropped (entrypoint.sh:375); SPDX never
    carries component-level source, so the default always applies.
    """
    src = F.lit(default_source) if isinstance(default_source, str) else default_source
    p = F.col("package")
    return (
        df.where(F.col("packages").isNotNull())
        .select(src.alias("_default_source"), F.explode("packages").alias("package"))
        .where(p["name"].isNotNull())
        .select(
            F.coalesce(p["name"], F.lit(DEFAULT_UNKNOWN)).alias("name"),
            F.coalesce(p["versionInfo"], F.lit(DEFAULT_UNKNOWN)).alias("version"),
            F.coalesce(
                p["licenseConcluded"], p["licenseDeclared"], F.lit(DEFAULT_UNKNOWN)
            ).alias("license"),
            src.alias("source"),
            F.lit(None).cast("string").alias("purl"),
        )
    )


def source_reference_expr(fallback: Column | None = None) -> Column:
    """P7: the 6-strategy provenance coalesce (entrypoint.sh:38-104).

    1. metadata.properties[name == 'spdx:document:name'].value
    2. metadata.component.name
    3. metadata.component.`bom-ref`
    4. top-level .name
    5. first metadata.tools[].name not containing a stop-list substring
    6. fallback (filename sans .json) — else 'unknown'

    Empty strings fall through every strategy (bash ``-n`` checks).
    """
    doc_name_matches = F.filter(
        F.col("metadata.properties"),
        lambda p: p["name"] == F.lit("spdx:document:name"),
    )
    s1 = F.when(F.size(doc_name_matches) > 0, F.get(doc_name_matches, 0)["value"])

    from functools import reduce

    tool_hits = F.filter(
        F.col("metadata.tools"),
        lambda t: t["name"].isNotNull()
        & ~reduce(
            lambda a, b: a | b,
            [t["name"].contains(s) for s in _TOOL_STOPLIST],
        ),
    )
    s5 = F.when(F.size(tool_hits) > 0, F.get(tool_hits, 0)["name"])

    if fallback is None:
        fallback = F.regexp_replace(
            F.regexp_extract(F.col("filename"), r"([^/]+)$", 1), r"\.json$", ""
        )

    def ne(c: Column) -> Column:
        return F.nullif(c, F.lit(""))

    return F.coalesce(
        ne(s1),
        ne(F.col("metadata.component.name")),
        ne(F.col("metadata.component.`bom-ref`")),
        ne(F.col("name")),
        ne(s5),
        ne(fallback),
        F.lit(DEFAULT_UNKNOWN),
    )


def map_unknown_licenses(
    components: DataFrame, mappings: DataFrame
) -> DataFrame:
    """J1: patch unmapped licenses from the name→license dimension.

    A left-outer **broadcast** hash join (the awk associative array at
    entrypoint.sh:256-266 scaled out): rows whose license is
    'unknown' / '' / 'null' take the mapped license when one exists;
    everything else is untouched.  Broadcasting keeps the fact side
    shuffle-free at any scale.
    """
    m = F.broadcast(
        mappings.select(
            F.col("name").alias("_map_name"), F.col("license").alias("_map_license")
        )
    )
    joined = components.join(m, components["name"] == m["_map_name"], "left")
    needs_map = F.col("license").isin(DEFAULT_UNKNOWN, "", "null")
    return joined.withColumn(
        "license",
        F.when(
            needs_map & F.col("_map_license").isNotNull(), F.col("_map_license")
        ).otherwise(F.col("license")),
    ).drop("_map_name", "_map_license")


def load_license_mappings(spark, path: str) -> DataFrame:
    """Read a ``{name: license, ...}`` JSON dictionary as a 2-col dim.

    The reference's license-mappings.json is a single flat object; a
    driver-side parse into a small DataFrame is the right shape for a
    broadcast dimension (948 entries — license-mappings.json:1-949),
    built by ``session.local_frame``.

    Raises ``ValueError`` naming the file when the top level is not an
    object, or naming the first key whose value is not a string.
    """
    import json

    from clickbom_spark.schemas import license_mapping_schema
    from clickbom_spark.session import local_frame

    with open(path) as f:
        d = json.load(f)
    if not isinstance(d, dict):
        raise ValueError(
            f"{path}: license mappings must be a JSON object of name → license, "
            f"not {type(d).__name__}"
        )
    for k, v in d.items():
        if not isinstance(v, str):
            raise ValueError(
                f"{path}: license for {k!r} must be a string, not {type(v).__name__}"
            )
    return local_frame(spark, d.items(), license_mapping_schema())
