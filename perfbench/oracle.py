"""Pure-Python oracle of the EP1 (normal) and EP2 (merge) semantics.

Written independently of the engine, from the reference action's shell/jq
behaviour, so the benchmark can check every output it times:

- include/exclude globs on basenames, exclude wins (``fnmatch``);
- output-key self-exclusion;
- the CycloneDX gate (``bomFormat == "CycloneDX"`` or a metadata component);
- the six-strategy source reference, empty strings falling through;
- the five-way license fallback, then ``'unknown'``;
- the sentinel-default dedup key ``(name, version, purl or '', source)``,
  keeping the row whose JSON rendering sorts first;
- the license mapping, applied only to ``unknown`` / ``''`` / ``null``.

Rows are ``(name, version, license, source, purl)`` tuples.
"""

from __future__ import annotations

import json
import os
from fnmatch import fnmatchcase

UNKNOWN = "unknown"
_TOOL_STOPLIST = ("GitHub.com-Dependency", "protobom", "CycloneDX", "cyclonedx-merge")


def read_docs(path: str) -> tuple[list[tuple[str, dict]], int]:
    """Parse every visible file of a corpus directory: ``[(basename, doc)]``
    for the well-formed ones, and the number of malformed ones."""
    docs, malformed = [], 0
    for name in sorted(os.listdir(path)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(path, name), "rb") as f:
            try:
                doc = json.loads(f.read())
            except ValueError:
                malformed += 1
                continue
        docs.append((name, doc))
    return docs, malformed


def _globs(patterns: str) -> list[str]:
    return [p.strip() for p in patterns.split(",") if p.strip()]


def selected(name: str, include: str, exclude: str) -> bool:
    inc, exc = _globs(include), _globs(exclude)
    if inc and not any(fnmatchcase(name, p) for p in inc):
        return False
    return not any(fnmatchcase(name, p) for p in exc)


def is_cyclonedx(doc: dict) -> bool:
    return doc.get("bomFormat") == "CycloneDX" or (doc.get("metadata") or {}).get("component") is not None


def source_reference(doc: dict, filename: str) -> str:
    meta = doc.get("metadata") or {}
    comp = meta.get("component") or {}
    props = [p for p in meta.get("properties") or [] if p.get("name") == "spdx:document:name"]
    tools = [
        t
        for t in meta.get("tools") or []
        if t.get("name") is not None and not any(s in t["name"] for s in _TOOL_STOPLIST)
    ]
    base = filename[: -len(".json")] if filename.endswith(".json") else filename
    for cand in (
        props[0].get("value") if props else None,
        comp.get("name"),
        comp.get("bom-ref"),
        doc.get("name"),
        tools[0]["name"] if tools else None,
        base,
    ):
        if cand:
            return cand
    return UNKNOWN


def component_license(c: dict) -> str:
    lics = c.get("licenses") or []
    if lics:
        first = lics[0]
        lic = first.get("license") or {}
        for cand in (lic.get("id"), lic.get("name"), first.get("id"), first.get("name"), first.get("expression")):
            if cand is not None:
                return cand
    props = c.get("properties") or []
    for key in ("spdx:license-concluded", "spdx:license-declared"):
        hits = [p for p in props if p.get("name") == key]
        if hits and hits[0].get("value") is not None:
            return hits[0]["value"]
    return UNKNOWN


def cdx_rows(doc: dict, default_source: str) -> list[tuple]:
    return [
        (
            c.get("name") if c.get("name") is not None else UNKNOWN,
            c.get("version") if c.get("version") is not None else UNKNOWN,
            component_license(c),
            c.get("source") if c.get("source") is not None else default_source,
            c.get("purl"),
        )
        for c in doc.get("components") or []
    ]


def map_licenses(rows: list[tuple], mappings: dict[str, str]) -> list[tuple]:
    out = []
    for name, version, lic, source, purl in rows:
        if lic in (UNKNOWN, "", "null") and name in mappings:
            lic = mappings[name]
        out.append((name, version, lic, source, purl))
    return out


def _json_order(row: tuple) -> bytes:
    name, version, lic, source, purl = row
    fields = zip(("name", "version", "license", "source", "purl"), (name, version, lic, source, purl))
    return json.dumps(dict(fields), separators=(",", ":"), ensure_ascii=False).encode()


def dedup(rows: list[tuple]) -> list[tuple]:
    best: dict[tuple, tuple] = {}
    for name, version, lic, source, purl in rows:
        row = (name, version, lic, source, purl if purl is not None else "")
        key = (row[0], row[1], row[4], row[3])
        if key not in best or _json_order(row) < _json_order(best[key]):
            best[key] = row
    return list(best.values())


def merge_rows(path: str, include: str, exclude: str, output_key: str, mappings: dict) -> list[tuple]:
    """EP2: the deduped, license-mapped rows of a corpus directory."""
    docs, _ = read_docs(path)
    out_base = output_key.rsplit("/", 1)[-1]
    rows = []
    for name, doc in docs:
        if name == out_base or not selected(name, include, exclude) or not is_cyclonedx(doc):
            continue
        rows.extend(cdx_rows(doc, source_reference(doc, name)))
    return map_licenses(dedup(rows), mappings)


def normal_rows(path: str, repository: str, mappings: dict) -> list[tuple]:
    """EP1 with a CycloneDX target and a GitHub source: every SPDX package
    becomes a component of the repository."""
    docs, _ = read_docs(path)
    rows = []
    for _, raw in docs:
        doc = raw["sbom"] if raw.get("sbom") is not None else raw
        if is_cyclonedx(doc):
            rows.extend(cdx_rows(doc, repository))
            continue
        for p in doc.get("packages") or []:
            lic = p.get("licenseConcluded")
            if lic is None:
                lic = p.get("licenseDeclared")
            rows.append(
                (
                    p.get("name") if p.get("name") is not None else UNKNOWN,
                    p.get("versionInfo") if p.get("versionInfo") is not None else UNKNOWN,
                    lic if lic is not None else UNKNOWN,
                    repository,
                    None,
                )
            )
    return map_licenses(rows, mappings)


def merged_doc_components(rows: list[tuple]) -> list[dict]:
    """The merged document's component list: sorted by (name, version, purl,
    source, license), rendered with the document's field order."""
    ordered = sorted(rows, key=lambda r: (r[0], r[1], r[4], r[3], r[2]))
    return [{"name": n, "version": v, "license": lic, "source": s, "purl": p} for n, v, lic, s, p in ordered]
