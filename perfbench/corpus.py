"""Seeded generator of the SBOM corpora the benchmark feeds the engine.

Pure Python, no downloads: the same ``seed`` always produces byte-identical
files.  Two corpora:

- ``write_merge_corpus``: many small CycloneDX files for EP2 merge mode,
  with a shared hot pool of components (so dedup collapses rows), components
  without licenses (so the license-mapping dimension patches them),
  malformed files, SPDX and GitHub-wrapped files (dropped by the CycloneDX
  gate), filenames that the include and the exclude globs both reject, and
  a file named like the output key (dropped by self-exclusion).
- ``write_normal_corpus``: a few large GitHub-wrapped SPDX documents for
  EP1 normal mode; every package carries a ``PACKAGE-MANAGER`` external
  reference, so the SPDX fix rewrites all of them.

Every string is printable ASCII without quotes or backslashes, so JSON
escaping is the identity and byte order equals Python string order (the
oracle relies on both).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

# EP2 settings the merge workload runs with; the corpus is built so each bites.
INCLUDE_PATTERNS = "*-prod.json,*-stage?.json,*-test.json"
EXCLUDE_PATTERNS = "*-test.json"
OUTPUT_KEY = "sboms/merged-prod.json"
# EP1 settings of the normal workload.
REPOSITORY = "acme/platform-monorepo"

_WORDS = (
    "alpha beta gamma delta core util http json yaml log cache async net "
    "crypto auth parse stream buffer event queue pool proto grpc codec text "
    "time date path file zip tar image font color test mock spec lint fmt "
    "cli config env dns tls sock web router orm sql redis kafka mongo s3"
).split()
_LICENSES = (
    "MIT Apache-2.0 BSD-3-Clause BSD-2-Clause ISC GPL-3.0-only LGPL-2.1-or-later "
    "MPL-2.0 EPL-2.0 Unlicense Zlib CC0-1.0"
).split()
_LICENSE_NAMES = ["Apache License 2.0", "The MIT License", "BSD License", "Eclipse Public License"]
_EXPRESSIONS = ["(MIT OR Apache-2.0)", "(BSD-3-Clause AND MIT)", "(GPL-2.0-only WITH Classpath-exception-2.0)"]
_ECOSYSTEMS = ["npm", "pypi", "maven", "golang", "cargo", "gem"]
_ENVS = [("prod", 35), ("stage1", 12), ("stage2", 8), ("test", 20), ("dev", 25)]


@dataclass(frozen=True)
class Corpus:
    """A generated corpus: its directory, its license-mapping file, its size
    in bytes and how many of its files are malformed."""

    path: str
    mappings_path: str
    input_bytes: int
    malformed: int


def _name(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS)}-{rng.choice(_WORDS)}-{rng.randrange(1000)}"


def _version(rng: random.Random) -> str:
    return f"{rng.randrange(12)}.{rng.randrange(30)}.{rng.randrange(60)}"


def _licenses_field(rng: random.Random) -> dict:
    """The CycloneDX license shapes the engine's fallback chain probes."""
    u = rng.random()
    if u < 0.10:
        return {"licenses": []}  # → 'unknown' → license-mapping dimension
    if u < 0.14:
        return {}  # no licenses key at all
    if u < 0.54:
        return {"licenses": [{"license": {"id": rng.choice(_LICENSES)}}]}
    if u < 0.64:
        return {"licenses": [{"license": {"name": rng.choice(_LICENSE_NAMES)}}]}
    if u < 0.74:
        return {"licenses": [{"expression": rng.choice(_EXPRESSIONS)}]}
    if u < 0.80:
        return {"licenses": [{"id": rng.choice(_LICENSES)}, {"id": "MIT"}]}
    if u < 0.84:
        return {"licenses": [{"name": rng.choice(_LICENSE_NAMES)}]}
    if u < 0.90:
        return {
            "licenses": [{}],
            "properties": [
                {"name": "cdx:npm:package:path", "value": "node_modules/x"},
                {"name": "spdx:license-concluded", "value": rng.choice(_LICENSES)},
            ],
        }
    if u < 0.95:
        return {
            "licenses": [],
            "properties": [{"name": "spdx:license-declared", "value": rng.choice(_LICENSES)}],
        }
    if u < 0.96:
        return {"licenses": [{"license": {"id": ""}}]}  # '' is mapped like 'unknown'
    return {"licenses": [{"license": {"id": rng.choice(_LICENSES)}}], "properties": []}


def _component(rng: random.Random) -> dict:
    c: dict = {"type": "library"}
    if rng.random() > 0.01:
        c["name"] = _name(rng)
    if rng.random() > 0.02:
        c["version"] = _version(rng)
    if "name" in c and rng.random() < 0.7:
        c["purl"] = f"pkg:{rng.choice(_ECOSYSTEMS)}/{c['name']}@{c.get('version', '0')}"
    c.update(_licenses_field(rng))
    return c


# Provenance strategies of the CycloneDX documents, with their shares.
_STRATEGIES = [("component", 70), ("doc-name", 8), ("bom-ref", 7), ("top-name", 5), ("tool", 5), ("filename", 5)]


def _doc_metadata(strategy: str, service: str) -> dict:
    """Metadata whose source reference resolves through ``strategy``, one of
    the six provenance strategies."""
    tools = [{"vendor": "GitHub", "name": "GitHub.com-Dependency-Graph", "version": "1"}]
    if strategy == "component":
        return {"metadata": {"tools": tools, "component": {"type": "application", "name": service}}}
    if strategy == "doc-name":
        return {
            "metadata": {
                "component": {"type": "application", "name": f"{service}-image"},
                "properties": [{"name": "spdx:document:name", "value": service}],
            }
        }
    if strategy == "bom-ref":
        return {"metadata": {"component": {"type": "application", "name": "", "bom-ref": service}}}
    if strategy == "top-name":
        return {"name": service, "metadata": {"tools": tools}}
    if strategy == "tool":
        return {"metadata": {"tools": tools + [{"name": f"{service}-scanner", "version": "2"}]}}
    return {"metadata": {"tools": tools}}  # → filename fallback


def _shares(rng: random.Random, n: int, shares: list[tuple[str, int]]) -> list[str]:
    """``n`` labels in exactly the given proportions, shuffled: the amount of
    each kind of work is the same for every seed."""
    total = sum(w for _, w in shares)
    counts = [n * w // total for _, w in shares]
    for i in sorted(range(len(shares)), key=lambda i: -(n * shares[i][1] % total))[: n - sum(counts)]:
        counts[i] += 1
    out = [label for (label, _), c in zip(shares, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def _cdx_doc(rng: random.Random, strategy: str, service: str, hot: list[dict], comps: int) -> dict:
    n_hot = comps * 3 // 10
    components = []
    for _ in range(n_hot):
        c = dict(rng.choice(hot))
        if rng.random() < 0.15:  # same key, other license: dedup must pick one
            c.update({"licenses": [{"license": {"id": rng.choice(_LICENSES)}}]})
        components.append(c)
    components += [_component(rng) for _ in range(comps - n_hot)]
    rng.shuffle(components)
    doc = {"bomFormat": "CycloneDX", "specVersion": "1.5", "version": 1}
    doc.update(_doc_metadata(strategy, service))
    doc["components"] = components
    return doc


def _spdx_package(rng: random.Random, i: int) -> dict:
    p: dict = {"SPDXID": f"SPDXRef-{i}"}
    if rng.random() > 0.005:
        p["name"] = _name(rng)
    if rng.random() > 0.02:
        p["versionInfo"] = _version(rng)
    u = rng.random()
    if u < 0.65:
        p["licenseConcluded"] = rng.choice(_LICENSES)
    elif u < 0.75:
        p["licenseDeclared"] = rng.choice(_LICENSES)
    elif u < 0.80:
        p["licenseConcluded"] = "NOASSERTION"
    # else: no license → 'unknown' → license-mapping dimension
    refs = [
        {
            "referenceCategory": "PACKAGE-MANAGER",
            "referenceType": "purl",
            "referenceLocator": f"pkg:{rng.choice(_ECOSYSTEMS)}/{p.get('name', 'x')}",
        }
    ]
    if rng.random() < 0.2:
        refs.append(
            {
                "referenceCategory": rng.choice(["SECURITY", "OTHER", "PERSISTENT-ID", "vcs"]),
                "referenceType": "cpe23Type",
                "referenceLocator": "cpe:2.3:a:x",
            }
        )
    p["externalRefs"] = refs
    return p


def _spdx_doc(rng: random.Random, name: str, packages: int) -> dict:
    return {
        "spdxVersion": "SPDX-2.3",
        "SPDXID": "SPDXRef-DOCUMENT",
        "name": name,
        "documentNamespace": f"https://spdx.org/spdxdocs/{name}",
        "packages": [_spdx_package(rng, i) for i in range(packages)],
    }


def _malformed(rng: random.Random, doc: dict) -> str:
    text = json.dumps(doc)
    return text[: rng.randrange(10, max(11, len(text) // 2))]


def _write(path: str, text: str) -> int:
    data = text.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _write_mappings(path: str, rng: random.Random, unknown_names: list[str], known_names: list[str]) -> None:
    """name → license dictionary: most names that resolve to 'unknown', some
    names whose license is known (must not be overwritten), some unused."""
    m = {n: rng.choice(_LICENSES) for n in unknown_names if rng.random() < 0.6}
    for n in rng.sample(known_names, min(len(known_names), 50)):
        m[n] = "SHOULD-NOT-OVERWRITE"
    for _ in range(100):
        m[_name(rng)] = rng.choice(_LICENSES)
    with open(path, "w") as f:
        json.dump(dict(sorted(m.items())), f, indent=1)


def _collect_names(docs: list[dict]) -> tuple[list[str], list[str]]:
    unknown, known = set(), set()
    for d in docs:
        for c in d.get("components") or d.get("sbom", {}).get("packages") or []:
            n = c.get("name")
            if n is None:
                continue
            lic = c.get("licenses") or c.get("licenseConcluded") or c.get("licenseDeclared")
            (known if lic else unknown).add(n)
    return sorted(unknown), sorted(known)


def write_merge_corpus(root: str, seed: int, files: int, comps_per_file: int) -> Corpus:
    """EP2 corpus under ``root/sboms`` plus ``root/license-mappings.json``."""
    rng = random.Random(seed)
    path = os.path.join(root, "sboms")
    os.makedirs(path)
    services = [f"svc{i:03d}" for i in range(max(4, files // 8))]
    hot = [_component(rng) for _ in range(max(20, files // 10))]
    # Every other property is dealt out within each environment, so the
    # filters keep the same mix of kinds, sources and provenance for any seed.
    envs = _shares(rng, files, _ENVS)
    suffixes, kinds, strategies, owners = [""] * files, [""] * files, [""] * files, [""] * files
    for env, _ in _ENVS:
        idx = [i for i in range(files) if envs[i] == env]
        for out, shares in (
            (suffixes, [(".json", 96), (".json.bak", 4)]),
            (kinds, [("cdx", 96), ("malformed", 2), ("spdx", 1), ("wrapped", 1)]),
            (strategies, _STRATEGIES),
            (owners, [(s, 1) for s in services]),
        ):
            for i, label in zip(idx, _shares(rng, len(idx), shares)):
                out[i] = label
    docs, total = [], 0
    for i in range(files):
        service = owners[i]
        fname = f"{service}-{i:05d}-{envs[i]}{suffixes[i]}"
        if kinds[i] == "malformed":
            text = _malformed(rng, _cdx_doc(rng, strategies[i], service, hot, comps_per_file))
        elif kinds[i] == "spdx":
            text = json.dumps(_spdx_doc(rng, f"{service}-spdx", comps_per_file))
        elif kinds[i] == "wrapped":
            text = json.dumps({"sbom": _spdx_doc(rng, f"{service}-wrapped", comps_per_file)})
        else:
            doc = _cdx_doc(rng, strategies[i], service, hot, comps_per_file)
            docs.append(doc)
            text = json.dumps(doc)
        total += _write(os.path.join(path, fname), text)
    # Previously merged documents carry component-level sources; one of them
    # is the output key itself and must never be read back.
    for fname in (os.path.basename(OUTPUT_KEY), "rollup-prod.json"):
        comps = []
        for _ in range(comps_per_file):
            c = _component(rng)
            c["source"] = rng.choice(services)
            comps.append(c)
        doc = {
            "bomFormat": "CycloneDX",
            "specVersion": "1.6",
            "version": 1,
            "metadata": {
                "tools": [{"vendor": "ClickBOM", "name": "cyclonedx-merge", "version": "1.0.10"}],
                "component": {"type": "application", "name": "merged-sbom", "version": "1.0.0"},
            },
            "components": comps,
        }
        docs.append(doc)
        total += _write(os.path.join(path, fname), json.dumps(doc))
    mappings = os.path.join(root, "license-mappings.json")
    _write_mappings(mappings, rng, *_collect_names(docs))
    return Corpus(path, mappings, total, kinds.count("malformed"))


def write_normal_corpus(root: str, seed: int, docs: int, packages_per_doc: int) -> Corpus:
    """EP1 corpus: ``docs`` GitHub-wrapped SPDX documents plus one malformed
    download, under ``root/sboms``, and ``root/license-mappings.json``."""
    rng = random.Random(seed)
    path = os.path.join(root, "sboms")
    os.makedirs(path)
    written, total = [], 0
    for d in range(docs):
        doc = {"sbom": _spdx_doc(rng, f"com.github.{REPOSITORY}-{d}", packages_per_doc)}
        written.append(doc)
        total += _write(os.path.join(path, f"sbom-{d:02d}.json"), json.dumps(doc))
    bad = _malformed(rng, {"sbom": _spdx_doc(rng, "truncated", 50)})
    total += _write(os.path.join(path, "sbom-truncated.json"), bad)
    mappings = os.path.join(root, "license-mappings.json")
    _write_mappings(mappings, rng, *_collect_names(written))
    return Corpus(path, mappings, total, 1)
