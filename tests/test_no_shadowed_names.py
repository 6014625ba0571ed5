"""Repo-wide guard against silently shadowed definitions.

Python module semantics keep only the LAST of two same-named
top-level ``def``/``class`` statements — so a duplicated test
function never runs and a duplicated helper silently replaces its
earlier twin, with no error from the interpreter, pytest, or CI.
Round 14 hit exactly this: ``tests/test_dialect.py`` carried two
``test_advice_r13_fixes`` functions and the newer ADVICE pins were
skipped by every green suite run until an AST audit noticed.

This is the module-level sibling of
``leak_probe.plain_duplicate_keys()`` (which audits dict literals):
walk every Python file in the repo and assert no module defines the
same top-level (or class-level) name twice.  Decorator-stacked
overloads and ``if TYPE_CHECKING`` twins don't occur in this repo,
so an exact-name collision is always a bug here.

The same walk also guards against dead definitions: a top-level
``def``/``class`` in the library that nothing names — not the library,
the tests, the scripts, the benchmark, nor the entry points — is code
that only costs reading.
"""

import ast
import collections
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCAN_DIRS = ("clickbom_spark", "tests", "scripts")
TOP_FILES = ("__spark_entry__.py", "bench.py")


def _py_files(dirs=SCAN_DIRS):
    for d in dirs:
        yield from sorted((REPO / d).rglob("*.py"))
    for f in TOP_FILES:
        p = REPO / f
        if p.exists():
            yield p


def _duplicates(body):
    names = [
        node.name
        for node in body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    return [name for name, n in collections.Counter(names).items() if n > 1]


def test_no_module_shadows_a_definition():
    offenders = {}
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = str(path.relative_to(REPO))
        dupes = _duplicates(tree.body)
        if dupes:
            offenders[rel] = dupes
        for cls in [n for n in tree.body if isinstance(n, ast.ClassDef)]:
            cdupes = _duplicates(cls.body)
            if cdupes:
                offenders[f"{rel}::{cls.name}"] = cdupes
    assert offenders == {}, (
        "duplicate top-level names silently shadow the earlier "
        f"definition: {offenders}"
    )


_IDENT = re.compile(r"[A-Za-z_]\w*")


def _referenced_names(tree):
    """Every name a module mentions: loads and stores, attribute names,
    import aliases, and identifier-shaped string constants (registry
    keys, ``getattr`` targets, ``__all__`` entries)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")
            if node.asname:
                yield node.asname
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _IDENT.fullmatch(node.value):
                yield node.value


def test_no_library_definition_is_dead():
    referenced = set()
    defined = []
    for path in _py_files(SCAN_DIRS + ("perfbench",)):
        tree = ast.parse(path.read_text(), filename=str(path))
        referenced.update(_referenced_names(tree))
        rel = path.relative_to(REPO)
        if rel.parts[0] != "clickbom_spark":
            continue
        defined += [
            f"{rel}::{node.name}"
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not node.decorator_list
        ]
    dead = [d for d in defined if d.rsplit("::", 1)[1] not in referenced]
    assert dead == [], f"top-level definitions nothing references: {dead}"


def test_only_local_frame_builds_frames_from_driver_rows():
    """Driver-side rows enter a plan one way: ``session.local_frame``
    builds an Arrow ``LocalRelation``.  A ``createDataFrame`` call
    anywhere else in the library is a second way — a list-built
    Python-RDD leaf with no size estimate, read by Python workers on
    every execution."""
    offenders = []
    for path in _py_files(("clickbom_spark",)):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = str(path.relative_to(REPO))
        allowed = set()
        if rel == "clickbom_spark/session.py":
            allowed = {
                id(n)
                for fn in tree.body
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
        offenders += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in allowed
        ]
    assert offenders == [], (
        f"createDataFrame outside session.local_frame: {offenders}"
    )
