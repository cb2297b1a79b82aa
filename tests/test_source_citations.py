"""Comments and docstrings in the package may cite a helper script as
``tools/<name>.py``; every cited script must exist, so deleting one
cannot leave a dangling reference behind."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "transcriptomics_data_integration_spark"
CITATION = re.compile(r"\btools/(\w+)(?:\.py)?\b")


def test_cited_tools_exist():
    sources = sorted(PKG.rglob("*.py"))
    assert sources
    assert CITATION.findall("see tools/check.py and tools/timeq") == ["check", "timeq"]
    missing = [
        f"{path.relative_to(ROOT)}:{lineno}: tools/{name}.py"
        for path in sources
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for name in CITATION.findall(line)
        if not (ROOT / "tools" / f"{name}.py").is_file()
    ]
    assert missing == [], missing


FUNC_ROLE = re.compile(r":func:`~?([\w.]+)`")
DEF = re.compile(r"^\s*def (\w+)\(", re.M)


def _defs(paths) -> set[str]:
    return {name for path in paths for name in DEF.findall(path.read_text())}


def test_func_roles_resolve_to_package_defs():
    """Every ``:func:`name``` in a package docstring names a function
    defined somewhere in the package (dotted and ``~``-prefixed forms
    resolve by their last component)."""
    sources = sorted(PKG.rglob("*.py"))
    defined = _defs(sources)
    refs = [
        (f"{path.relative_to(ROOT)}:{lineno}", name.rsplit(".", 1)[-1])
        for path in sources
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for name in FUNC_ROLE.findall(line)
    ]
    assert len(refs) > 50
    dangling = [f"{where}: {name}" for where, name in refs if name not in defined]
    assert dangling == [], dangling


COVERAGE_DEF = re.compile(r"`([\w/]+\.py):([A-Za-z_]\w*)")
COVERAGE_TEST = re.compile(r"::(\w+)")


def test_coverage_references_resolve():
    """Every `` `path.py:name` `` in COVERAGE.md names a def in that
    package file, and every ``::test_name`` names a test under
    ``tests/`` (a reference ending in ``_`` is a prefix)."""
    text = (ROOT / "COVERAGE.md").read_text()
    defs = COVERAGE_DEF.findall(text)
    assert len(defs) > 50
    dangling = [
        f"{path}:{name}"
        for path, name in defs
        if not (PKG / path).is_file() or name not in _defs([PKG / path])
    ]
    assert dangling == [], dangling
    tests = _defs(sorted((ROOT / "tests").rglob("test_*.py")))
    refs = COVERAGE_TEST.findall(text)
    assert len(refs) > 50
    missing = [
        ref
        for ref in refs
        if not (
            any(t.startswith(ref) for t in tests) if ref.endswith("_") else ref in tests
        )
    ]
    assert missing == [], missing
