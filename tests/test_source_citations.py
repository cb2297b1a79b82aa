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
