"""COVERAGE.md cites the tests that cover each feature as
``test_file.py::test_name`` (or ``::test_name`` for another test of the
file cited just before it on the same line).  Every citation must name a
test that exists, so the table cannot drift away from the suite."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CITATION = re.compile(r"([\w/]+\.py)?::(\w+)")


def _citations(text: str) -> list[tuple[int, str, str]]:
    """(line number, test file, test name) for every test citation."""
    out = []
    for lineno, line in enumerate(text.splitlines(), start=1):
        last_file = None
        for m in CITATION.finditer(line):
            path, name = m.groups()
            if path is not None:
                last_file = Path(path).name
            if not name.startswith("test_"):
                continue
            out.append((lineno, last_file, name))
    return out


def test_coverage_citations_name_existing_tests():
    cited = _citations((ROOT / "COVERAGE.md").read_text())
    assert cited, "COVERAGE.md cites no tests"
    missing = []
    for lineno, fname, name in cited:
        test_file = ROOT / "tests" / fname if fname else None
        defined = (
            test_file is not None
            and test_file.exists()
            and re.search(rf"^def {name}\(", test_file.read_text(), re.M)
        )
        if not defined:
            missing.append(f"COVERAGE.md:{lineno}: {fname}::{name}")
    assert not missing, "\n".join(missing)
