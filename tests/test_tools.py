"""The scripts under tools/: each compiles, only the harness builds a
Spark session, and every tools path the docs and code cite exists.
No Spark runs here."""

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))
CITERS = [
    ROOT / "README.md",
    ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
    *sorted((ROOT / "fabstir_vectordb_spark").rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
]


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles(path):
    compile(path.read_text(), str(path), "exec")


def test_only_the_harness_builds_a_session():
    builders = {
        p.name: len(re.findall(r"SparkSession\s*\.\s*builder", p.read_text()))
        for p in TOOLS
    }
    assert {n: c for n, c in builders.items() if c} == {"_harness.py": 1}


def test_cited_tools_exist():
    cited = {
        (p.relative_to(ROOT).as_posix(), m)
        for p in CITERS
        if p.exists()
        for m in re.findall(r"tools/\w+\.py", p.read_text())
    }
    assert cited, "no tools path cited anywhere"
    missing = sorted((src, m) for src, m in cited if not (ROOT / m).exists())
    assert not missing, missing
