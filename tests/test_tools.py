"""Pin the ``tools/`` directory's contract: every ``tools/<name>.py``
the package, the tests, the benchmark or the README names exists, and
every script left there still compiles."""

from __future__ import annotations

import py_compile
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
TOOLS = ROOT / "tools"
_REF = re.compile(r"\btools/([A-Za-z_]\w*)\.py\b")


def _referencing_files():
    for tree in ("lmo_data_catalog_spark", "tests", "perfbench"):
        yield from sorted((ROOT / tree).rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "README.md"


def test_every_named_tool_exists():
    dangling = sorted(
        f"{src.relative_to(ROOT)}: tools/{name}.py"
        for src in _referencing_files()
        for name in set(_REF.findall(src.read_text(encoding="utf-8")))
        if not (TOOLS / f"{name}.py").is_file()
    )
    assert not dangling, dangling


@pytest.mark.parametrize("script", sorted(p.name for p in TOOLS.glob("*.py")))
def test_tool_compiles(script, tmp_path):
    py_compile.compile(
        str(TOOLS / script), cfile=str(tmp_path / "out.pyc"), doraise=True
    )
