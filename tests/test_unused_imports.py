"""Unused imports: every name a production module imports is used in that
module — the package, the driver contract ``__spark_entry__.py`` and
``bench.py``. No linter runs on the repo, so this scan keeps dead imports
out.

The scan is static (AST, no Spark session). An import counts as used when
its bound name is loaded anywhere in the module (an attribute chain counts
through its root name) or listed in ``__all__``. An import whose line
carries ``# noqa`` is kept on purpose, e.g. an executor-side import that
must run inside a UDF's closure.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "judyst_web_crawler_spark"


def _files() -> list[Path]:
    return sorted(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _unused(src: str, label: str) -> list[str]:
    lines = src.splitlines()
    tree = ast.parse(src)
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("# noqa" in lines[i - 1] for i in range(node.lineno, node.end_lineno + 1)):
            continue
        for alias in node.names:
            imported[alias.asname or alias.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return [f"{label}:{line}: {name}" for name, line in imported.items() if name not in used]


def test_no_unused_imports():
    unused = [
        u
        for path in _files()
        for u in _unused(path.read_text(encoding="utf-8"), path.relative_to(ROOT).as_posix())
    ]
    assert unused == [], "imported but never used:\n" + "\n".join(unused)


def test_scan_sees_noqa_and_use():
    """The scan is not vacuous: it flags an unused import, honours
    ``# noqa`` and counts an attribute chain as a use of its root."""
    src = "import os\nimport sys  # noqa: F401\nimport json\nfrom a import b, c\njson.dumps(b)\n"
    assert _unused(src, "probe") == ["probe:1: os", "probe:4: c"]
