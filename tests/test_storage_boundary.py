"""Storage boundary: ``sources/catalog.py`` is the only package module
that reads or writes parquet. Every piece of durable state — the crawl
tables and the MinHash band index alike — goes through
``SnapshotCatalog``, so there is one commit protocol to make crash-safe.

The scan is static (AST, no Spark session). Flagged calls:

- ``<x>.parquet(...)`` — ``spark.read.parquet``, ``DataFrameWriter.parquet``
  and stream-reader ``parquet`` alike;
- the ``DataFrame.write`` property (``df.write.<...>``); a plain
  ``f.write(...)`` call on a file object is not a DataFrame write.

Allowed outside the catalog: ``jsonio.write_headers_jsonlines`` (a JSON
export, not state) and ``readStream`` file sources in ``streaming/``
(inputs, not state).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "judyst_web_crawler_spark"
CATALOG = "sources/catalog.py"
ALLOWED_FUNCTIONS = {("sources/jsonio.py", "write_headers_jsonlines")}


def _storage_calls(tree: ast.AST) -> list[tuple[str, int, str]]:
    """(enclosing function, line, what) for every flagged call."""
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    out = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name if fn == "<module>" else fn
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "parquet":
                out.append((fn, node.lineno, ".parquet()"))
        if isinstance(node, ast.Attribute) and node.attr == "write" and id(node) not in called:
            out.append((fn, node.lineno, ".write"))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return out


def _stream_sources(tree: ast.AST) -> set[str]:
    """Top-level functions that build a ``readStream`` source."""
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef)
        and any(isinstance(a, ast.Attribute) and a.attr == "readStream" for a in ast.walk(n))
    }


def test_only_the_catalog_reads_or_writes_parquet():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == CATALOG:
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        streams = _stream_sources(tree) if rel.startswith("streaming/") else set()
        for fn, line, what in _storage_calls(tree):
            if (rel, fn) in ALLOWED_FUNCTIONS or fn in streams:
                continue
            offenders.append(f"{rel}:{line} {fn}: {what}")
    assert offenders == [], "parquet I/O outside SnapshotCatalog:\n" + "\n".join(offenders)


def test_scan_sees_the_catalog_io():
    """The detector is not vacuous: it finds the catalog's own reads
    and writes."""
    calls = _storage_calls(ast.parse((PKG / CATALOG).read_text(encoding="utf-8")))
    assert {what for _fn, _line, what in calls} == {".parquet()", ".write"}
    assert {"read", "_write"} <= {fn for fn, _line, _what in calls}
