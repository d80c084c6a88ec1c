"""Reachability: every public top-level function and class of the package,
and every public method of a public package class, is named by production
code — the package itself, the driver contract
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or ``tools/``. A
definition only tests call is a liability, not an asset: delete it, or
list it below with the reason it stays.

The scan is static (AST, no Spark session). A definition counts as
named when some production module loads it as a name, reads it as an
attribute or imports it; its own ``def`` line does not count. A method
counts as named when production code reads an attribute of that name on
any object.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "judyst_web_crawler_spark"

# modules kept whole although only tests import them
ALLOWED_MODULES = {
    "plans/inspect.py": "physical-plan assertions: test infrastructure",
}
# (module, name) kept although only tests call it
ALLOWED = {
    ("datagen.py", "listing_df"): "synthetic generator: test infrastructure",
    ("datagen.py", "politeness_df"): "synthetic generator: test infrastructure",
    ("datagen.py", "linked_pages_df"): "synthetic generator: test infrastructure",
    ("operators/dedup.py", "dedup_oracle"): "sequential reference oracle: test infrastructure",
    ("operators/lawcodes.py", "walk_contents_trees"): "reference parity: law-code contents walk",
    ("operators/lawcodes.py", "derived_redaction_links"): "reference parity: redaction links",
    ("operators/lawcodes.py", "attach_titles"): "reference parity: attached-titles join",
    ("operators/lawcodes.py", "join_blocks"): "reference parity: split-HTML join + quarantine",
    ("operators/lawcodes_htm.py", "subheader_cols"): "reference parity: saved-HTM subheaders",
    ("operators/lawcodes_htm.py", "header_struct"): "reference parity: 9-field header build",
    ("sources/jsonio.py", "read_headers_object"): "reference parity: JSON header protocol",
    ("sources/jsonio.py", "read_headers_jsonlines"): "reference parity: jsonlines header protocol",
    ("sources/jsonio.py", "write_headers_jsonlines"): "reference parity: jsonlines header sink",
    ("api.py", "fill_data_source_from_file"): "reference parity: the consumer API's jsonlines ingest",
    ("functions/canonical.py", "doc_type"): "reference parity: doc type from the canonical key",
    ("functions/extraction.py", "strip_page_numbers_udf"): "reference parity: page-number strip alone",
    ("functions/extraction.py", "unzip_first_htm_udf"): "reference parity: first .htm of a zip payload",
    ("operators/multimodal.py", "decode_image"): "codec stub: where a real decoder plugs in",
    ("operators/multimodal.py", "decode_audio"): "codec stub: where a real decoder plugs in",
    ("streaming/rollup.py", "sessionize_stream"): "stateful streaming operator; no driver query streams it yet",
}
# (module, "Class.method") kept although only tests call it
ALLOWED_METHODS = {
    ("operators/frontier.py", "FrontierEngine.crawl"): "multi-depth link walk (the reference's contents-tree walk); kept pending a decision",
    ("api.py", "DataSource.get_data"): "reference parity: DataSource interface",
    ("api.py", "CatalogSource.get_data"): "reference parity: typed get",
    ("api.py", "CatalogSource.get_all_data_dict"): "reference parity: whole-table dict read",
    ("api.py", "CatalogSource.put_data"): "reference parity: typed put",
}


def _production_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted(p for p in (ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / "tools").rglob("*.py"))
    return files


def _names_used(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            used.update(a.name for a in node.names)
    return used


def _public_defs() -> dict[str, list[str]]:
    """module path (relative to the package) → its public top-level
    function and class names."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        names = [
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not n.name.startswith("_")
        ]
        if names:
            out[path.relative_to(PKG).as_posix()] = names
    return out


def _public_methods() -> dict[str, list[str]]:
    """module path (relative to the package) → "Class.method" for the
    public methods of its public top-level classes."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        names = [
            f"{c.name}.{m.name}"
            for c in tree.body
            if isinstance(c, ast.ClassDef) and not c.name.startswith("_")
            for m in c.body
            if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not m.name.startswith("_")
        ]
        if names:
            out[path.relative_to(PKG).as_posix()] = names
    return out


def _production_names() -> set[str]:
    used: set[str] = set()
    for path in _production_files():
        used |= _names_used(ast.parse(path.read_text(encoding="utf-8")))
    return used


def test_every_public_definition_is_reached_by_production_code():
    used = _production_names()
    unreached = [
        f"{mod}:{name}"
        for mod, names in _public_defs().items()
        if mod not in ALLOWED_MODULES
        for name in names
        if name not in used and (mod, name) not in ALLOWED
    ]
    assert unreached == [], "defined in the package but named only by tests:\n" + "\n".join(unreached)


def test_every_public_method_is_reached_by_production_code():
    used = _production_names()
    unreached = [
        f"{mod}:{name}"
        for mod, names in _public_methods().items()
        for name in names
        if name.split(".")[1] not in used and (mod, name) not in ALLOWED_METHODS
    ]
    assert unreached == [], "method named only by tests:\n" + "\n".join(unreached)


def test_allowlist_names_real_definitions():
    defs = _public_defs()
    assert set(ALLOWED_MODULES) <= set(defs)
    stale = [f"{mod}:{name}" for mod, name in ALLOWED if name not in defs.get(mod, [])]
    methods = _public_methods()
    stale += [f"{mod}:{name}" for mod, name in ALLOWED_METHODS if name not in methods.get(mod, [])]
    assert stale == []


def test_scan_finds_production_references_in_every_module():
    """The scan is not vacuous: every module outside the allowlist has at
    least one public definition that production code names."""
    used = _production_names()
    assert "FrontierEngine" in used and "SnapshotCatalog" in used
    empty = [
        mod
        for mod, names in _public_defs().items()
        if mod not in ALLOWED_MODULES and not set(names) & used
    ]
    assert empty == []
