"""The catalog / IVM boundary, checked statically.

``sources/ivm.py`` (changefeed apply and emission, the incremental-view
folds) may reach the catalog only through its public methods: the
bucket layout, its directory names and the snapshot metadata files stay
inside ``sources/sinks.py``. The ETL DAG (``pipeline.py``,
``export.py``) must not depend on the IVM layer at all, and writes only
through ``overwrite``: the bucket merge is the IVM layer's."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "ghcrawler_datalake_etl_spark"

#: on-disk names only the catalog may know
_LAYOUT_LITERALS = ("_kb", "_MERGE_META.json", "_SCHEMA.json")


def _tree(rel: str) -> ast.Module:
    return ast.parse((PKG / rel).read_text())


def _catalog_names(tree: ast.Module) -> set[str]:
    """Parameter names that hold a catalog: every function's
    ``catalog`` parameter and any parameter annotated ParquetCatalog."""
    names = {"catalog"}
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.Lambda)):
            for a in node.args.args:
                ann = getattr(a, "annotation", None)
                if ann is not None and "ParquetCatalog" in ast.unparse(ann):
                    names.add(a.arg)
    return names


def test_ivm_uses_only_public_catalog_names():
    tree = _tree("sources/ivm.py")
    cats = _catalog_names(tree)
    bad = [
        f"line {n.lineno}: {ast.unparse(n)}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and isinstance(n.value, ast.Name)
        and n.value.id in cats
        and n.attr.startswith("_")
    ]
    assert not bad, bad


def test_ivm_imports_no_private_sinks_names():
    tree = _tree("sources/ivm.py")
    bad = [
        f"line {n.lineno}: {alias.name}"
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and (n.module or "").endswith("sinks")
        for alias in n.names
        if alias.name.startswith("_")
    ]
    assert not bad, bad


def test_ivm_has_no_layout_literals():
    tree = _tree("sources/ivm.py")
    bad = [
        f"line {n.lineno}: {n.value!r}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and any(lit in n.value for lit in _LAYOUT_LITERALS)
    ]
    assert not bad, bad


def test_etl_dag_does_not_import_ivm():
    for rel in ("pipeline.py", "export.py"):
        for n in ast.walk(_tree(rel)):
            # the ETL writes only through overwrite
            assert not (
                isinstance(n, ast.Attribute) and n.attr == "merge_upsert"
            ), f"{rel} line {n.lineno} references merge_upsert"
            if isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom):
                mods = [n.module or ""] + [
                    f"{n.module}.{a.name}" for a in n.names
                ]
            else:
                continue
            assert not any(
                m.split(".")[-1] == "ivm" for m in mods
            ), f"{rel} line {n.lineno} imports the IVM layer"

