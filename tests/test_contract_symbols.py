"""The measurement contract: bench.py, __spark_entry__.py and
perfbench/workloads.py import, patch and configure engine symbols BY NAME.
These tests read those files with ast (nothing is executed, no Spark
session) and assert every such name still resolves in the engine package,
so a refactor that renames or deletes one fails here instead of in a
benchmark run or an `entry()` call."""

from __future__ import annotations

import ast
import dataclasses
import importlib
import os

import pytest

from nary_relation_extraction_decomposed_spark.plans.pipeline import PipelineConfig

PKG = "nary_relation_extraction_decomposed_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = ("bench.py", "__spark_entry__.py", "perfbench/workloads.py")


def _tree(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel)) as f:
        return ast.parse(f.read(), rel)


def _package_imports(tree: ast.Module):
    """(module, name, local alias) for every `from PKG... import name`."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.module
            and node.module.split(".")[0] == PKG
        ):
            for a in node.names:
                yield node.module, a.name, a.asname or a.name


def _resolve(module: str, name: str):
    """The object `from module import name` binds, or None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


@pytest.mark.parametrize("rel", FILES)
def test_package_imports_resolve(rel):
    found = list(_package_imports(_tree(rel)))
    assert found, f"{rel}: no {PKG} imports found"
    missing = [f"{m}.{n}" for m, n, _ in found if _resolve(m, n) is None]
    assert not missing, f"{rel} imports names the engine no longer has: {missing}"


def _patch_targets(tree: ast.Module):
    """(local module name, attribute) of every `(module, "attr", ...)`
    tuple inside a `_traced_layers` function — the functions a traced
    benchmark run swaps for span wrappers."""
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == "_traced_layers":
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Tuple)
                    and len(node.elts) >= 2
                    and isinstance(node.elts[0], ast.Name)
                    and isinstance(node.elts[1], ast.Constant)
                    and isinstance(node.elts[1].value, str)
                ):
                    yield node.elts[0].id, node.elts[1].value


def test_traced_layer_patch_targets_resolve():
    tree = _tree("perfbench/workloads.py")
    aliases = {alias: (m, n) for m, n, alias in _package_imports(tree)}
    targets = list(_patch_targets(tree))
    assert len(targets) >= 10, targets
    missing = []
    for local, attr in targets:
        assert local in aliases, f"{local} is not an engine module import"
        mod = _resolve(*aliases[local])
        if not callable(getattr(mod, attr, None)):
            missing.append(f"{mod.__name__}.{attr}")
    assert not missing, f"traced layers patch missing functions: {missing}"


def test_pipeline_config_keywords_exist():
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    used = set()
    for rel in FILES:
        for node in ast.walk(_tree(rel)):
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "PipelineConfig"
                or getattr(node.func, "attr", None) == "PipelineConfig"
            ):
                used.update(kw.arg for kw in node.keywords if kw.arg)
    assert used, "no PipelineConfig(...) keywords found"
    assert used <= fields, f"unknown PipelineConfig fields: {used - fields}"
