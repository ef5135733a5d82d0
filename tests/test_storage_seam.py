"""One storage seam: outside ``io.py`` no package module lists, renames,
deletes or writes files itself. Everything under an output path goes
through ``io``'s Hadoop-FileSystem helpers, which take any Spark path
(a plain path, a ``file://`` URI, HDFS); an ``os``/``pathlib`` probe
silently sees nothing on the latter two."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "etl_guiacores_spark"

FORBIDDEN_MODULES = {"shutil", "duckdb", "pathlib", "glob"}
FORBIDDEN_CALLS = {
    "os.rename", "os.replace", "os.remove", "os.unlink", "os.rmdir",
    "os.listdir", "os.makedirs", "os.mkdir", "os.walk",
    "os.path.exists", "os.path.isdir", "os.path.isfile",
}

#: the only places that may touch the local filesystem directly, by
#: module path or ``module::function``, each with its reason
ALLOWED = {
    "shipping.py": "zips the package's own source into a driver-local "
    "temp dir for the executors",
    "queries_analytics.py::_scratch_dir": "creates and sweeps driver-local "
    "temp dirs for the side-effecting queries",
    "sources/tables.py::table_row_count": "reads parquet footers of the "
    "local catalog with pyarrow, which takes no Spark path",
}


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return f"{base}.{node.attr}" if base else None
    return None


def _writes(call: ast.Call) -> bool:
    """``open(...)`` with a literal mode that writes."""
    mode = call.args[1] if len(call.args) > 1 else next(
        (k.value for k in call.keywords if k.arg == "mode"), None
    )
    return (
        isinstance(mode, ast.Constant)
        and isinstance(mode.value, str)
        and any(c in mode.value for c in "wax+")
    )


def _forbidden(node: ast.AST) -> str | None:
    if isinstance(node, ast.Import):
        hit = [a.name for a in node.names if a.name.split(".")[0] in FORBIDDEN_MODULES]
        return f"import {', '.join(hit)}" if hit else None
    if isinstance(node, ast.ImportFrom):
        module = node.module or ""
        if module.split(".")[0] in FORBIDDEN_MODULES or (
            module == "os" and any(f"os.{a.name}" in FORBIDDEN_CALLS for a in node.names)
        ):
            return f"from {module} import ..."
    if isinstance(node, ast.Call):
        name = _dotted(node.func)
        if name in FORBIDDEN_CALLS or (name == "open" and _writes(node)):
            return f"{name}(...)"
    return None


def _scan(node: ast.AST, where: str, seen: set[str], found: list[str]) -> None:
    """Walk ``node``; ``where`` is ``module`` or ``module::function``."""
    if where in ALLOWED:
        seen.add(where)
        return
    what = _forbidden(node)
    if what:
        found.append(f"{where}: {what}")
    module = where.split("::")[0]
    for child in ast.iter_child_nodes(node):
        inner = where
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = f"{module}::{child.name}"
        _scan(child, inner, seen, found)


def test_storage_goes_through_io_helpers():
    seen: set[str] = set()
    found: list[str] = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        if rel != "io.py":
            _scan(ast.parse(py.read_text(encoding="utf-8")), rel, seen, found)
    assert not found, (
        "storage operations outside io.py's Hadoop-FS helpers "
        "(use io._exists/_rename/_list_children/_delete_path/"
        f"_write_sidecar): {found}"
    )
    # an allowlist entry that no longer matches anything is stale
    assert seen == set(ALLOWED), sorted(set(ALLOWED) - seen)
