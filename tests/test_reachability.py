"""Every package module is reached by a product path.

A static ``ast`` walk over the package's imports, starting from the four
entry points: the CLI job (``jobs.py``), the query surface
(``__spark_entry__.py``) and the two streaming sinks.  A module that no
walk reaches is code only its own tests run: wire it into a product path
or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "pdf_ocr_batch_ndrocr_lite_spark"
ROOTS = [
    REPO / PKG / "jobs.py",
    REPO / "__spark_entry__.py",
    REPO / PKG / "streaming" / "extract_stream.py",
    REPO / PKG / "streaming" / "dedup_stream.py",
]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, modules) -> set:
    """Package modules one file imports, anywhere in its body (function-
    level imports included); ``from X import y`` counts ``X.y`` when that
    is a module, and every importer of a submodule reaches its parents."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - (node.level - 1)]
                if node.module:
                    base.append(node.module)
                target = ".".join(base)
            else:
                target = node.module or ""
            found.add(target)
            found.update(f"{target}.{alias.name}" for alias in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def test_every_package_module_is_reached_from_a_product_path():
    modules = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    reached = {_module_name(p) for p in ROOTS}
    todo = list(ROOTS)
    while todo:
        for mod in _imported(todo.pop(), modules) - reached:
            reached.add(mod)
            todo.append(modules[mod])
    unreached = sorted(set(modules) - reached)
    assert not unreached, (
        "package modules no product path imports (wire them into jobs.py, "
        f"__spark_entry__.py or a streaming sink, or delete them): "
        f"{unreached}")
