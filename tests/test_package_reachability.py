"""Every package module is reached from a root the project runs.

The roots are the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and the kept tools (``tools/*.py``).
The walk parses every ``import`` / ``from`` statement with ``ast``,
including the ones inside functions, and follows them through the
package. It reads source only: no module is imported and no Spark
session starts. A module that no root reaches is dead code, and this
test names it.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "prioritizing_event_processing_with_apache_kafka_spark"


def _package_modules() -> dict[str, str]:
    """Dotted module name -> source path, for every package ``.py``."""
    modules = {}
    for path in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path
    return modules


def _imported_names(path: str, module: str, is_package: bool) -> set[str]:
    """Every dotted name an import statement in ``path`` may load:
    ``from a import b`` yields both ``a`` and ``a.b`` (``b`` may be a
    submodule); relative imports are resolved against ``module``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    here = module if is_package else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = here.split(".")
                anchor = parts[: len(parts) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(modules: dict[str, str]) -> set[str]:
    roots = [os.path.join(REPO, "__spark_entry__.py")]
    roots += glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    roots += glob.glob(os.path.join(REPO, "tools", "*.py"))
    pending = set()
    for root in roots:
        pending |= _imported_names(root, "", False)
    seen: set[str] = set()
    while pending:
        name = pending.pop()
        # importing a.b.c runs a/__init__.py and a/b/__init__.py first
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in seen:
                seen.add(mod)
                is_package = modules[mod].endswith("__init__.py")
                pending |= _imported_names(modules[mod], mod, is_package)
    return seen


def test_every_package_module_is_reached():
    modules = _package_modules()
    assert PACKAGE in modules and len(modules) > 10
    orphans = sorted(set(modules) - _reached(modules))
    assert orphans == [], (
        "package modules no root imports (delete them, or import them "
        f"from a query, perfbench or a tool): {orphans}"
    )
