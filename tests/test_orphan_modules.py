"""Every engine module is reachable from an entry point.

The entry points are the package ``__init__``, ``__main__`` (the CLI),
``plans.queries`` (the query registry) and ``__spark_entry__.py`` (the
driver contract). Import edges, including function-level imports, are read
with ``ast``, so nothing is imported or run. A module that no entry point
reaches is code only its tests call: delete it, or wire it in.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "read_comp_data_pipeline_spark"
ENTRIES = [PKG, f"{PKG}.__main__", f"{PKG}.plans.queries", "__spark_entry__"]


def _modules() -> dict[str, Path]:
    out = {"__spark_entry__": ROOT / "__spark_entry__.py"}
    for p in sorted((ROOT / PKG).rglob("*.py")):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = p
    return out


def _imports(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Modules of ``modules`` that ``path`` imports, with their parent
    packages (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for mod in found:
        parts = mod.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & modules.keys()


def test_every_module_is_reachable_from_an_entry_point():
    modules = _modules()
    reached, todo = set(), list(ENTRIES)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(_imports(name, modules[name], modules) - reached)
    # a package __init__ counts as reached once any submodule is, because
    # importing the submodule runs it
    orphans = sorted(modules.keys() - reached)
    assert orphans == [], f"modules no entry point imports: {orphans}"
