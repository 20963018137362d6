"""Every package module has a product caller.

Walks the import statements (by AST; nothing is imported, no Spark)
from the program's entry points. A package ``__init__`` does not make
its submodules reachable by importing them: a re-exported name counts
only where an entry point or another module imports it. A module no
entry point reaches is either deleted or listed in ``ALLOWED`` with
the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "capgemini_himss24_fhirbulkdata_demo_spark"

ENTRY_POINTS = [
    f"{PKG}.api",
    f"{PKG}.pipeline",
    f"{PKG}.queries",  # the query registry: its __init__ loads every query module
    "__spark_entry__",
    "bench",
    *sorted(
        f"perfbench.{p.stem}"
        for p in (REPO / "perfbench").glob("*.py")
        if not p.stem.startswith(("test_", "__"))
    ),
]

ALLOWED = {
    f"{PKG}.plans.inspect": "plan inspection for tests and tools",
}


def _module_files() -> dict[str, Path]:
    files = {}
    for path in [*(REPO / PKG).rglob("*.py"), *(REPO / "perfbench").glob("*.py")]:
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        files[".".join(parts)] = path
    for name in ("__spark_entry__", "bench"):
        files[name] = REPO / f"{name}.py"
    return files


FILES = _module_files()


def _is_package(mod: str) -> bool:
    return FILES[mod].name == "__init__.py"


def _from_base(mod: str, node: ast.ImportFrom) -> str:
    """Absolute module name of a ``from X import ...`` statement."""
    if not node.level:
        return node.module or ""
    pkg = mod if _is_package(mod) else mod.rpartition(".")[0]
    for _ in range(node.level - 1):
        pkg = pkg.rpartition(".")[0]
    return f"{pkg}.{node.module}" if node.module else pkg


def _resolve(base: str, name: str) -> str | None:
    """The module that defines ``base.name``, following re-exports
    through package ``__init__`` files."""
    if f"{base}.{name}" in FILES:
        return f"{base}.{name}"
    if base not in FILES:
        return None
    if _is_package(base):
        for node in ast.walk(ast.parse(FILES[base].read_text())):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    if (alias.asname or alias.name) == name:
                        return _resolve(_from_base(base, node), alias.name)
    return base


def _imports(mod: str) -> set[str]:
    out = set()
    for node in ast.walk(ast.parse(FILES[mod].read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names if a.name in FILES)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(mod, node)
            out.update(filter(None, (_resolve(base, a.name) for a in node.names)))
    return out


def _reached() -> set[str]:
    seen, todo = set(), list(ENTRY_POINTS)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        if mod in ENTRY_POINTS or not _is_package(mod):
            todo.extend(_imports(mod))
    return seen


def _package_modules() -> set[str]:
    return {m for m in FILES if m.startswith(f"{PKG}.") and not _is_package(m)}


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = _package_modules() - _reached() - ALLOWED.keys()
    assert not unreached, f"modules no entry point imports: {sorted(unreached)}"


def test_allowlist_is_exact():
    reached = _reached()
    stale = {m for m in ALLOWED if m not in FILES or m in reached}
    assert not stale, f"allowlisted modules that are gone or now reached: {sorted(stale)}"
