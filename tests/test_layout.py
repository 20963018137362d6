"""Every package module, function, class and option has a product caller.

Walks the import statements (by AST; nothing is imported, no Spark)
from the program's entry points. A package ``__init__`` does not make
its submodules reachable by importing them: a re-exported name counts
only where an entry point or another module imports it. A module no
entry point reaches is either deleted or listed in ``ALLOWED`` with
the reason it stays.

The same walk checks each top-level function and class: some product
module must name it outside its own body, or it is listed in
``ALLOWED_DEFS`` with the reason it stays.

And each defaulted parameter of a package function or method: some
product call must pass it, by keyword or by position, or it is listed
in ``ALLOWED_PARAMS`` with the reason it stays. Calls match by callee
name (a bare name, an attribute, or the class name for ``__init__``).
A call with ``*args`` or ``**kwargs``, or a function product code
passes as a value, counts as setting every parameter. Dataclass fields
are not checked.

Last, no package module but ``session`` calls ``.conf.set`` or
``.conf.unset``: the session factory alone writes session conf.
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


# Function-level reach: a top-level function or class in the package
# stays only while a product module names it outside its own body.

ALLOWED_DEFS = {
    f"{PKG}.api.serve_static": "ROADMAP item 2 wires it into the service",
    f"{PKG}.pipeline.run_reset_and_seed": "ROADMAP item 2 wires it into the service",
    f"{PKG}.connectors.fhir_bulk.build_jwt_assertion": (
        "ROADMAP item 2 wires it into the service"
    ),
    f"{PKG}.operators.similarity.cosine_topk": (
        "the brute-force reference the IVF tests compare against"
    ),
    f"{PKG}.catalog.schema_snapshot_stats": "the catalog cache's counters",
}

_DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _top_level_defs() -> dict[str, tuple[str, ast.AST]]:
    """``module.name`` -> (module, node) for every top-level function
    and class in the package, outside the allowlisted modules."""
    defs = {}
    for mod in FILES:
        if mod.startswith(f"{PKG}.") and mod not in ALLOWED:
            for node in ast.parse(FILES[mod].read_text()).body:
                if isinstance(node, _DEF_NODES):
                    defs[f"{mod}.{node.name}"] = (mod, node)
    return defs


def _references() -> dict[str, list[tuple[str | None, str, int]]]:
    """name -> (defining module or None for any, referring module, line)
    over every product module: the package (minus allowlisted modules),
    perfbench (minus its tests), ``bench.py`` and ``__spark_entry__.py``.

    A bare name refers to its own module's definition, and
    ``from X import name`` to the module that defines ``X.name``
    (through re-exports). ``obj.name`` could be any module's. A
    package ``__init__``'s imports are re-exports and do not count. A
    ``@register`` decorator counts: the query registry holds the
    function."""
    refs: dict[str, list[tuple[str | None, str, int]]] = {}
    for mod, path in FILES.items():
        if mod in ALLOWED or mod.rpartition(".")[2].startswith("test_"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            found, line = [], getattr(node, "lineno", 0)
            if isinstance(node, ast.Name):
                found = [(node.id, mod)]
            elif isinstance(node, ast.Attribute):
                found = [(node.attr, None)]
            elif isinstance(node, ast.ImportFrom) and not _is_package(mod):
                base = _from_base(mod, node)
                found = [(a.name, _resolve(base, a.name)) for a in node.names]
            elif isinstance(node, _DEF_NODES):
                for d in node.decorator_list:
                    if getattr(getattr(d, "func", d), "id", None) == "register":
                        found, line = [(node.name, mod)], d.lineno
            for name, target in found:
                refs.setdefault(name, []).append((target, mod, line))
    return refs


def _unreferenced_defs() -> set[str]:
    refs = _references()
    out = set()
    for qual, (mod, node) in _top_level_defs().items():
        if not any(
            target in (None, mod)
            and not (src == mod and node.lineno <= line <= node.end_lineno)
            for target, src, line in refs.get(node.name, ())
        ):
            out.add(qual)
    return out


def test_every_package_definition_has_a_product_reference():
    unreferenced = _unreferenced_defs() - ALLOWED_DEFS.keys()
    assert not unreferenced, (
        f"top-level definitions only tests reach: {sorted(unreferenced)}"
    )


def test_definition_allowlist_is_exact():
    defs, unreferenced = _top_level_defs(), _unreferenced_defs()
    stale = {d for d in ALLOWED_DEFS if d not in defs or d not in unreferenced}
    assert not stale, (
        f"allowlisted definitions that are gone or now referenced: {sorted(stale)}"
    )


# Parameter-level reach: a defaulted parameter of a package function or
# method stays only while some product caller sets it; otherwise it is
# the constant it defaults to.

ALLOWED_PARAMS = {
    f"{PKG}.pipeline.run_bulk_import.blob_base_url": "a deployment address",
    f"{PKG}.connectors.fhir_bulk.FhirBulkConnector.get_access_token.signed_jwt": (
        "ROADMAP item 2 wires it into the service, like build_jwt_assertion"
    ),
    f"{PKG}.connectors.fhir_bulk.FhirBulkConnector.get_access_token.scope": (
        "ROADMAP item 2 wires it into the service, like build_jwt_assertion"
    ),
    f"{PKG}.api.handle_request.get_token": (
        "ROADMAP item 2 wires it into the service, like build_jwt_assertion"
    ),
    **{
        f"{PKG}.multimodal.binary.{p}": (
            "builds the decoders' test inputs; the decoder paths stay as they are"
        )
        for p in (
            "encode_jpeg_lossless.precision",
            "encode_jpeg_lossless.point_transform",
            "encode_jpeg_lossless.restart_interval",
            "encode_png.palette",
            "encode_pnm.rgb",
        )
    },
}


def _caller_trees() -> list[ast.Module]:
    """The product modules ``_references`` reads, plus ``tools/``."""
    paths = [
        path
        for mod, path in FILES.items()
        if mod not in ALLOWED and not mod.rpartition(".")[2].startswith("test_")
    ]
    return [ast.parse(p.read_text()) for p in [*paths, *sorted((REPO / "tools").glob("*.py"))]]


def _defaulted_params() -> dict[str, tuple[str, list[str], list[str]]]:
    """``module.[Class.]function`` -> (the name calls use, parameters
    a call fills by position, defaulted parameters) for every
    top-level function and method of a top-level class in the package,
    outside ``ALLOWED`` modules and ``ALLOWED_DEFS``. A method's calls
    use its own name, ``__init__``'s the class name."""
    out = {}
    for qual, (_, node) in _top_level_defs().items():
        if qual in ALLOWED_DEFS:
            continue
        if isinstance(node, ast.ClassDef):
            funcs = [
                (f"{qual}.{f.name}", node.name if f.name == "__init__" else f.name, f)
                for f in node.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        else:
            funcs = [(qual, node.name, node)]
        for fqual, call_name, f in funcs:
            a = f.args
            positional = [p.arg for p in (*a.posonlyargs, *a.args)]
            decorators = {getattr(d, "id", None) for d in f.decorator_list}
            if f is not node and "staticmethod" not in decorators:
                positional = positional[1:]  # self / cls
            defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
            defaulted += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            if defaulted:
                out[fqual] = (call_name, positional, defaulted)
    return out


def _product_calls() -> tuple[dict[str, set[str]], dict[str, int], set[str]]:
    """Over the product modules, per callee name: the keywords calls
    pass, the most positional arguments one call passes, and the names
    whose every parameter counts as set — called with ``*args`` or
    ``**kwargs``, or used as a value (a dispatch table, a default
    transport), so the calls that reach them cannot be named."""
    keywords: dict[str, set[str]] = {}
    positional: dict[str, int] = {}
    everything: set[str] = set()

    def callee(node) -> str | None:
        return getattr(node, "id", None) or getattr(node, "attr", None)

    for tree in _caller_trees():
        callees, annotations = set(), set()
        for node in ast.walk(tree):
            ann = getattr(node, "annotation", None) or getattr(node, "returns", None)
            if isinstance(ann, ast.AST):
                annotations.update(id(n) for n in ast.walk(ann))
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            name = callee(node.func)
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                everything.add(name)
            keywords.setdefault(name, set()).update(k.arg for k in node.keywords)
            positional[name] = max(positional.get(name, 0), len(node.args))
        everything.update(
            callee(node)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Name, ast.Attribute))
            and isinstance(node.ctx, ast.Load)
            and id(node) not in callees
            and id(node) not in annotations
        )
    return keywords, positional, everything


def _unset_params() -> set[str]:
    keywords, positional, everything = _product_calls()
    out = set()
    for qual, (name, params, defaulted) in _defaulted_params().items():
        if name in everything:
            continue
        passed = keywords.get(name, set()) | set(params[: positional.get(name, 0)])
        out.update(f"{qual}.{p}" for p in defaulted if p not in passed)
    return out


def test_every_defaulted_parameter_is_set_by_a_product_caller():
    unset = _unset_params() - ALLOWED_PARAMS.keys()
    assert not unset, (
        "defaulted parameters no product caller sets (make each the "
        f"constant it defaults to): {sorted(unset)}"
    )


def test_parameter_allowlist_is_exact():
    defined = {
        f"{qual}.{p}" for qual, (_, _, defaulted) in _defaulted_params().items() for p in defaulted
    }
    unset = _unset_params()
    stale = {p for p in ALLOWED_PARAMS if p not in defined or p not in unset}
    assert not stale, (
        f"allowlisted parameters that are gone or now set: {sorted(stale)}"
    )


# Session conf: the service shares one session between requests, so
# only the session factory writes its conf (session.py's docstring).


def _conf_writes() -> list[str]:
    """``module:line`` of every ``<x>.conf.set(...)`` or
    ``<x>.conf.unset(...)`` call in a package module other than
    ``session``."""
    out = []
    for mod, path in FILES.items():
        if mod.split(".")[0] != PKG or mod == f"{PKG}.session":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            f = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                out.append(f"{mod}:{node.lineno}")
    return out


def test_only_the_session_factory_writes_session_conf():
    writes = _conf_writes()
    assert not writes, f"session conf written outside session.get_spark: {writes}"
