"""Static import hygiene of every package module (no Spark needed):
no star imports, every global name a module reads is bound in that
module or is a builtin, every name a non-``__init__`` module imports
is used, and a name imported from a plain module is defined there.
Global reads are found with ``symtable``; names that appear only in
annotations (not evaluated under ``from __future__ import
annotations``) are taken from the AST."""

from __future__ import annotations

import ast
import builtins
import importlib.util
import os
import symtable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "sensor_time_series_pyspark_spark")
BUILTINS = set(dir(builtins)) | {"__file__"}


def _module_name(path: str) -> str:
    parts = os.path.splitext(path)[0].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _modules() -> list[tuple[str, str]]:
    out = []
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as fh:
                    out.append((os.path.relpath(path, ROOT), fh.read()))
    return sorted(out)


MODULES = _modules()


def _scopes(table: symtable.SymbolTable):
    yield table
    for child in table.get_children():
        yield from _scopes(child)


def _annotation_names(tree: ast.AST) -> set[str]:
    """Names read inside annotations (arguments, returns, AnnAssign)."""
    anns: list[ast.AST] = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
                if arg is not None and arg.annotation is not None:
                    anns.append(arg.annotation)
            if node.returns is not None:
                anns.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            anns.append(node.annotation)
    return {
        n.id for ann in anns for n in ast.walk(ann) if isinstance(n, ast.Name)
    }


def _module_bindings(top: symtable.SymbolTable) -> set[str]:
    return {
        s.get_name()
        for s in top.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    }


def test_no_star_imports():
    bad = [
        f"{path}:{node.lineno} from {node.module} import *"
        for path, src in MODULES
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ImportFrom)
        and any(alias.name == "*" for alias in node.names)
    ]
    assert not bad, "star imports:\n" + "\n".join(bad)


def test_global_reads_are_bound():
    bad = []
    for path, src in MODULES:
        top = symtable.symtable(src, path, "exec")
        bound = _module_bindings(top) | BUILTINS
        reads = _annotation_names(ast.parse(src))
        for scope in _scopes(top):
            for sym in scope.get_symbols():
                if sym.is_referenced() and (scope is top or sym.is_global()):
                    reads.add(sym.get_name())
        bad += [f"{path}: {name}" for name in sorted(reads - bound)]
    assert not bad, "unbound global names:\n" + "\n".join(bad)


def test_imports_are_used():
    bad = []
    for path, src in MODULES:
        if os.path.basename(path) == "__init__.py":
            continue
        top = symtable.symtable(src, path, "exec")
        ann = _annotation_names(ast.parse(src))
        for scope in _scopes(top):
            nested = list(_scopes(scope))[1:]
            for sym in scope.get_symbols():
                name = sym.get_name()
                if not sym.is_imported() or name == "annotations":
                    continue
                # a module-level import is read as a global in nested
                # scopes, a function-level one as a free variable
                used = sym.is_referenced() or name in ann or any(
                    inner.lookup(name).is_referenced()
                    and (
                        inner.lookup(name).is_global()
                        if scope is top
                        else inner.lookup(name).is_free()
                    )
                    for inner in nested
                    if name in inner.get_identifiers()
                )
                if not used:
                    bad.append(f"{path} ({scope.get_name()}): {name}")
    assert not bad, "imported but unused:\n" + "\n".join(bad)


def test_names_come_from_the_module_that_defines_them():
    """Only a package ``__init__`` may re-export: a name imported from a
    plain module must be defined there, not imported into it."""
    sources = {_module_name(path): (path, src) for path, src in MODULES}
    defines = {
        mod: {
            s.get_name()
            for s in symtable.symtable(src, path, "exec").get_symbols()
            if s.is_assigned()
        }
        for mod, (path, src) in sources.items()
        if not path.endswith("__init__.py")
    }
    bad = []
    for mod, (path, src) in sources.items():
        package = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.ImportFrom):
                continue
            target = importlib.util.resolve_name(
                "." * node.level + (node.module or ""), package
            )
            for alias in node.names:
                if target in defines and alias.name not in defines[target]:
                    bad.append(f"{path}:{node.lineno} {target}.{alias.name}")
    assert not bad, "imported through a module that does not define it:\n" + (
        "\n".join(bad)
    )
