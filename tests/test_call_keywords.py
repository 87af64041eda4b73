"""Static keyword check for the callers no other test runs: the tools,
``bench.py``, ``__spark_entry__.py`` and the benchmark. Every call to a
package function, imported by name (``from usajobs_etl_service_spark…
import f``) or reached through a module alias (``import …pipeline as
pipeline``; ``pipeline.f(...)``), must pass only keywords its signature
accepts — so deleting or renaming an option fails here rather than at
the next scale run. Functions taking ``**kwargs`` accept any keyword and
are skipped."""

from __future__ import annotations

import ast
import importlib
import inspect
import types

from tests.test_dead_code import ROOT, _py_files

PACKAGE = "usajobs_etl_service_spark"
CALLERS = [ROOT / "tools", ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / "perfbench"]


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _package_names(tree: ast.AST) -> dict[str, object]:
    """Local name -> package object for every package import in the
    file, at any nesting depth (the tools import inside functions)."""
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (node.module or "").startswith(PACKAGE):
            for a in node.names:
                names[a.asname or a.name] = _resolve(node.module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PACKAGE + ".") and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


def _callee(func: ast.expr, names: dict[str, object]):
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        mod = names.get(func.value.id)
        if isinstance(mod, types.ModuleType):
            return getattr(mod, func.attr, None)
    return None


def _accepted(fn) -> set[str] | None:
    """Keyword names ``fn`` accepts, or None when it takes **kwargs."""
    params = inspect.signature(fn).parameters.values()
    if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params):
        return None
    return {p.name for p in params if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)}


def test_package_calls_pass_only_accepted_keywords():
    checked, bad = 0, []
    for path in _py_files(CALLERS):
        tree = ast.parse(path.read_text(), filename=str(path))
        names = _package_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = _callee(node.func, names)
            if not callable(fn):
                continue
            accepted = _accepted(fn)
            if accepted is None:
                continue
            for kw in node.keywords:
                if kw.arg is None:  # **mapping: not checkable statically
                    continue
                checked += 1
                if kw.arg not in accepted:
                    bad.append(f"{path.relative_to(ROOT)}:{node.lineno}: {fn.__qualname__}({kw.arg}=...)")
    assert not bad, "keywords the callee does not accept:\n" + "\n".join(bad)
    # the walk must actually reach the callers' keyword arguments
    assert checked > 100, checked
