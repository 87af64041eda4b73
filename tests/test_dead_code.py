"""Dead-code guard: every public top-level ``def`` and ``class`` in the
package must be named somewhere in the repo's Python code outside its
own definition — by a query, ``bench.py``, a tool, the benchmark, a test
or another package function. A helper nothing names is deleted rather
than kept. There is no allowlist."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "usajobs_etl_service_spark"
SEARCH = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "tools", ROOT / "perfbench", ROOT / "tests"]


def _py_files(roots: list[Path] = SEARCH) -> list[Path]:
    files: list[Path] = []
    for p in roots:
        if p.is_file():
            files.append(p)
        else:
            files.extend(
                f for f in sorted(p.rglob("*.py")) if not any(part.startswith(".") for part in f.relative_to(p).parts)
            )
    return [f for f in files if f.resolve() != Path(__file__).resolve()]


def _public_defs(path: Path):
    """(name, first line, last line) of each public top-level def/class,
    decorators included."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno


def test_every_public_package_name_is_referenced():
    files = _py_files()
    texts = {f: f.read_text() for f in files}
    unreferenced = []
    for module in sorted(PACKAGE.rglob("*.py")):
        lines = texts[module].splitlines()
        for name, first, last in _public_defs(module):
            word = re.compile(rf"\b{re.escape(name)}\b")
            outside_def = "\n".join(lines[: first - 1] + lines[last:])
            if word.search(outside_def):
                continue
            if not any(word.search(text) for f, text in texts.items() if f != module):
                unreferenced.append(f"{module.relative_to(ROOT)}:{first} {name}")
    assert not unreferenced, "public names referenced nowhere outside their definition:\n" + "\n".join(unreferenced)
