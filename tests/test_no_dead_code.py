"""Dead-code guard: every package module is imported by some other file,
and every top-level function, class and UPPER_CASE constant of the package
is named somewhere outside its own definition.

The search covers the package, ``tests/``, ``benchmark/``, ``bench.py`` and
``__spark_entry__.py``. A name counts when it appears as code (a name, an
attribute, an import) or as a word inside a string literal (registry names,
module paths handed to ``importlib``); comments and docstrings do not count.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "thisishappening_spark"
_CONSTANT = re.compile(r"^_*[A-Z][A-Z0-9_]*$")
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> dict[Path, ast.Module]:
    paths = [
        *sorted((ROOT / PACKAGE).rglob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
        *sorted((ROOT / "benchmark").rglob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    return {p: ast.parse(p.read_text(), str(p)) for p in paths if p.exists()}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _docstrings(tree: ast.Module) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _imports(path: Path, tree: ast.Module) -> set[str]:
    """Dotted module names this file imports, by statement or as a string
    (``importlib.import_module`` targets)."""
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level + 1] if node.level else []
            mod = ".".join([*base, *([node.module] if node.module else [])])
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def _references(tree: ast.Module) -> list[tuple[str, int]]:
    """(word, line) for every name used as code or inside a non-docstring
    string literal."""
    skip = _docstrings(tree)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.extend((w, node.lineno) for a in node.names for w in _WORD.findall(a.name))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in skip:
            out.extend((w, node.lineno) for w in _WORD.findall(node.value))
    return out


def _definitions(tree: ast.Module) -> list[tuple[str, int, int]]:
    """(name, first line, last line) of each top-level function, class and
    UPPER_CASE constant. The span starts at the ``def``/``class`` line, so
    a decorator naming the function (a registry entry) counts as a use."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno, node.end_lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and _CONSTANT.match(t.id):
                    out.append((t.id, node.lineno, node.end_lineno))
    return out


def _in_package(path: Path) -> bool:
    return path.relative_to(ROOT).parts[0] == PACKAGE


def test_every_package_module_is_imported():
    sources = _sources()
    imported = {p: _imports(p, tree) for p, tree in sources.items()}
    orphans = []
    for path in sources:
        if path.name == "__init__.py" or not _in_package(path):
            continue
        name = _module_name(path)
        if not any(name in names for other, names in imported.items() if other != path):
            orphans.append(name)
    assert not orphans, f"modules nothing imports: {orphans}"


def test_every_top_level_definition_is_named_elsewhere():
    sources = _sources()
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in sources.items():
        for word, line in _references(tree):
            uses.setdefault(word, []).append((path, line))
    unused = []
    for path, tree in sources.items():
        if not _in_package(path):
            continue
        for name, first, last in _definitions(tree):
            if not any(
                not (other == path and first <= line <= last)
                for other, line in uses.get(name, [])
            ):
                unused.append(f"{_module_name(path)}.{name}")
    assert not unused, f"top-level names used nowhere else: {unused}"
