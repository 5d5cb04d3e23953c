"""Every module of the package, the jobs, the scripts and
``__spark_entry__.py`` imports cleanly, so an import left dangling by a
deleted module fails the suite instead of the first run that reaches
it; no module of those, or of the tests, keeps a module-level import
it never uses, so one left behind by a deleted code path fails too;
and every top-level function, class or assigned name of the package is
referenced somewhere, so a helper or constant orphaned by a deleted
caller fails as well.
Every repo ``.py`` path the user-facing docs name exists, so a doc left
pointing at a deleted script fails too."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import re
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    pkg = sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "hocr_de_noising_spark", "**", "*.py"), recursive=True)
    )
    loose = sorted(
        os.path.relpath(p, REPO)
        for d in ("jobs", "scripts")
        for p in glob.glob(os.path.join(REPO, d, "*.py"))
    )
    return pkg + loose + ["__spark_entry__.py"]


@pytest.mark.parametrize("path", _sources())
def test_module_imports(path):
    if path.startswith("hocr_de_noising_spark"):
        name = path[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        importlib.import_module(name)
        return
    # jobs/scripts are not packages: load each file under a private name
    name = "_import_probe_" + path[: -len(".py")].replace(os.sep, "_")
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, path))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[name]


def _unused_imports(path: str) -> list[str]:
    """Names a module imports at module level and never mentions again.
    A name counts as used if it appears as an identifier anywhere in the
    module, inside a quoted annotation, or in ``__all__``."""
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read(), path)
    imported: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                imported[a.asname or a.name.split(".")[0]] = node.lineno
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            # quoted annotations ("list[str] | Broadcast") and __all__ entries
            try:
                expr = ast.parse(node.value, mode="eval")
            except SyntaxError:
                continue
            used.update(n.id for n in ast.walk(expr) if isinstance(n, ast.Name))
    return [f"{path}:{line} {name}" for name, line in imported.items() if name not in used]


def test_no_unused_module_imports():
    paths = [p for p in _sources() if not p.endswith("__init__.py")] + sorted(
        os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "tests", "*.py"))
    )
    unused = [u for p in paths for u in _unused_imports(p)]
    assert not unused, unused


def _is_registered_query(node: ast.AST) -> bool:
    """``@register(...)``-decorated: reached through the QUERIES
    registry, never by name."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in node.decorator_list
    )


def _referenced_names(tree: ast.AST) -> Counter:
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.ImportFrom):
            refs.update(a.name for a in node.names)
        elif isinstance(node, ast.arg):
            # a test requests a fixture by naming it as a parameter
            refs[node.arg] += 1
    return refs


def _is_entry_point(node: ast.AST) -> bool:
    """Reached by pytest or by running the file, never by name: tests,
    ``pytest_*`` hooks and ``main``."""
    return node.name == "main" or node.name.startswith(("test_", "pytest_"))


def _top_level_definitions(tree: ast.Module) -> list[tuple[str, ast.AST]]:
    """(name, node) for each module-level ``def``/``class`` that is not
    a registered query or an entry point, and for each name a
    module-level assignment binds, dunders (``__all__``) excepted."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_registered_query(node) and not _is_entry_point(node):
                out.append((node.name, node))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                (n.id, node)
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name) and not n.id.startswith("__")
            ]
    return out


def test_every_package_definition_is_referenced():
    """Each top-level ``def``/``class`` and module-level assigned name
    of the package, the tests and the scripts must be named (as a Name,
    an Attribute, an imported alias or a parameter) somewhere in the
    package, the jobs, the scripts, the benchmark, the tests or
    ``__spark_entry__.py``; references inside the definition's own
    statement (recursion, the assignment target) do not count.
    Registered queries, entry points (``_is_entry_point``) and dunders
    are exempt, so a helper or constant left behind by a deleted test
    fails here too, and so does a fixture no test requests. The
    definition-level twin of test_no_unused_module_imports."""
    paths = sorted(
        os.path.relpath(p, REPO)
        for d in ("hocr_de_noising_spark", "jobs", "scripts", "perfbench", "tests")
        for p in glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    ) + ["__spark_entry__.py"]
    refs: Counter = Counter()
    defs: list[tuple[str, str, ast.AST]] = []
    for path in paths:
        with open(os.path.join(REPO, path)) as f:
            tree = ast.parse(f.read(), path)
        refs += _referenced_names(tree)
        if path.startswith(("hocr_de_noising_spark", "tests", "scripts")):
            defs += [(path, name, node) for name, node in _top_level_definitions(tree)]
    orphans = [
        f"{path}:{node.lineno} {name}"
        for path, name, node in defs
        if refs[name] <= _referenced_names(node)[name]
    ]
    assert not orphans, orphans


_DOC_PATH = re.compile(r"\b(?:hocr_de_noising_spark|jobs|scripts|perfbench|tests)/[\w/]+\.py\b")


def test_docs_name_existing_files():
    """Every repo ``.py`` path that the user-facing docs name exists, so
    a doc left pointing at a deleted script fails here. ROADMAP.md and
    CHANGES.md are exempt: they name deleted files on purpose."""
    named = set()
    for doc in ("README.md", "FIXTURES.md", os.path.join(".claude", "skills", "verify", "SKILL.md")):
        with open(os.path.join(REPO, doc)) as f:
            named.update((doc, m) for m in _DOC_PATH.findall(f.read()))
    assert named
    missing = sorted(f"{doc}: {path}" for doc, path in named if not os.path.exists(os.path.join(REPO, path)))
    assert not missing, missing
