"""The package holds only what its entry points run.

Walks the import statements (``ast`` only, no Spark) from the entry points
— ``cli.py``/``__main__.py``, ``perfbench/*.py``, ``scripts/*.py`` and the
driver contract ``__spark_entry__.py`` — and asserts that every module
under ``kg_microbe_merge_spark/`` is reached, except the few listed in
``TEST_ONLY``: modules that only their own tests still import. That list
may only shrink; delete such a module together with its tests.

Subpackage ``__init__.py`` files must hold no imports: an eager
``from . import *``-style ``__init__`` would both load every module on any
import and make every module look reached, so the walk follows the imports
of modules and of the top-level ``__init__`` only. The product modules'
fresh-interpreter import sets are pinned too.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "kg_microbe_merge_spark"

#: Modules no entry point imports; only their own tests keep them alive.
TEST_ONLY = frozenset(
    f"{PKG}/{m}.py"
    for m in (
        "functions/links",
        "plans/materialize",
        "sources/jsonl",
        "streaming/__init__",
        "streaming/curation",
        "streaming/dedup_index",
        "streaming/ingest",
        "streaming/joins",
        "streaming/maintain",
        "streaming/politeness",
        "streaming/sessions",
        "streaming/stateful",
    )
)


def _entry_points() -> list[Path]:
    files = [ROOT / PKG / "cli.py", ROOT / PKG / "__main__.py"]
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / "scripts").glob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return files


def _module_file(dotted: str) -> Path | None:
    base = ROOT.joinpath(*dotted.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _dotted(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_modules(path: Path) -> set[str]:
    """Dotted names of the package modules ``path`` may import, anywhere in
    its body (function-level imports included)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    if path.name == "__init__.py":
        package = _dotted(path)
    else:
        package = _dotted(path).rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            # ``from pkg import sub`` may name a submodule.
            names.update(f"{base}.{a.name}" for a in node.names)
    return {n for n in names if n == PKG or n.startswith(PKG + ".")}


def _reached() -> set[Path]:
    reached: set[Path] = set()
    todo = list(_entry_points())
    while todo:
        path = todo.pop()
        if path in reached:
            continue
        reached.add(path)
        is_sub_init = path.name == "__init__.py" and path.parent != ROOT / PKG
        if is_sub_init:
            continue
        for dotted in _imported_modules(path):
            parts = dotted.split(".")
            # Importing ``a.b.c`` runs ``a/__init__`` and ``a/b/__init__``.
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f is not None and f not in reached:
                    todo.append(f)
    return reached


def test_every_module_is_reached_from_an_entry_point():
    modules = {str(p.relative_to(ROOT)) for p in (ROOT / PKG).rglob("*.py")}
    reached = {str(p.relative_to(ROOT)) for p in _reached()}
    unreached = sorted(modules - reached - TEST_ONLY)
    assert not unreached, f"{len(unreached)} modules no entry point imports: {unreached}"
    stale = sorted(TEST_ONLY - (modules - reached))
    assert not stale, f"TEST_ONLY entries gone or now reached, drop them: {stale}"


def test_subpackage_inits_import_nothing():
    offenders = []
    for init in sorted((ROOT / PKG).rglob("__init__.py")):
        if init.parent == ROOT / PKG:
            continue
        tree = ast.parse(init.read_text(), filename=str(init))
        if any(isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(tree)):
            offenders.append(str(init.relative_to(ROOT)))
    assert not offenders, f"subpackage __init__s with imports: {offenders}"


@pytest.mark.parametrize(
    "module,limit",
    [
        ("operators.merge", 5),
        ("plans.pipeline", 13),
        ("cli", 4),
        ("operators.entailment", 4),
    ],
)
def test_product_import_sets_stay_small(module, limit):
    """A fresh interpreter importing a product module loads only the
    package modules that module imports."""
    code = (
        "import importlib, sys; "
        f"importlib.import_module('{PKG}.{module}'); "
        f"print(sorted(m for m in sys.modules if m.startswith('{PKG}')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True, timeout=120,
    ).stdout
    loaded = ast.literal_eval(out.strip().splitlines()[-1])
    assert len(loaded) <= limit, loaded


#: the calls that replace or delete a committed directory or pointer
COMMIT_CALLS = {("os", "replace"), ("shutil", "rmtree")}


def test_one_module_commits_tables():
    """``os.replace`` and ``shutil.rmtree`` appear in one package module
    that writes tables, the commit protocol's (``plans/pipeline.py``), so
    every table write goes through its one versioned-directory commit.
    The only other user is ``session.py``, whose one ``os.replace``
    publishes the JVM's class-data archive, a cache file and no table."""
    users = set()
    for path in sorted((ROOT / PKG).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                names = {(node.value.id, node.attr)}
            elif isinstance(node, ast.ImportFrom):
                names = {(node.module, a.name) for a in node.names}
            else:
                continue
            if names & COMMIT_CALLS:
                users.add(str(path.relative_to(ROOT)))
    assert users == {f"{PKG}/plans/pipeline.py", f"{PKG}/session.py"}, users


def _checkout_paths(path: Path) -> list[str]:
    """Absolute-path string literals in ``path`` that name this checkout
    or any directory holding the package."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            p = Path(node.value)
            if p.is_absolute() and (
                node.value.startswith(str(ROOT))
                or any((d / PKG).is_dir() for d in (p, *p.parents))
            ):
                found.append(node.value)
    return found


#: the ways a script could read a knob from its environment
ENV_READS = {("os", "environ"), ("os", "getenv"), ("os", "environb"), ("os", "getenvb")}


def test_scripts_read_no_environment_variable():
    """A script's variants are its arguments: none is selected only by an
    environment variable."""
    offenders = {}
    for path in sorted((ROOT / "scripts").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                names = {(node.value.id, node.attr)}
            elif isinstance(node, ast.ImportFrom):
                names = {(node.module, a.name) for a in node.names}
            else:
                continue
            if names & ENV_READS:
                offenders.setdefault(path.name, []).append(node.lineno)
    assert not offenders, offenders


def test_scripts_hold_no_checkout_path():
    """Scripts find the package and ``BENCH/`` from their own location, so
    a script run from any checkout imports and writes that checkout."""
    offenders = {
        p.name: _checkout_paths(p)
        for p in sorted((ROOT / "scripts").glob("*.py"))
        if str(ROOT) in p.read_text() or _checkout_paths(p)
    }
    assert not offenders, offenders
