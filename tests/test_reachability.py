"""Every package module is reached from an entry point, or is listed.

The walk follows the static import graph: every ``import`` and
``from ... import`` anywhere in a module, function-local ones included,
starting at ``__spark_entry__.py`` and ``job.py``.  A module that neither
entry point reaches serves only its tests; it must be listed in
``UNREACHED``.  A listed module that is deleted or becomes reachable fails
the test too, so the list can only shrink.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "textextraction_spark"
ENTRY_POINTS = ("__spark_entry__", "job")

# Each of these either gets a gated query over pages, documents,
# embeddings or job results, or goes with its tests.  io.catalog's
# MERGE_SQL is pinned by tests/test_merge_semantics.py.
UNREACHED = {
    f"{PKG}.io.catalog",
    f"{PKG}.operators.chunking",
    f"{PKG}.operators.domains",
    f"{PKG}.operators.keywords",
    f"{PKG}.operators.metadata",
    f"{PKG}.operators.packing",
}


def _modules() -> dict[str, Path]:
    """Dotted name -> file for the entry points and every package module."""
    mods = {name: ROOT / f"{name}.py" for name in ENTRY_POINTS}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative import; the walk expects absolute ones"
            names.add(node.module)
            # ``from pkg import name`` imports the submodule pkg.name when
            # one exists
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    return names


def _reachable(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        module = todo.pop()
        if module in seen:
            continue
        seen.add(module)
        for name in _imported_names(mods[module]):
            parts = name.split(".")
            # importing a.b.c also runs the packages a and a.b
            todo.extend(
                prefix
                for prefix in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
                if prefix in mods
            )
    return seen


def test_unreached_modules_are_exactly_the_listed_ones():
    mods = _modules()
    unreached = set(mods) - _reachable(mods)
    assert not unreached - UNREACHED, (
        f"reached from no entry point and not listed: {sorted(unreached - UNREACHED)}"
    )
    assert not UNREACHED - unreached, (
        f"listed but now reachable or deleted (drop from UNREACHED): "
        f"{sorted(UNREACHED - unreached)}"
    )
