"""Every `curator_spark` module is reached from an entry point.

Walks `import` statements with `ast` (function-local imports included),
starting from the driver contract, `bench.py`, the perfbench harness, the
CLI and the streaming jobs. A module that none of them reaches is code no
run exercises, and it rots unseen.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "curator_spark"


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative import is not walked"
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reached():
    mods = _package_modules()
    reached: set[str] = set()
    todo = [REPO / "__spark_entry__.py", REPO / "bench.py", *sorted((REPO / "perfbench").glob("*.py"))]

    def visit(name: str) -> None:
        # importing a.b.c also runs the package __init__ of a and a.b
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in reached:
                reached.add(mod)
                todo.append(mods[mod])

    for mod in mods:
        if mod == f"{PKG}.cli" or mod.startswith(f"{PKG}.streaming."):
            visit(mod)
    while todo:
        for name in _imported_names(todo.pop()):
            visit(name)
    orphans = sorted(set(mods) - reached)
    assert not orphans, f"modules no entry point imports: {orphans}"
