"""Layout guard (no Spark): every ``sparksearch`` module must be reachable by
imports from a root — the catalog entry point (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) or a job (``jobs/*.py``). Test files are not
roots, so a module kept alive only by its own tests fails here."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "sparksearch"

#: Modules no root reaches that are due for deletion with their catalog
#: entries and tests (ROADMAP D2). An entry must stay unreachable and
#: present; it leaves this set in the change that deletes the module.
PENDING_DELETE = {"sparksearch.streaming"}


def _roots() -> list[Path]:
    return [REPO / "__spark_entry__.py", *sorted((REPO / "perfbench").glob("*.py")),
            *sorted((REPO / "jobs").glob("*.py"))]


def _imported_modules(path: Path, modules: set[str]) -> set[str]:
    """sparksearch modules named by any import in ``path`` (lazy imports
    inside functions included)."""
    in_pkg = path.parent == PKG
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if not in_pkg:
                    continue
                base = "sparksearch" + (f".{node.module}" if node.module else "")
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in out if m in modules}


def test_every_module_is_reachable_from_a_root():
    modules = {"sparksearch"} | {f"sparksearch.{p.stem}" for p in PKG.glob("*.py")
                                 if p.stem != "__init__"}

    def path_of(mod: str) -> Path:
        return PKG / ("__init__.py" if mod == "sparksearch" else f"{mod.split('.')[1]}.py")

    todo = [m for r in _roots() for m in _imported_modules(r, modules)]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.append("sparksearch")  # importing a submodule runs the package
        todo.extend(_imported_modules(path_of(mod), modules))
    assert sorted(modules - seen - PENDING_DELETE) == [], "modules no root imports"
    assert PENDING_DELETE <= modules - seen, "stale PENDING_DELETE entry"
