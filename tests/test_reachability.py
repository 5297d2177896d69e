"""Every engine module is reached from an entry point, and every engine
name an entry point imports exists.

Pure AST walk, no Spark: starting from the jobs, the bench harnesses, the
driver entry and the repo benchmark, follow ``import`` statements
transitively and require that every ``tgist_features_spark`` module is
imported by something a query, job or benchmark runs. Code that nothing
reaches is deleted, not kept alive by its own tests. The second test
guards the other direction: a deletion must not strand an import in one
of those entry points (the bench harnesses import lazily, inside
functions, so a stale name would only fail mid-run).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "tgist_features_spark"


def _engine_modules() -> dict[str, Path]:
    mods = {}
    for p in (REPO / PKG).rglob("*.py"):
        parts = list(p.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = p
    return mods


def _roots() -> list[Path]:
    roots = sorted((REPO / "jobs").glob("*.py"))
    roots += [REPO / n for n in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    roots += [
        p for p in sorted((REPO / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    return roots


def _imports(path: Path, module: str | None, mods: dict[str, Path]) -> set[str]:
    """Engine modules one file imports, with their parent packages."""
    is_pkg = path.name == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = (module or "").split(".")
                pkg = pkg[: len(pkg) - node.level + (1 if is_pkg else 0)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            # ``from pkg import submodule``
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                out.add(prefix)
    return out


def test_every_engine_module_is_reached():
    mods = _engine_modules()
    roots = _roots()
    assert all(p.exists() for p in roots)
    seen: set[str] = set()
    todo: list[tuple[Path, str | None]] = [(p, None) for p in roots]
    while todo:
        path, module = todo.pop()
        for m in _imports(path, module, mods) - seen:
            seen.add(m)
            todo.append((mods[m], m))
    assert sorted(set(mods) - seen) == []


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds at import time: defs, classes,
    assignments and imports, including those under top-level if/try."""
    out: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                out.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                out |= _bound_names(getattr(node, field, []))
    return out


def test_entry_point_imports_resolve():
    mods = _engine_modules()
    bound: dict[str, set[str]] = {}
    missing = []
    for root in _roots():
        for node in ast.walk(ast.parse(root.read_text())):
            if isinstance(node, ast.Import):
                missing += [
                    f"{root.name}: import {a.name}" for a in node.names
                    if a.name.split(".")[0] == PKG and a.name not in mods
                ]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                mod = node.module or ""
                if mod.split(".")[0] != PKG:
                    continue
                if mod not in mods:
                    missing.append(f"{root.name}: from {mod}")
                    continue
                if mod not in bound:
                    bound[mod] = _bound_names(ast.parse(mods[mod].read_text()).body)
                missing += [
                    f"{root.name}: from {mod} import {a.name}" for a in node.names
                    if a.name not in bound[mod] and f"{mod}.{a.name}" not in mods
                ]
    assert missing == []
