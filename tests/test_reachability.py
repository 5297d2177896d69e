"""Every engine module is reached from an entry point.

Pure AST walk, no Spark: starting from the jobs, the bench harnesses, the
driver entry and the repo benchmark, follow ``import`` statements
transitively and require that every ``tgist_features_spark`` module is
imported by something a query, job or benchmark runs. Code that nothing
reaches is deleted, not kept alive by its own tests.
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
