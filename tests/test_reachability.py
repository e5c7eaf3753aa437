"""Every package module is reached from an entry point: a static walk
of the imports (inside functions too) from the spark-submit job, the
driver contract and the benchmark reaches each module under
osm_addr_bot_spark/. A module that only tests import is dead code."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "osm_addr_bot_spark"
ENTRY_POINTS = ("jobs/run_pipeline.py", "__spark_entry__.py", "perfbench/run.py")


def _module_file(name: str, search: tuple[Path, ...]) -> Path | None:
    for base in search:
        p = base.joinpath(*name.split("."))
        for f in (p.with_suffix(".py"), p / "__init__.py"):
            if f.is_file():
                return f
    return None


def _imported_names(path: Path):
    """Dotted names that ``path`` may import, parent packages included:
    ``from a.b import c`` yields a, a.b and a.b.c (c may be a module)."""
    package = list(path.relative_to(ROOT).with_suffix("").parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            module = ".".join(base + ([node.module] if node.module else []))
            names = [module] + [f"{module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                yield ".".join(parts[:i])


def reached_files() -> set[Path]:
    todo = [ROOT / e for e in ENTRY_POINTS]
    seen = set(todo)
    while todo:
        path = todo.pop()
        # script-style imports (perfbench/run.py imports ``tracing``)
        # resolve next to the importing file
        search = (ROOT, path.parent)
        for name in _imported_names(path):
            f = _module_file(name, search)
            if f is not None and f not in seen:
                seen.add(f)
                todo.append(f)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = reached_files()
    unreached = sorted(
        ".".join(f.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for f in PACKAGE.rglob("*.py")
        if f not in reached
    )
    assert unreached == [], f"modules no entry point imports: {unreached}"
