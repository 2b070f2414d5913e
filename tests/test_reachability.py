"""Every cogger_spark module is reached from an entry point, or is named in
ALLOWED with the reason it stays.

"Reached" means imported, transitively, from the query registry, the CLI,
bench.py, the driver entry module or perfbench. The walk reads import
statements with `ast` (function-local imports included) and runs nothing.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "cogger_spark"
ENTRY_POINTS = [ROOT / PKG / "queries.py", ROOT / PKG / "cli.py",
                ROOT / "bench.py", ROOT / "__spark_entry__.py",
                *sorted((ROOT / "perfbench").glob("*.py"))]

ALLOWED = {
    "daemon_preload": "loaded by name through the spark.python.daemon.module "
                      "conf that session.get_spark sets",
    "tiff.lzw": "test decoder for the tiles of the reference goldens",
    "tiff.zstd": "ZSTD frame decoder behind tiff.lzw's test decoder",
    "operators.cogread": "independent COG reader the tests check written "
                         "files with",
}


def package_modules() -> dict[str, Path]:
    mods = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def imported_names(path: Path, package: str):
    """Every dotted name an import statement in `path` may load; `package`
    is the package that relative imports resolve against."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                up = parts[:len(parts) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            yield base
            # `from pkg import name` loads pkg.name when that is a module
            yield from (f"{base}.{a.name}" for a in node.names)


def reached_modules() -> set[str]:
    mods = package_modules()
    seen = {m for m, p in mods.items() if p in ENTRY_POINTS}
    todo = [(p, PKG) for p in ENTRY_POINTS]
    while todo:
        path, package = todo.pop()
        for name in imported_names(path, package):
            parts = name.split(".")
            # importing a.b.c imports a and a.b as well
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in seen:
                    seen.add(mod)
                    p = mods[mod]
                    todo.append((p, mod if p.name == "__init__.py"
                                 else mod.rpartition(".")[0]))
    return seen


def test_every_module_is_reached_or_allowed():
    mods, reached = package_modules(), reached_modules()
    allowed = {f"{PKG}.{m}" for m in ALLOWED}
    assert allowed <= set(mods), sorted(allowed - set(mods))
    # an entry that an entry point reaches no longer needs its reason
    assert sorted(allowed & reached) == []
    unreached = sorted(set(mods) - reached - allowed)
    assert unreached == [], f"modules no entry point reaches: {unreached}"
