"""Every module in the package must be reachable by imports from a
validation entry point, or be named in ``KEEP`` with its reason.

``__spark_entry__.py`` (the query registry) counts as an entry point, so
a module that only the registry imports reads as reached. Those modules
are pinned in ``REGISTRY_ONLY``: they wait to be retired with their
queries, and the pin fails when the set changes in either direction.

The walk is static (AST, no Spark, nothing imported). A package
``__init__`` counts as reached when any module under it is reached, but
its own re-exports are followed only for the names that a reached
module imports from it: a re-export alone keeps nothing alive."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "schema_validata_spark"

ENTRY_MODULES = [
    f"{PKG}.validate", f"{PKG}.streaming.validate_stream", f"{PKG}.rules",
    f"{PKG}.report", f"{PKG}.manifest", f"{PKG}.sources.readers",
    f"{PKG}.sources.tableio",
]
ENTRY_FILES = ["scripts/run_validation_job.py", "__spark_entry__.py"]

KEEP = {
    f"{PKG}.datagen": "transcript fixtures for the tests, bench and job",
    f"{PKG}.session": "the local SparkSession factory the tests use",
    f"{PKG}.operators.snapshot": "snapshot diffs of two table versions",
    f"{PKG}.operators.schema_evolution": "schema diffs across versions",
}

REGISTRY_ONLY = {f"{PKG}.{m}" for m in (
    "operators.statqa", "operators.selection", "operators.sequence",
    "operators.dedup", "operators.semistructured", "functions.sampling")}


def _modules() -> dict[str, Path]:
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = p
    return out


MODULES = _modules()


def _is_package(name: str) -> bool:
    return MODULES[name].name == "__init__.py"


def _imports(path: Path, name: str) -> list[tuple[str, str | None]]:
    """(module, imported name or None) pairs, function-local imports
    included; relative imports resolved against ``name``."""
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out = []
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.Import):
            out += [(a.name, None) for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            if n.level:
                base = pkg.split(".")[:len(pkg.split(".")) - n.level + 1]
                mod = ".".join(base + ([n.module] if n.module else []))
            else:
                mod = n.module or ""
            out += [(mod, a.name) for a in n.names]
    return out


def _targets(mod: str, name: str | None) -> set[str]:
    """Package modules an import statement makes use of."""
    if name is not None and f"{mod}.{name}" in MODULES:
        return {f"{mod}.{name}"}
    if mod not in MODULES:
        return set()
    if name is None or not _is_package(mod):
        return {mod}
    # a name re-exported by a package __init__: follow its binding only
    for m, n in _imports(MODULES[mod], mod):
        if n == name:
            return {mod} | _targets(m, n)
    return {mod}


def _reached(entry_files: list[str] = ENTRY_FILES) -> set[str]:
    todo = [t for m in ENTRY_MODULES for t in _targets(m, None)]
    for f in entry_files:
        todo += [t for m, n in _imports(ROOT / f, "__entry__")
                 for t in _targets(m, n)]
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        if not _is_package(m):
            todo += [t for mod, n in _imports(MODULES[m], m)
                     for t in _targets(mod, n)]
        parent = m.rpartition(".")[0]
        if parent:
            seen.add(parent)
    return seen


def test_every_package_module_is_reached_or_kept():
    unreached = sorted(set(MODULES) - _reached() - set(KEEP))
    assert unreached == [], (
        f"modules no validation entry point imports: {unreached}; "
        "delete them or add them to KEEP with a reason")


def test_keep_list_names_existing_modules():
    assert sorted(set(KEEP) - set(MODULES)) == []


def test_registry_only_modules_are_pinned():
    """Modules that only the query registry reaches. Deleting one, or
    giving it a real entry-point importer, shrinks this set; a new
    registry-only module grows it. Either way the pin must be edited."""
    core = _reached([f for f in ENTRY_FILES if f != "__spark_entry__.py"])
    registry_only = _reached() - core - set(KEEP)
    assert sorted(registry_only) == sorted(REGISTRY_ONLY)
