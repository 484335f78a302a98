"""Every package module must be reachable from the product: imported by
another package module, the CLI (``benthos_spark/__main__.py``), the
query registry (``__spark_entry__.py``) or the flagship leaf timer
(``bench.py``, the only importer of ``pipelines``). A module that only
tests import is dead weight — wire it into the spec surface or delete it.
Pure AST walk, no Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "benthos_spark"

# module -> why it may stay without a product importer
ALLOWED = {
    "benthos_spark.streaming.observe":
        "observability listener; the spec runner and CLI are to attach it "
        "(ROADMAP open item 5)",
    "benthos_spark.engine.golden":
        "loader for the reference-gated golden-corpus tests",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imports(path: Path, modules: set) -> set:
    """Dotted names of package modules that ``path`` imports, with relative
    imports resolved and ``from pkg import mod`` counted as importing mod."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    return found & modules


def _modules_and_reached():
    files = [p for p in PKG.rglob("*.py") if p.name not in ("__init__.py", "__main__.py")]
    modules = {_module_name(p) for p in files}
    importers = list(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    reached = set()
    for path in importers:
        own = _module_name(path) if path.parent != ROOT else None
        reached |= _imports(path, modules) - {own}
    return modules, reached


def test_every_module_has_a_product_importer():
    modules, reached = _modules_and_reached()
    unreached = sorted(modules - reached - set(ALLOWED))
    assert not unreached, f"modules only tests reach: {unreached}"


def test_allowlist_is_not_stale():
    # an allowed module that is gone, or now has a product importer,
    # must leave the allowlist
    modules, reached = _modules_and_reached()
    for mod in ALLOWED:
        assert mod in modules and mod not in reached, mod
