"""Dead-code guard: every module of the package is reached by a static
import walk from the pipeline's entry points.

The walk reads each module's source with ``ast`` and follows every
``import``/``from ... import`` in it, function-level imports included,
plus the parent packages a dotted import loads.  A module that no entry
point reaches is code nothing runs: delete it rather than grow around it.

``LEGACY_UNREACHED`` names the modules that no entry point reaches yet
but that keep tests of their own; they await deletion with those tests.
The list may only shrink: a new unreached module fails the guard, and so
does a listed one that is deleted or becomes reachable until it leaves
the list.

A cut must not break the package's importers outside it either: every
package module and name that the benchmark, the tools, ``bench.py`` or
``__spark_entry__.py`` imports must import and resolve.

The same holds one level down, for the query registry: a ``q_*``
function that no registry row holds is a query nothing runs.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "big_data_engineering_financial_analysis_spark"

#: the batch job, the CLI and query contract, the streaming job, the REST
#: server and the ingest/egress adapters
ENTRY_POINTS = [
    "__spark_entry__",
    f"{PKG}.__main__",
    f"{PKG}.pipeline",
    f"{PKG}.streaming.pipeline",
    f"{PKG}.plans.registry",
    f"{PKG}.plans.http_api",
    f"{PKG}.plans.analytics_ext",
    f"{PKG}.sources.kafka",
    f"{PKG}.sources.ilp",
    f"{PKG}.sources.rest_poller",
    f"{PKG}.sources.jdbc",
    f"{PKG}.sources.feeder",
]

#: the files outside the package that import it: the pipeline benchmark,
#: the operator tools, the legacy CLI and the query contract
IMPORTERS = ["perfbench/**/*.py", "tools/*.py", "bench.py", "__spark_entry__.py"]

LEGACY_UNREACHED = {
    f"{PKG}.{name}"
    for name in [
        "operators.audit",
        "operators.export_manifest",
        "operators.webdataset",
        "sources.bucketed",
        "sources.csvsrc",
        "sources.jsonl",
        "sources.tbl",
        "streaming.bandstore",
        "streaming.corpus",
        "streaming.dataset_sink",  # the data-skipping family's streaming writer; goes with it
    ]
}


def _ours(module: str) -> bool:
    return module == PKG or module.startswith(PKG + ".")


def _source(name: str) -> Path | None:
    path = ROOT.joinpath(*name.split("."))
    if (path / "__init__.py").is_file():
        return path / "__init__.py"
    if path.with_suffix(".py").is_file():
        return path.with_suffix(".py")
    return None


def _imported_names(name: str, source: Path):
    """Every dotted name an import statement in ``source`` may load:
    ``from a import b`` yields ``a`` and ``a.b`` (``b`` may be a module)."""
    package = name.split(".") if source.name == "__init__.py" else name.split(".")[:-1]
    for node in ast.walk(ast.parse(source.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module
            yield module
            yield from (f"{module}.{alias.name}" for alias in node.names)


def reachable_modules() -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        source = _source(name)
        if source is None:
            continue
        seen.add(name)
        parts = name.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += [m for m in _imported_names(name, source) if _ours(m)]
    return seen


def package_modules() -> set[str]:
    out = set()
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        out.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = package_modules() - reachable_modules() - LEGACY_UNREACHED
    assert not unreached, f"{len(unreached)} modules no entry point imports: {sorted(unreached)}"


def test_legacy_unreached_list_only_shrinks():
    stale = LEGACY_UNREACHED - (package_modules() - reachable_modules())
    assert not stale, f"deleted or now reached, drop from LEGACY_UNREACHED: {sorted(stale)}"


def _package_imports(path: Path):
    """``(module, name)`` for every package import in ``path``, function
    level included; ``name`` is None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from ((alias.name, None) for alias in node.names if _ours(alias.name))
        elif isinstance(node, ast.ImportFrom) and not node.level and _ours(node.module or ""):
            yield from ((node.module, alias.name) for alias in node.names)


def test_imports_from_outside_the_package_resolve():
    files = sorted({path for pattern in IMPORTERS for path in ROOT.glob(pattern)})
    imports = [(path, m, n) for path in files for m, n in _package_imports(path)]
    assert imports, "no package imports found: the IMPORTERS globs are stale"
    broken = []
    for path, module, name in imports:
        try:
            mod = importlib.import_module(module)
            if name is not None and not hasattr(mod, name):
                importlib.import_module(f"{module}.{name}")  # ``b`` may be a submodule
        except ImportError as exc:
            broken.append(f"{path.relative_to(ROOT)}: {module} {name or ''}: {exc}")
    assert not broken, "\n".join(broken)


def test_every_registry_query_function_is_registered():
    from big_data_engineering_financial_analysis_spark.plans.registry import QUERIES

    registered = set(QUERIES.values())
    orphans = []
    for path in sorted((ROOT / PKG / "plans").glob("registry*.py")):
        module = importlib.import_module(f"{PKG}.plans.{path.stem}")
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
                if getattr(module, node.name) not in registered:
                    orphans.append(f"{path.stem}.{node.name}")
    assert not orphans, f"query functions no registry row holds: {orphans}"
