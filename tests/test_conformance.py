"""Conformance: every registered query with an oracle must match
DuckDB on the same parquet data (the driver's t2 gate, run locally at
sf0.001 for speed — set SPARK_GRAFT_TESTDATA_SF=sf0.01 to mirror the
driver exactly)."""

from __future__ import annotations

import os

import pytest

from rootstock_collective_state_sync_spark.plans.registry import SPECS

from tests.oracle import compare

SF_DIR = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"),
    os.environ.get("SPARK_GRAFT_TESTDATA_SF", "sf0.001"),
)


@pytest.mark.parametrize("name", [n for n, s in SPECS.items() if s.oracle])
def test_query_matches_oracle(spark, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_DIR)
    problems = compare(df, spec.oracle, SF_DIR)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", [n for n, s in SPECS.items() if not s.oracle])
def test_query_runs_rows_only(spark, name):
    df = SPECS[name].fn(spark, SF_DIR)
    assert df.count() >= 0


@pytest.mark.parametrize("name", list(SPECS))
def test_final_schema_is_scalar_only(spark, name):
    """Registry lint: the driver's canonicalizer sorts raw pandas cells
    (r07: list cells crash it with ``unhashable type: 'list'``), so no
    registry query may expose array/map/struct columns in its FINAL
    schema. Operator functions may return arrays — registry wrappers
    must render them (``plans.tables.array_as_string``)."""
    from pyspark.sql import types as T

    df = SPECS[name].fn(spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{name}: non-scalar final columns {bad} would crash the driver "
        "canonicalizer; render with plans.tables.array_as_string"
    )


def test_default_tier_selects_exactly_the_driver_window():
    """conftest tiers conformance tests by their ``name`` parameter:
    the default run keeps every driver-window query (oracle or
    rows-only, plus its schema lint) and nothing else."""
    import json
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    from rootstock_collective_state_sync_spark.plans.registry import (
        _DRIVER_WINDOW,
    )

    # collect in a fresh interpreter and read the selected items'
    # parameters, not their node ids
    collect = textwrap.dedent(
        """
        import json, pytest
        class Grab:
            def pytest_collection_finish(self, session):
                self.sel = [(i.originalname, i.callspec.params["name"])
                            for i in session.items if hasattr(i, "callspec")]
        g = Grab()
        pytest.main(["--collect-only", "-q", "-p", "no:cacheprovider",
                     "tests/test_conformance.py"], plugins=[g])
        print(json.dumps(g.sel))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", collect],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, check=True,
    ).stdout
    selected: dict[str, set[str]] = {}
    for test, name in json.loads(out.splitlines()[-1]):
        selected.setdefault(test, set()).add(name)
    window = set(_DRIVER_WINDOW)
    want = {
        "test_query_matches_oracle": {n for n in window if SPECS[n].oracle},
        "test_query_runs_rows_only": {n for n in window if not SPECS[n].oracle},
        "test_final_schema_is_scalar_only": window,
    }
    assert selected == {t: names for t, names in want.items() if names}


def test_slow_test_ids_name_existing_tests():
    """Every node id in tests/slow_tests.txt must name a test that
    exists — a stale id silently matches nothing and lets a slow test
    drift back into the default tier."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    listing = root / "tests" / "slow_tests.txt"
    defined: dict[str, set[str]] = {}
    stale = []
    for line in listing.read_text().splitlines():
        node = line.strip()
        if not node or node.startswith("#"):
            continue
        path, _, name = node.partition("::")
        name = name.split("[", 1)[0].split("::")[-1]
        if path not in defined:
            src = root / path
            defined[path] = (
                {
                    n.name
                    for n in ast.walk(ast.parse(src.read_text()))
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
                if src.is_file()
                else set()
            )
        if name not in defined[path]:
            stale.append(node)
    assert not stale, f"stale ids in {listing.name}: {stale}"


def _reached_modules(root) -> set[str]:
    """Dotted names of the modules an import walk reaches from the
    repo's entry points (``bench.py``, ``__spark_entry__.py``,
    ``perfbench/*.py``, ``tools/*.py``). It parses sources, imports
    nothing, and follows every ``import``/``from … import``, function
    level ones included; importing a module also runs its packages'
    ``__init__``."""
    import ast

    def source(mod: str):
        base = root.joinpath(*mod.split("."))
        for p in (base.with_suffix(".py"), base / "__init__.py"):
            if p.is_file():
                return p
        return None

    def imports(mod: str, path):
        pkg = mod.split(".") if path.name == "__init__.py" else mod.split(".")[:-1]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                parts = pkg[: len(pkg) - node.level + 1] if node.level else []
                base = ".".join(parts + ([node.module] if node.module else []))
                yield base
                yield from (f"{base}.{a.name}" for a in node.names)

    todo = ["bench", "__spark_entry__"] + [
        f"{d}.{p.stem}" for d in ("perfbench", "tools") for p in sorted(root.joinpath(d).glob("*.py"))
    ]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            path = source(name)
            if name not in seen and path is not None:
                seen.add(name)
                todo.extend(imports(name, path))
    return seen


def test_every_sink_and_streaming_module_is_reached():
    """Reachability guard: every module under ``sinks/`` and
    ``streaming/`` is imported, directly or not, by the engine's entry
    points, the benchmark or a tool. A module that only its own tests
    reach is dead weight on the sync path."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = "rootstock_collective_state_sync_spark"
    reached = _reached_modules(root)
    unreached = sorted(
        f"{sub}/{p.name}"
        for sub in ("sinks", "streaming")
        for p in root.joinpath(pkg, sub).glob("*.py")
        if p.name != "__init__.py" and f"{pkg}.{sub}.{p.stem}" not in reached
    )
    assert not unreached, f"modules no entry point reaches: {unreached}"
