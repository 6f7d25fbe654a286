from __future__ import annotations

import os
from pathlib import Path

import pytest

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = str(Path(TESTDATA_ROOT) / "sf0.001")
SF_CORRECTNESS = str(Path(TESTDATA_ROOT) / "sf0.01")


def _slow_node_ids() -> set[str]:
    p = Path(__file__).parent / "slow_tests.txt"
    if not p.exists():
        return set()
    return {
        line.strip()
        for line in p.read_text().splitlines()
        if line.strip() and not line.startswith("#")
    }


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (r18, see pytest.ini): mark as ``full``
    (a) measured-slow node ids from tests/slow_tests.txt, and
    (b) per-query conformance tests whose query is NOT in the current
    driver window — the default tier then mirrors the driver's own
    50-query re-verification and stays inside its verify budget,
    while `-m full` still covers all 259 oracles / 262 schemas."""
    slow = _slow_node_ids()
    try:
        from rootstock_collective_state_sync_spark.plans.registry import (
            _DRIVER_WINDOW,
        )

        window = set(_DRIVER_WINDOW)
    except Exception:  # registry import failure surfaces in tests, not here
        window = None
    full = pytest.mark.full
    for item in items:
        if item.nodeid in slow:
            item.add_marker(full)
            continue
        callspec = getattr(item, "callspec", None)
        name = callspec.params.get("name") if callspec else None
        if (
            window is not None
            and item.path.name == "test_conformance.py"
            and name is not None
            and name not in window
        ):
            item.add_marker(full)


@pytest.fixture(scope="session")
def spark():
    from rootstock_collective_state_sync_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture()
def tmp_table_dir(tmp_path) -> str:
    return str(tmp_path / "tables")
