"""uint256 ingest policy: a BigInt beyond Decimal(38,0) fails loudly
rather than landing truncated."""

from __future__ import annotations

from pathlib import Path

import pytest

from rootstock_collective_state_sync_spark.config import load_entities
from rootstock_collective_state_sync_spark.config.schema_compiler import compile_entity
from rootstock_collective_state_sync_spark.sources.subgraph_source import (
    records_to_rows,
)

FIXTURE = Path(__file__).parent / "fixtures" / "entities.yml"

HUGE = 2**200  # far beyond Decimal(38,0)


@pytest.fixture(scope="module")
def ctx():
    return load_entities(FIXTURE)


def test_without_shadow_overflow_is_loud(ctx, spark):
    entity = ctx["VoteCast"]
    rec = {
        "id": "0x01",
        "voter": {"id": "0x" + "aa" * 20},
        "proposal": {"id": "0x" + "bb" * 32},
        "support": 1,
        "weight": str(HUGE),
        "reason": "r",
        "blockNumber": "7",
    }
    rows = records_to_rows(ctx, entity, [rec])
    with pytest.raises(Exception):
        spark.createDataFrame(rows, compile_entity(ctx, entity)).collect()
