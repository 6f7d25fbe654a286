"""Parity of the columnar page converter with the row converter.

``records_to_arrow`` turns GraphQL pages into the Arrow table the driver
merge takes and the DataSource reader yields. ``records_to_rows`` (a
cell-by-cell converter) followed by ``prepare_rows`` is the reference:
over every primitive, arrays with null elements, FK values as ``{id}``
objects and as flat ids, missing and null values, odd-length hex and
``Integer`` values sent as strings, both must give the same table. No
Spark session is started.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rootstock_collective_state_sync_spark.config import compile_entity
from rootstock_collective_state_sync_spark.config.types import Column, Entity, SchemaContext
from rootstock_collective_state_sync_spark.sinks.upsert import prepare_rows
from rootstock_collective_state_sync_spark.sources.subgraph_source import (
    records_to_arrow,
    records_to_rows,
)

BIG = 10**38 - 1  # the widest Decimal(38,0)

PRIMITIVES = ("Boolean", "BigInt", "Bytes", "String", "Integer")

CTX = SchemaContext.from_entities(
    [
        Entity("Account", (Column("id", "Bytes"),), ("id",)),
        Entity("Tag", (Column("id", "String"),), ("id",)),
        Entity(
            "Row",
            (Column("id", "Bytes"),)
            + tuple(Column(f"p_{t}", t, nullable=True) for t in PRIMITIVES)
            + tuple(Column(f"a_{t}", t, is_array=True, nullable=True) for t in PRIMITIVES)
            + (Column("account", "Account", nullable=True), Column("tag", "Tag", nullable=True)),
            ("id",),
        ),
    ]
)
ROW = CTX["Row"]

hex_digits = st.text(alphabet="0123456789abcdefABCDEF", max_size=9)
values = {
    "Boolean": st.booleans(),
    "BigInt": st.one_of(
        st.integers(-BIG, BIG), st.sampled_from([BIG, -BIG, 0])
    ).flatmap(lambda n: st.sampled_from([n, str(n)])),
    "Bytes": st.tuples(st.booleans(), hex_digits).map(lambda p: ("0x" if p[0] else "") + p[1]),
    "String": st.text(max_size=6),
    "Integer": st.integers(-(2**31), 2**31 - 1).flatmap(lambda n: st.sampled_from([n, str(n)])),
}
account_id = values["Bytes"]
fk = {
    "account": st.one_of(account_id, st.builds(lambda i: {"id": i}, account_id)),
    "tag": st.one_of(st.text(max_size=4), st.builds(lambda i: {"id": i}, st.text(max_size=4))),
}
record = st.fixed_dictionaries(
    {"id": account_id},
    optional={
        **{f"p_{t}": st.one_of(st.none(), s) for t, s in values.items()},
        **{
            f"a_{t}": st.one_of(st.none(), st.lists(st.one_of(st.none(), s), max_size=4))
            for t, s in values.items()
        },
        **{c: st.one_of(st.none(), s) for c, s in fk.items()},
    },
)


def reference(records: list[dict]):
    return prepare_rows(records_to_rows(CTX, ROW, records), compile_entity(CTX, ROW))


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(records=st.lists(record, max_size=12))
def test_columnar_pages_equal_the_row_reference(records):
    got = records_to_arrow(CTX, ROW, records)
    assert got.schema == reference(records).schema
    assert got.equals(reference(records))


@pytest.mark.parametrize("big", [BIG + 1, -(BIG + 1), 10**40])
@pytest.mark.parametrize("as_str", [True, False], ids=["str", "int"])
def test_bigint_beyond_decimal38_raises_on_both(big, as_str):
    records = [{"id": "0x01", "p_BigInt": str(big) if as_str else big}]
    with pytest.raises(ValueError):
        records_to_arrow(CTX, ROW, records)
    with pytest.raises(ValueError):
        reference(records)
