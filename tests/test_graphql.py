"""GraphQL builder + client + Spark DataSource tests.

Builder coverage mirrors the reference's largest suite
(``subgraphQueryBuilder.test.ts``): pluralized root fields, ``first``,
``orderBy/orderDirection``, ``where`` rendering incl. nested objects
and arrays, unknown-entity error. Client coverage mirrors
``batching.test.ts``: N queries -> 1 HTTP, ``_meta``, batch-failure
fallback. The DataSource tests run the real partition-parallel
pagination end-to-end against the canned transport; filters, order
and limits over the source are Spark's.
"""

from __future__ import annotations

from decimal import Decimal
from pathlib import Path

import pytest

from rootstock_collective_state_sync_spark.config import load_entities
from rootstock_collective_state_sync_spark.functions import (
    pluralize_entity_name,
    to_camel_case,
)
from rootstock_collective_state_sync_spark.sources.graphql import (
    GraphQLError,
    QueryBuilderError,
    QueryOptions,
    SubgraphClient,
    build_batch_query,
    create_entity_query,
    format_query_value,
)

from tests import fake_subgraph

FIXTURE = Path(__file__).parent / "fixtures" / "entities.yml"


@pytest.fixture(scope="module")
def ctx():
    return load_entities(FIXTURE)


# ---------------------------------------------------------------------------
# naming
# ---------------------------------------------------------------------------


def test_naming():
    assert to_camel_case("BlockChangeLog") == "blockChangeLog"
    assert pluralize_entity_name("BlockChangeLog") == "blockChangeLogs"
    assert pluralize_entity_name("ClaimedRewardsHistory") == "claimedRewardsHistories"


# ---------------------------------------------------------------------------
# builder golden strings
# ---------------------------------------------------------------------------


def test_plain_query(ctx):
    req = create_entity_query(ctx, "Account")
    assert req.query == "accounts { id }"


def test_first_and_order(ctx):
    req = create_entity_query(
        ctx,
        "BlockChangeLog",
        QueryOptions(first=10, order_by="blockNumber", order_direction="desc"),
    )
    assert req.query.startswith(
        "blockChangeLogs(first: 10, orderBy: blockNumber, orderDirection: desc)"
    )
    assert "{ id blockNumber blockTimestamp updatedEntities }" in req.query


def test_fk_narrowed_to_id(ctx):
    req = create_entity_query(ctx, "VoteCast")
    assert "voter { id }" in req.query
    assert "proposal { id }" in req.query


def test_where_rendering(ctx):
    req = create_entity_query(
        ctx,
        "VoteCast",
        QueryOptions(
            where={
                "id_gt": "0x00",
                "support": 1,
                "proposal_": {"state": "Active"},
                "blockNumber_in": [1, 2],
            }
        ),
    )
    assert (
        'where: {id_gt: "0x00", support: 1, proposal_: {state: "Active"}, '
        "blockNumber_in: [1, 2]}" in req.query
    )


def test_unknown_entity_rejected(ctx):
    with pytest.raises(QueryBuilderError, match="unknown entity"):
        create_entity_query(ctx, "Nope")


def test_circular_where_rejected():
    d: dict = {"a": 1}
    d["self"] = d
    with pytest.raises(QueryBuilderError, match="circular"):
        format_query_value(d)


def test_batch_doc_aliases_and_meta(ctx):
    reqs = [
        create_entity_query(ctx, "Account", with_metadata=True),
        create_entity_query(ctx, "Proposal"),
    ]
    doc = build_batch_query(reqs)
    assert "Account_0: accounts { id }" in doc
    assert "Proposal_1: proposals" in doc
    assert "_meta { block { number hash timestamp } }" in doc


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


def test_client_batches_n_queries_into_one_http(ctx):
    fake_subgraph.CALLS.clear()
    client = SubgraphClient(url="fake://x", transport=fake_subgraph.transport)
    reqs = [
        create_entity_query(ctx, "VoteCast", QueryOptions(first=5))
        for _ in range(5)
    ]
    data, meta = client.execute(reqs)
    assert client.http_requests == 1 and client.queries_sent == 5
    assert len(fake_subgraph.CALLS) == 1  # 5 queries -> 1 HTTP (80% saving)
    assert len(data["VoteCast"]) == 25  # 5 aliases x first:5, demuxed+merged
    assert meta is None


def test_client_meta_block(ctx):
    client = SubgraphClient(url="fake://x", transport=fake_subgraph.transport)
    req = create_entity_query(ctx, "Account", with_metadata=True)
    _, meta = client.execute([req])
    assert meta.number == 4321 and meta.hash.startswith("0xee")


def test_client_batch_failure_falls_back_per_query(ctx):
    fake_subgraph.CALLS.clear()
    client = SubgraphClient(
        url="fake://x", transport=fake_subgraph.failing_batch_transport
    )
    reqs = [
        create_entity_query(ctx, "VoteCast", QueryOptions(first=3)),
        create_entity_query(ctx, "Account", QueryOptions(first=2)),
    ]
    data, _ = client.execute(reqs)
    # 1 failed batch + 2 single retries
    assert len(fake_subgraph.CALLS) == 3
    assert len(data["VoteCast"]) == 3


def test_execute_routed_same_entity_distinct_filters(ctx):
    """Index routing: two queries on the SAME entity with different
    filters must not be merged (unlike ``execute``'s per-entity
    demux) — the property run_block's coalescing relies on."""
    client = SubgraphClient(url="fake://x", transport=fake_subgraph.transport)
    reqs = [
        create_entity_query(
            ctx, "VoteCast", QueryOptions(first=50, where={"support": 0})
        ),
        create_entity_query(
            ctx, "VoteCast", QueryOptions(first=50, where={"support": 1})
        ),
    ]
    routed = client.execute_routed(reqs)
    assert client.http_requests == 1
    assert len(routed) == 2
    assert {r["support"] for r in routed[0]} == {0}
    assert {r["support"] for r in routed[1]} == {1}
    assert len(routed[0]) and len(routed[1])


def test_execute_routed_fallback_preserves_routing(ctx):
    fake_subgraph.CALLS.clear()
    client = SubgraphClient(
        url="fake://x", transport=fake_subgraph.failing_batch_transport
    )
    reqs = [
        create_entity_query(ctx, "VoteCast", QueryOptions(first=3)),
        create_entity_query(ctx, "Account", QueryOptions(first=2)),
    ]
    routed = client.execute_routed(reqs)
    assert len(fake_subgraph.CALLS) == 3  # failed batch + 2 singles
    assert len(routed[0]) == 3  # VoteCast page at index 0


def test_single_query_failure_raises(ctx):
    def always_fail(url, body):
        return {"errors": [{"message": "boom"}]}

    client = SubgraphClient(url="fake://x", transport=always_fail)
    with pytest.raises(GraphQLError, match="boom"):
        client.execute([create_entity_query(ctx, "Account")])


def test_pagination_completes_on_short_page(ctx):
    client = SubgraphClient(url="fake://x", transport=fake_subgraph.transport)
    pages = list(client.paginate(ctx, "VoteCast", page_size=16))
    assert [len(p) for p in pages] == [16, 16, 8]  # 40 records total
    ids = [r["id"] for p in pages for r in p]
    assert ids == sorted(ids) and len(set(ids)) == 40


def test_pagination_respects_id_bounds(ctx):
    client = SubgraphClient(url="fake://x", transport=fake_subgraph.transport)
    lower = list(
        client.paginate(ctx, "VoteCast", 16, start_cursor="0x00", id_upper_bound="0x80")
    )
    upper = list(
        client.paginate(ctx, "VoteCast", 16, start_cursor="0x80")
    )
    n = sum(len(p) for p in lower) + sum(len(p) for p in upper)
    assert n == 40  # disjoint partition ranges cover the universe


# ---------------------------------------------------------------------------
# Spark DataSource end-to-end
# ---------------------------------------------------------------------------


@pytest.fixture()
def subgraph_df(spark):
    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        SubgraphDataSource,
    )

    spark.dataSource.register(SubgraphDataSource)
    return (
        spark.read.format("subgraph")
        .option("url", "fake://endpoint")
        .option("config_path", str(FIXTURE))
        .option("entity", "VoteCast")
        .option("page_size", 7)
        .option("num_partitions", 4)
        .option("transport", "tests.fake_subgraph:transport")
        .load()
    )


def test_datasource_reads_all_partitions(subgraph_df):
    rows = subgraph_df.collect()
    assert len(rows) == fake_subgraph.N_VOTES
    byid = {r.id.hex(): r for r in rows}
    assert len(byid) == fake_subgraph.N_VOTES  # no dupes across partitions


def test_datasource_types_and_fk_flattening(subgraph_df):
    row = subgraph_df.orderBy("blockNumber").first()
    assert isinstance(row.id, (bytes, bytearray))
    assert isinstance(row.voter, (bytes, bytearray)) and len(row.voter) == 20
    assert isinstance(row.weight, Decimal) and row.weight == Decimal(10**20)
    assert row.support in (0, 1, 2)
    assert row.blockNumber == Decimal(1000)


def test_datasource_filter_results(spark, subgraph_df):
    from pyspark.sql import functions as F

    got = subgraph_df.filter(F.col("support") == 1).collect()
    want = [r for r in fake_subgraph.universe() if r["support"] == 1]
    assert len(got) == len(want)


def test_reader_yields_the_driver_walks_arrow_batches(ctx):
    """The reader converts pages with ``records_to_arrow``, the
    converter the driver-side sync uses: one partition yields Arrow
    record batches of the table's Arrow schema holding exactly that
    converter's rows."""
    import pyarrow as pa

    from rootstock_collective_state_sync_spark.config import compile_entity
    from rootstock_collective_state_sync_spark.sinks.table import arrow_schema
    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        SubgraphReader,
        records_to_arrow,
    )

    entity = ctx["VoteCast"]
    r = SubgraphReader(
        {
            "url": "fake://endpoint",
            "config_path": str(FIXTURE),
            "entity": "VoteCast",
            "page_size": "7",
            "num_partitions": "1",
            "transport": "tests.fake_subgraph:transport",
        }
    )
    (partition,) = r.partitions()
    batches = list(r.read(partition))
    schema = arrow_schema(compile_entity(ctx, entity))
    assert len(batches) == 6  # 40 records in pages of 7
    for b in batches:
        assert isinstance(b, pa.RecordBatch) and b.schema == schema
    got = pa.Table.from_batches(batches)
    assert got.equals(records_to_arrow(ctx, entity, fake_subgraph.universe()))


# ---- endpoint construction + API-key masking (C7/C8) -----------------------


def test_build_endpoint_gateway_vs_named():
    from rootstock_collective_state_sync_spark.sources.graphql import build_endpoint

    # gateway: key embedded in the path (subgraphProvider.ts:272-274)
    assert (
        build_endpoint("https://gateway.thegraph.com/api", "QmSubgraph", "k" * 32)
        == "https://gateway.thegraph.com/api/" + "k" * 32 + "/QmSubgraph"
    )
    # keyless: named route, no double slash (subgraphProvider.ts:275)
    assert (
        build_endpoint("http://localhost:8000/", "org/my-subgraph", None)
        == "http://localhost:8000/subgraphs/name/org/my-subgraph"
    )
    assert (
        build_endpoint("http://localhost:8000", "org/my-subgraph", "")
        == "http://localhost:8000/subgraphs/name/org/my-subgraph"
    )


def test_mask_api_key_goldens():
    from rootstock_collective_state_sync_spark.sources.graphql import mask_api_key

    # >20-char first segment is treated as a key (subgraphProvider.ts:103-106)
    key = "abcdef0123456789abcdef0123456789"
    assert (
        mask_api_key(f"https://gw.example.com/{key}/QmSubgraph")
        == "https://gw.example.com/***/QmSubgraph"
    )
    # short first segment (named route) is left alone
    assert (
        mask_api_key("http://localhost:8000/subgraphs/name/org/sg")
        == "http://localhost:8000/subgraphs/name/org/sg"
    )
    # single-segment path: nothing to mask
    assert mask_api_key("https://x.example.com/health") == "https://x.example.com/health"
    # unparseable endpoint never leaks through (subgraphProvider.ts:109-111)
    assert mask_api_key("not a url") == "[invalid-endpoint]"


def test_client_repr_masks_key():
    key = "abcdef0123456789abcdef0123456789"
    client = SubgraphClient.from_provider(
        "https://gw.example.com", "QmSubgraph", key, transport=fake_subgraph.transport
    )
    assert client.url == f"https://gw.example.com/{key}/QmSubgraph"
    assert key not in repr(client)
    assert "***" in repr(client)


def test_id_range_bounds_byte_for_byte_goldens():
    """r10 verdict item 9: pin the static first-byte id-space split
    exactly — boundary strings are wire-visible (they become id_gt /
    id_lt arguments), so a drift here silently re-shapes every
    partition-parallel read."""
    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        _id_range_bounds,
    )

    assert _id_range_bounds(1) == [("0x00", None)]
    assert _id_range_bounds(2) == [("0x00", "0x80"), ("0x80", None)]
    assert _id_range_bounds(3) == [
        ("0x00", "0x55"), ("0x55", "0xaa"), ("0xaa", None),
    ]
    assert _id_range_bounds(4) == [
        ("0x00", "0x40"), ("0x40", "0x80"), ("0x80", "0xc0"),
        ("0xc0", None),
    ]
    # structural invariants at every practical width: contiguous,
    # first lower pinned, last upper unbounded
    for n in range(1, 33):
        b = _id_range_bounds(n)
        assert b[0][0] == "0x00" and b[-1][1] is None
        assert all(b[i][1] == b[i + 1][0] for i in range(len(b) - 1))


def test_adaptive_id_bounds_unit_goldens():
    """Boundary-shape goldens for the adaptive split: post-prefix hex
    window, '/'-terminated boundaries (never equal to any id), 0x00
    seed first, unbounded last, and the documented fallbacks."""
    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        _adaptive_id_bounds,
    )

    # shared "00" prefix, 8-hex ids: window is the next 4 hex chars
    b = _adaptive_id_bounds("0x00000000", "0x00ffffff", 4)
    assert b == [
        ("0x00", "0x004000/"),
        ("0x004000/", "0x008000/"),
        ("0x008000/", "0x00c000/"),
        ("0x00c000/", None),
    ]
    # no shared prefix: window is the leading 4 hex chars
    b = _adaptive_id_bounds("0x00000000", "0xffffffff", 2)
    assert b == [("0x00", "0x8000/"), ("0x8000/", None)]
    # boundaries stay strictly shorter than ids: short ids shrink the
    # window ("0xab0".."0xabf" shares "ab", 1 char left -> no room)
    assert _adaptive_id_bounds("0xab0", "0xabf", 2) is None
    # fallbacks: single id, mixed lengths, non-hex, inverted range
    assert _adaptive_id_bounds("0x07aaaaaa", "0x07aaaaaa", 4) is None
    assert _adaptive_id_bounds("0x07aa", "0x07aaaaaa", 4) is None
    assert _adaptive_id_bounds("seven", "0x07aaaaaa", 4) is None
    assert _adaptive_id_bounds("0x09ffffff", "0x07000000", 4) is None
    # range narrower than the partition count
    assert _adaptive_id_bounds("0x00000000", "0x00000002", 4) is None


def test_adaptive_split_balances_skewed_prefix(tmp_path):
    """r11 verdict item 8: the adaptive (default) planner probes the
    observed id range, so a single-prefix tenant — where the static
    first-byte split degenerates to [N, 0, 0, 0] — still gets
    balanced partitions (>= 0.5 of the ideal share each) with the
    exact complete disjoint row union."""
    import json as _json

    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        SubgraphReader,
    )

    n = 64
    skewed = [
        {
            "id": f"0x07{i:06x}",
            "voter": {"id": f"0x{'aa' * 19}{i % 7:02x}"},
            "proposal": {"id": f"0x{'bb' * 31}{i % 3:02x}"},
            "support": i % 3,
            "weight": str(10**20 + i),
            "reason": f"reason-{i}",
            "blockNumber": str(1000 + i),
        }
        for i in range(n)
    ]
    state = tmp_path / "skewed.json"
    state.write_text(_json.dumps({"VoteCast": skewed}))
    r = SubgraphReader(
        {
            "url": f"fake-state://{state}",
            "config_path": str(FIXTURE),
            "entity": "VoteCast",
            "page_size": "5",
            "num_partitions": "4",
            "transport": "tests.fake_subgraph:state_transport",
        }
    )
    per_partition = [list(r.read(p)) for p in r.partitions()]
    sizes = [sum(b.num_rows for b in batches) for batches in per_partition]
    assert len(sizes) == 4
    # balance: every partition holds at least half its ideal share
    # (vs the static split's [64, 0, 0, 0])
    assert min(sizes) >= (n / 4) * 0.5, sizes
    # exact complete disjoint union
    got = sorted(
        "0x" + v.hex()
        for batches in per_partition
        for b in batches
        for v in b.column("id").to_pylist()
    )
    assert got == sorted(rec["id"] for rec in skewed)
    assert len(got) == len(set(got))


def test_adaptive_probe_failure_falls_back_to_static():
    """A probe that cannot run (transport error) must degrade to the
    static split, never fail the scan."""
    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        SubgraphReader,
        _id_range_bounds,
    )

    r = SubgraphReader(
        {
            "url": "fake://endpoint",
            "config_path": str(FIXTURE),
            "entity": "VoteCast",
            "num_partitions": "4",
            "transport": "tests.fake_subgraph:failing_transport",
        }
    )
    got = [(p.lower, p.upper) for p in r.partitions()]
    assert got == _id_range_bounds(4)


def test_adaptive_split_live_shaped_skewed_fixture(tmp_path):
    """r12 verdict item 7: the adaptive planner against a LIVE-SHAPED
    fixture at bench scale — 100k ids sharing a long `0x00...` prefix
    (the reference's own seed regime, `subgraphSyncer.ts:39-42` opens
    its cursor at id_gt "0x00" and real tenants mint ids under one
    contract prefix). Asserts (a) >= 0.5 per-partition balance where
    the static first-byte split would give [100k, 0, 0, 0], (b) the
    exact complete disjoint row union."""
    import json as _json

    from rootstock_collective_state_sync_spark.sources.subgraph_source import (
        SubgraphReader,
    )

    n = 100_000
    prefix = "00" * 8  # 16 hex chars of shared zero prefix
    recs = [
        {
            "id": f"0x{prefix}{i:06x}",
            "voter": {"id": f"0x{'aa' * 19}{i % 7:02x}"},
            "proposal": {"id": f"0x{'bb' * 31}{i % 3:02x}"},
            "support": i % 3,
            "weight": str(10**20 + i),
            "reason": "r",
            "blockNumber": str(1000 + i),
        }
        for i in range(n)
    ]
    state = tmp_path / "live_skewed.json"
    state.write_text(_json.dumps({"VoteCast": recs}))

    r = SubgraphReader(
        {
            "url": f"fake-state://{state}",
            "config_path": str(FIXTURE),
            "entity": "VoteCast",
            "page_size": "25000",
            "num_partitions": "4",
            "transport": "tests.fake_subgraph:state_transport",
        }
    )
    per_partition = [list(r.read(p)) for p in r.partitions()]
    sizes = [sum(b.num_rows for b in batches) for batches in per_partition]
    assert len(sizes) == 4
    assert min(sizes) >= (n / 4) * 0.5, sizes  # static split: [n,0,0,0]
    got = sorted(
        "0x" + v.hex()
        for batches in per_partition
        for b in batches
        for v in b.column("id").to_pylist()
    )
    assert got == sorted(rec["id"] for rec in recs)
    assert len(got) == len(set(got))
