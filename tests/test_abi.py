"""Golden-vector tests for the pure-Python ABI/multicall default.

Vectors are public knowledge: the Keccak-256 empty/``abc`` digests,
the OpenZeppelin ``Governor.state(uint256)`` selector (3e4f49e6), and
hand-laid-out Solidity ABI word positions per the ABI spec.
"""

from __future__ import annotations

import pytest

from rootstock_collective_state_sync_spark.sources import abi


def test_keccak256_known_vectors():
    assert (
        abi.keccak256(b"").hex()
        == "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )
    assert (
        abi.keccak256(b"abc").hex()
        == "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )
    # multi-block input (> 136-byte rate) exercises the absorb loop
    assert (
        abi.keccak256(b"a" * 200).hex()
        == abi.keccak256(b"a" * 100 + b"a" * 100).hex()
    )


def test_state_selector_golden():
    # OpenZeppelin Governor state(uint256) — the call the reference
    # builds via viem (blockProposalStateStrategy.ts:41-46)
    assert abi.selector("state(uint256)").hex() == "3e4f49e6"


def test_encode_state_call_golden():
    data = abi.encode_state_call(1)
    assert data.hex() == "3e4f49e6" + "0" * 63 + "1"
    big = 0xDEADBEEF << 128
    assert abi.encode_state_call(big)[4:] == big.to_bytes(32, "big")


def test_uint256_bounds():
    with pytest.raises(ValueError):
        abi.encode_uint256(-1)
    with pytest.raises(ValueError):
        abi.encode_uint256(1 << 256)
    assert abi.decode_uint256(abi.encode_uint256((1 << 256) - 1)) == (1 << 256) - 1


def test_aggregate3_layout_golden():
    gov = "0x" + "ab" * 20
    calldata = abi.encode_state_call(7)
    data = abi.encode_aggregate3([(gov, True, calldata)])
    words = [data[4 + 32 * i : 4 + 32 * (i + 1)] for i in range(9)]
    assert data[:4] == abi.selector("aggregate3((address,bool,bytes)[])")
    assert abi.decode_uint256(words[0]) == 0x20  # head offset of the array
    assert abi.decode_uint256(words[1]) == 1  # element count
    assert abi.decode_uint256(words[2]) == 0x20  # tuple offset (rel. element area)
    assert words[3][-20:].hex() == "ab" * 20  # address, left-padded
    assert abi.decode_uint256(words[4]) == 1  # allowFailure
    assert abi.decode_uint256(words[5]) == 0x60  # bytes offset within tuple
    assert abi.decode_uint256(words[6]) == 36  # calldata length (4 + 32)
    assert words[7] + words[8][:4] == calldata  # padded payload


def _encode_results(results: list[tuple[bool, bytes]]) -> bytes:
    """Inverse of decode_aggregate3, for the fake RPC below."""
    tuples = [
        abi.encode_bool(ok) + abi.encode_uint256(0x40) + abi.encode_bytes(ret)
        for ok, ret in results
    ]
    heads, off = [], 32 * len(tuples)
    for t in tuples:
        heads.append(abi.encode_uint256(off))
        off += len(t)
    return (
        abi.encode_uint256(0x20)
        + abi.encode_uint256(len(tuples))
        + b"".join(heads)
        + b"".join(tuples)
    )


def test_decode_aggregate3_roundtrip():
    results = [(True, abi.encode_uint256(4)), (False, b""), (True, abi.encode_uint256(1))]
    assert abi.decode_aggregate3(_encode_results(results)) == results


def test_make_multicall_fn_end_to_end():
    """Full loop against a canned JSON-RPC endpoint: ids are encoded
    into ONE aggregate3 eth_call; failed inner calls are dropped from
    the returned map (reference warn-and-skip)."""
    gov = "0x" + "cd" * 20
    posted = []

    def fake_post(url, payload):
        posted.append((url, payload))
        assert payload["method"] == "eth_call"
        to = payload["params"][0]["to"]
        assert to == abi.MULTICALL3_ADDRESS
        calls = payload["params"][0]["data"]
        raw = bytes.fromhex(calls[2:])
        assert raw[:4] == abi.selector("aggregate3((address,bool,bytes)[])")
        n = abi.decode_uint256(raw[4 + 32 : 4 + 64])
        # answer state = proposal_id % 8, fail the second call
        decoded = []
        elems = 4 + 32 + 32
        for i in range(n):
            off = elems + abi.decode_uint256(raw[elems + 32 * i : elems + 32 * i + 32])
            boff = off + abi.decode_uint256(raw[off + 64 : off + 96])
            blen = abi.decode_uint256(raw[boff : boff + 32])
            calldata = raw[boff + 32 : boff + 32 + blen]
            assert calldata[:4] == abi.selector("state(uint256)")
            pid = abi.decode_uint256(calldata[4:])
            decoded.append((i != 1, abi.encode_uint256(pid % 8) if i != 1 else b""))
        return {"jsonrpc": "2.0", "id": 1, "result": "0x" + _encode_results(decoded).hex()}

    fn = abi.make_multicall_fn("fake://rpc", gov, post=fake_post)
    ids = ["0x0c", "0x0d", "0x0e"]
    assert fn(ids) == {"0x0c": 4, "0x0e": 6}  # 0x0d dropped (inner failure)
    assert len(posted) == 1  # ONE HTTP round-trip for all ids
    assert fn([]) == {}
    assert len(posted) == 1  # empty batch never posts


def test_multicall_fn_for_network_resolves_registry():
    """S6 x chain-registry glue: the named network resolves to its
    registry RPC URL, the call itself is the normal aggregate3 path."""
    from rootstock_collective_state_sync_spark.streaming.chain import CHAINS

    seen_urls = []

    def fake_post(url, payload):
        seen_urls.append(url)
        return {"jsonrpc": "2.0", "id": 1, "result": "0x" + _encode_results([]).hex()}

    fn = abi.multicall_fn_for_network("testnet", "0x" + "cd" * 20, post=fake_post)
    fn(["0x01"])
    assert seen_urls == [CHAINS["testnet"].rpc_url]
    with pytest.raises(ValueError, match="Unsupported network"):
        abi.multicall_fn_for_network("sepolia", "0x" + "cd" * 20)


def test_refresh_skips_dropped_ids(spark, tmp_table_dir):
    """The refresh tolerates ids the RPC could not answer: their rows
    stay as they were, the others are updated."""
    from tests.test_multimodal_rpc import proposals
    from rootstock_collective_state_sync_spark.sources.rpc import refresh_proposal_states

    ids = [bytes([i]) * 32 for i in range(4)]
    table = proposals(spark, tmp_table_dir, [(i, "p", 0, "Pending") for i in ids])

    def fn(hex_ids):
        return {h: 1 for h in hex_ids if h != "0x" + ids[2].hex()}

    refresh_proposal_states(table, fn)
    got = {bytes(r["id"]): (r["rawState"], r["state"]) for r in table.read_arrow().to_pylist()}
    assert got == {i: (0, "Pending") if i == ids[2] else (1, "Active") for i in ids}
