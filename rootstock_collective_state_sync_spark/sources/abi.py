"""Minimal pure-Python Ethereum ABI encoding for the multicall path.

Gives :mod:`.rpc` a real default ``multicall_fn`` against any JSON-RPC
URL — parity with the reference, which encodes ``state(proposalId)``
eth_calls via viem and batches them through Multicall3
(``blockProposalStateStrategy.ts:41-67``). Everything here is public
knowledge: the Keccak-256 permutation (FIPS 202 / the original Keccak
reference, with Ethereum's legacy 0x01 padding), the Solidity ABI
spec, and the canonical Multicall3 deployment address.

Scope is deliberately narrow — 4-byte selectors, ``uint256`` /
``address`` / ``bool`` / ``bytes`` encoding, and the
``aggregate3((address,bool,bytes)[])`` call + ``(bool,bytes)[]``
result shapes — not a general ABI library. Driver-side only and
per-batch (one encode per few hundred ids), so pure-Python speed is
irrelevant.
"""

from __future__ import annotations

from typing import Callable

# Same address on every EVM chain (CREATE2), including Rootstock.
MULTICALL3_ADDRESS = "0xcA11bde05977b3631167028862bE2a173976CA11"

_MASK64 = (1 << 64) - 1

_RC = (
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
)

# rotation offsets r[x][y]
_ROT = (
    (0, 36, 3, 41, 18),
    (1, 44, 10, 45, 2),
    (62, 6, 43, 15, 61),
    (28, 55, 25, 21, 56),
    (27, 20, 39, 8, 14),
)


def _rol(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _MASK64 if s else v


def _keccak_f(a: list[list[int]]) -> None:
    for rc in _RC:
        c = [a[x][0] ^ a[x][1] ^ a[x][2] ^ a[x][3] ^ a[x][4] for x in range(5)]
        d = [c[(x - 1) % 5] ^ _rol(c[(x + 1) % 5], 1) for x in range(5)]
        for x in range(5):
            for y in range(5):
                a[x][y] ^= d[x]
        b = [[0] * 5 for _ in range(5)]
        for x in range(5):
            for y in range(5):
                b[y][(2 * x + 3 * y) % 5] = _rol(a[x][y], _ROT[x][y])
        for x in range(5):
            for y in range(5):
                a[x][y] = b[x][y] ^ ((~b[(x + 1) % 5][y]) & b[(x + 2) % 5][y])
        a[0][0] ^= rc


def keccak256(data: bytes) -> bytes:
    """Legacy Keccak-256 (Ethereum's hash: 0x01 domain padding, not
    SHA3's 0x06)."""
    rate = 136
    padded = bytearray(data)
    pad_len = rate - (len(padded) % rate)
    padded += b"\x01" + b"\x00" * (pad_len - 2) + b"\x80" if pad_len >= 2 else b"\x81"

    a = [[0] * 5 for _ in range(5)]
    for off in range(0, len(padded), rate):
        block = padded[off : off + rate]
        for i in range(rate // 8):
            x, y = i % 5, i // 5
            a[x][y] ^= int.from_bytes(block[8 * i : 8 * i + 8], "little")
        _keccak_f(a)

    out = bytearray()
    for i in range(4):  # 32 bytes = 4 lanes
        x, y = i % 5, i // 5
        out += a[x][y].to_bytes(8, "little")
    return bytes(out)


def selector(signature: str) -> bytes:
    """4-byte function selector, e.g. ``state(uint256)`` -> 3e4f49e6."""
    return keccak256(signature.encode())[:4]


# ---- static types ----------------------------------------------------------


def encode_uint256(v: int) -> bytes:
    if not 0 <= v < 1 << 256:
        raise ValueError(f"uint256 out of range: {v}")
    return v.to_bytes(32, "big")


def decode_uint256(data: bytes) -> int:
    return int.from_bytes(data[:32], "big")


def encode_address(addr: str) -> bytes:
    h = addr[2:] if addr.startswith("0x") else addr
    return bytes(12) + bytes.fromhex(h)


def encode_bool(v: bool) -> bytes:
    return (1 if v else 0).to_bytes(32, "big")


def _pad32(b: bytes) -> bytes:
    rem = len(b) % 32
    return b + bytes(32 - rem) if rem else b


def encode_bytes(b: bytes) -> bytes:
    """Dynamic ``bytes``: length word + right-padded payload."""
    return encode_uint256(len(b)) + _pad32(b)


# ---- call building ---------------------------------------------------------

STATE_SELECTOR = None  # computed lazily; golden-tested as 3e4f49e6


def encode_state_call(proposal_id: int) -> bytes:
    """Calldata for ``Governor.state(uint256 proposalId)`` — what the
    reference builds per proposal via viem
    (``blockProposalStateStrategy.ts:41-46``)."""
    global STATE_SELECTOR
    if STATE_SELECTOR is None:
        STATE_SELECTOR = selector("state(uint256)")
    return STATE_SELECTOR + encode_uint256(proposal_id)


def encode_aggregate3(calls: list[tuple[str, bool, bytes]]) -> bytes:
    """Calldata for ``Multicall3.aggregate3((address,bool,bytes)[])``
    — viem's ``client.multicall`` wire shape
    (``blockProposalStateStrategy.ts:49-51``).

    Layout per the ABI spec: the single dynamic array argument is a
    head offset (0x20), then the element count, then one offset per
    tuple (tuples containing ``bytes`` are dynamic), then each tuple
    as ``address ++ bool ++ bytes-offset(0x60) ++ bytes``.
    """
    n = len(calls)
    tuples = []
    for target, allow_failure, calldata in calls:
        tuples.append(
            encode_address(target)
            + encode_bool(allow_failure)
            + encode_uint256(0x60)
            + encode_bytes(calldata)
        )
    heads = []
    off = 32 * n  # element offsets are relative to the start of the element area
    for t in tuples:
        heads.append(encode_uint256(off))
        off += len(t)
    body = encode_uint256(n) + b"".join(heads) + b"".join(tuples)
    return selector("aggregate3((address,bool,bytes)[])") + encode_uint256(0x20) + body


def decode_aggregate3(data: bytes) -> list[tuple[bool, bytes]]:
    """Decode ``Result[] (bool success, bytes returnData)``."""
    base = decode_uint256(data[0:32])  # offset of the array
    n = decode_uint256(data[base : base + 32])
    elems = base + 32
    out: list[tuple[bool, bytes]] = []
    for i in range(n):
        off = elems + decode_uint256(data[elems + 32 * i : elems + 32 * i + 32])
        success = bool(decode_uint256(data[off : off + 32]))
        boff = off + decode_uint256(data[off + 32 : off + 64])
        blen = decode_uint256(data[boff : boff + 32])
        out.append((success, data[boff + 32 : boff + 32 + blen]))
    return out


# ---- JSON-RPC transport ----------------------------------------------------

PostFn = Callable[[str, dict], dict]


def http_json_rpc(url: str, payload: dict) -> dict:
    """Default POST via urllib — swap for tests / custom auth."""
    import json
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return json.loads(resp.read())


def make_multicall_fn(
    rpc_url: str,
    governor_address: str,
    multicall_address: str = MULTICALL3_ADDRESS,
    post: PostFn = http_json_rpc,
    block_tag: str = "latest",
):
    """A ready-to-use ``MulticallFn`` for :func:`..rpc.refresh_proposal_states`:
    hex proposal ids -> ``{id: rawState}`` via ONE ``eth_call`` to
    Multicall3 per batch. Failed inner calls are dropped from the map
    (parity with the reference's warn-and-skip,
    ``blockProposalStateStrategy.ts:54-61``)."""

    def multicall_fn(ids: list[str]) -> dict[str, int]:
        if not ids:
            return {}
        calls = [
            (governor_address, True, encode_state_call(int(i, 16))) for i in ids
        ]
        payload = {
            "jsonrpc": "2.0",
            "id": 1,
            "method": "eth_call",
            "params": [
                {"to": multicall_address, "data": "0x" + encode_aggregate3(calls).hex()},
                block_tag,
            ],
        }
        resp = post(rpc_url, payload)
        if "error" in resp:
            raise RuntimeError(f"eth_call failed: {resp['error']}")
        raw = bytes.fromhex(resp["result"][2:])
        out: dict[str, int] = {}
        for pid, (success, ret) in zip(ids, decode_aggregate3(raw)):
            if success and len(ret) >= 32:
                out[pid] = decode_uint256(ret)
        return out

    return multicall_fn


def multicall_fn_for_network(
    network: str,
    governor_address: str,
    multicall_address: str = MULTICALL3_ADDRESS,
    post: PostFn = http_json_rpc,
    block_tag: str = "latest",
):
    """:func:`make_multicall_fn` with the RPC URL resolved from the
    named chain registry (``streaming.chain.CHAINS`` — parity
    ``createClient.ts:8-17`` + ``config/chain.ts:15-24``), so the S6
    enrichment path composes with the same mainnet/testnet/regtest
    names the chain client uses."""
    from rootstock_collective_state_sync_spark.streaming.chain import CHAINS

    spec = CHAINS.get(network)
    if spec is None:
        raise ValueError(f"Unsupported network: {network}")
    return make_multicall_fn(
        spec.rpc_url,
        governor_address,
        multicall_address=multicall_address,
        post=post,
        block_tag=block_tag,
    )
