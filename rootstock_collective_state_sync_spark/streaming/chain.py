"""Chain client abstraction (the engine's view of JSON-RPC).

The reference talks to the chain through viem (``watchBlocks`` +
``getBlock``, ``src/watchers/blockWatcher.ts:162-174``,
``reorgCleanupStrategy.ts:33-36``) against a named chain registry
(``src/client/createClient.ts:1-25``, ``src/config/chain.ts:15-24``);
the engine needs exactly two control-plane reads: the head block and
a block header by number. Implementations: :class:`HttpChain` (plain
JSON-RPC 2.0 over an injectable transport — driver-side HTTP; header
reads are control plane, never a DataFrame op) and deterministic
in-memory / file-backed chains for tests.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Protocol

from rootstock_collective_state_sync_spark.sources.graphql import Transport, http_transport


@dataclass(frozen=True)
class Block:
    number: int
    hash: str  # 0x… hex
    timestamp: int
    parent_hash: str = ""


class ChainClient(Protocol):
    def head_block(self) -> Block: ...

    def get_block(self, number: int) -> Block | None: ...


class ChainRpcError(RuntimeError):
    pass


@dataclass(frozen=True)
class ChainSpec:
    """A named chain: id + default public RPC endpoint (all public
    knowledge — Rootstock docs; parity ``config/chain.ts:15-24``)."""

    chain_id: int
    name: str
    rpc_url: str
    currency: str


#: Named registry, keyed like the reference's ``CHAINS`` map
#: (``config/chain.ts:20-24``): mainnet/testnet from the public
#: Rootstock nodes, regtest a local node.
CHAINS: dict[str, ChainSpec] = {
    "mainnet": ChainSpec(30, "Rootstock Mainnet", "https://public-node.rsk.co", "RBTC"),
    "testnet": ChainSpec(
        31, "Rootstock Testnet", "https://public-node.testnet.rsk.co", "tRBTC"
    ),
    "regtest": ChainSpec(33, "RSK Regtest", "http://localhost:4444", "tRBTC"),
}


def _hex_int(v: str | int) -> int:
    return int(v, 16) if isinstance(v, str) else int(v)


@dataclass
class HttpChain:
    """JSON-RPC chain client (``eth_blockNumber`` implied by
    ``eth_getBlockByNumber('latest')``; parity with viem's
    ``getBlock``/``watchBlocks`` reads, ``createClient.ts:19-22``).
    The transport is injectable exactly like
    :class:`..sources.graphql.SubgraphClient`'s, so every sync/reorg
    e2e runs against an in-process fake — and production posts with
    :func:`..sources.graphql.http_transport` to a registry URL."""

    rpc_url: str
    transport: Transport = field(default=http_transport)
    #: transient-transport retries (parity with viem's default
    #: retryCount=3). Only TRANSPORT exceptions retry — a JSON-RPC
    #: `error` member is the node answering and retrying it would
    #: just repeat the answer.
    retries: int = 3
    retry_backoff_s: float = 0.15
    _next_id: int = 1

    @classmethod
    def from_network(
        cls, network: str, transport: Transport = http_transport
    ) -> "HttpChain":
        """Resolve a named chain (reference ``createClient.ts:8-17``
        semantics: non-string config is a TypeError, unknown names
        raise with the offending value)."""
        if not network:
            raise TypeError("network name is required")
        if not isinstance(network, str):
            raise TypeError("only a single network name is supported")
        spec = CHAINS.get(network)
        if spec is None:
            raise ValueError(f"Unsupported network: {network}")
        return cls(rpc_url=spec.rpc_url, transport=transport)

    def _call(self, method: str, params: list) -> dict | str | None:
        import time

        body = {
            "jsonrpc": "2.0",
            "id": self._next_id,
            "method": method,
            "params": params,
        }
        self._next_id += 1
        last: Exception | None = None
        for attempt in range(self.retries + 1):
            try:
                resp = self.transport(self.rpc_url, body)
            except ChainRpcError:
                raise  # a fake/typed protocol error is not transient
            except Exception as e:  # transport failure: retry
                last = e
                if attempt < self.retries and self.retry_backoff_s > 0:
                    time.sleep(self.retry_backoff_s * (2**attempt))
                continue
            if "error" in resp and resp["error"]:
                raise ChainRpcError(f"{method}: {resp['error']}")
            return resp.get("result")
        raise ChainRpcError(
            f"{method}: transport failed after {self.retries + 1} attempts"
        ) from last

    def _to_block(self, raw: dict) -> Block:
        return Block(
            number=_hex_int(raw["number"]),
            hash=raw["hash"],
            timestamp=_hex_int(raw.get("timestamp", 0)),
            parent_hash=raw.get("parentHash", ""),
        )

    def head_block(self) -> Block:
        raw = self._call("eth_getBlockByNumber", ["latest", False])
        if raw is None:
            raise ChainRpcError("node returned no latest block")
        return self._to_block(raw)

    def get_block(self, number: int) -> Block | None:
        raw = self._call("eth_getBlockByNumber", [hex(number), False])
        return None if raw is None else self._to_block(raw)


class StaticChain:
    """In-memory chain for tests and batch replays."""

    def __init__(self, blocks: list[Block]):
        self._by_number = {b.number: b for b in blocks}
        self._head = max(self._by_number) if blocks else 0

    def head_block(self) -> Block:
        return self._by_number[self._head]

    def get_block(self, number: int) -> Block | None:
        return self._by_number.get(number)


class FileChain:
    """File-backed chain: a JSON array of blocks. Picklable by path,
    so Spark executor workers (streaming source partitions) can read
    it; tests append/replace blocks to simulate growth and reorgs."""

    def __init__(self, path: str | Path):
        self.path = str(path)

    def _blocks(self) -> dict[int, Block]:
        raw = json.loads(Path(self.path).read_text())
        return {
            int(b["number"]): Block(
                number=int(b["number"]),
                hash=b["hash"],
                timestamp=int(b.get("timestamp", 0)),
                parent_hash=b.get("parentHash", ""),
            )
            for b in raw
        }

    def head_block(self) -> Block:
        blocks = self._blocks()
        return blocks[max(blocks)]

    def get_block(self, number: int) -> Block | None:
        return self._blocks().get(number)


def synthetic_blocks(
    start: int, count: int, fork_tag: str = "a", start_ts: int = 1_700_000_000
) -> list[Block]:
    """Deterministic block headers; ``fork_tag`` yields a different
    hash lineage (reorg fixtures, FIXTURES.md F9)."""
    import hashlib

    out = []
    parent = ""
    for n in range(start, start + count):
        h = "0x" + hashlib.md5(f"{fork_tag}:{n}".encode()).hexdigest()
        out.append(
            Block(number=n, hash=h, timestamp=start_ts + 30 * n, parent_hash=parent)
        )
        parent = h
    return out
