"""Proposal-state refresh through batched RPC (multicall), on the driver.

Parity: the reference batches N ``state(proposalId)`` eth_calls into
one multicall and diff-updates rows whose on-chain state changed
(``blockProposalStateStrategy.ts:29-131`` — S6 + J1 + K2).

Shape: the live proposals are read with ``read_arrow`` (no Spark job),
their ids go out ``MULTICALL_BATCH`` to a call, and only the rows whose
state differs are relabeled and merged back as one Arrow batch through
the driver merge. The calls and the merge follow the live proposals;
the read is one driver-side pass over the table's files.

The RPC callable is injectable; :func:`.abi.make_multicall_fn` is the
production default — a pure-Python ``state(uint256)`` ABI encoder +
Multicall3 ``aggregate3`` batch posted as one ``eth_call`` over
JSON-RPC (this container has no chain endpoint, so tests supply a
deterministic fake or a canned JSON-RPC ``post``).
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc

from rootstock_collective_state_sync_spark.sinks import VersionedTable, merge_upsert

# rawState enum -> label (blockProposalStateStrategy.ts:9-18)
PROPOSAL_STATES = (
    "Pending",
    "Active",
    "Canceled",
    "Defeated",
    "Succeeded",
    "Queued",
    "Expired",
    "Executed",
)

# the reference refreshes only proposals still in flight (:20-27)
LIVE_RAW_STATES = (0, 1, 4, 5)

#: ids per multicall
MULTICALL_BATCH = 500

MulticallFn = Callable[[list[str]], dict[str, int]]


def _no_rpc(ids: list[str]) -> dict[str, int]:
    raise NotImplementedError(
        "no RPC endpoint configured: pass multicall_fn="
        "abi.make_multicall_fn(rpc_url, governor_address) or your own "
        "batched eth_call implementation (takes hex ids, returns id -> state)"
    )


def state_label(raw: int) -> str:
    """C4: the label of a ``rawState`` value; out of range is ``Unknown``."""
    return PROPOSAL_STATES[raw] if 0 <= raw < len(PROPOSAL_STATES) else "Unknown"


def refresh_proposal_states(
    table: VersionedTable,
    multicall_fn: MulticallFn = _no_rpc,
) -> int:
    """S6+J1+K2 end-to-end: read live proposals, fetch on-chain states
    in batched RPC calls, merge back ONLY the rows whose state
    differs. Returns the new table version (the current one when no
    state changed). Starts no Spark job."""
    rows = table.read_arrow()
    live = rows.filter(pc.is_in(rows["rawState"], value_set=pa.array(LIVE_RAW_STATES, rows["rawState"].type)))
    ids = ["0x" + b.hex() for b in live["id"].to_pylist()]
    stored = live["rawState"].to_pylist()
    changed, raw = [], []
    for i in range(0, len(ids), MULTICALL_BATCH):
        chunk = ids[i : i + MULTICALL_BATCH]
        states = multicall_fn(chunk)
        # ids the call dropped (inner-call failure) are skipped, not
        # errored — reference warn-and-skip semantics
        # (blockProposalStateStrategy.ts:54-61)
        for j, x in enumerate(chunk, start=i):
            if x in states and int(states[x]) != stored[j]:
                changed.append(j)
                raw.append(int(states[x]))
    out = live.take(changed)
    for name, values in (("rawState", raw), ("state", [state_label(r) for r in raw])):
        i = out.schema.get_field_index(name)
        out = out.set_column(i, name, pa.array(values, out.schema.field(i).type))
    return merge_upsert(table, out)
