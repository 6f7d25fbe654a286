"""Deterministic fake subgraph endpoint (no sockets).

Importable by Spark executor workers (``transport`` option
``tests.fake_subgraph:transport``), so the DataSource integration test
runs the real partition/pagination machinery end-to-end against
canned data. Emulates The Graph: id-ascending order, ``first`` paging,
``where`` suffix filters, aliased batch documents, ``_meta`` block.
"""

from __future__ import annotations

import json
import re

N_VOTES = 40


def universe() -> list[dict]:
    """40 VoteCast records; first id byte spread over 0x00-0xff so
    id-range partitions each get some rows."""
    records = []
    for i in range(N_VOTES):
        first_byte = (i * 937) % 256
        rid = f"0x{first_byte:02x}{i:06x}"
        records.append(
            {
                "id": rid,
                "voter": {"id": f"0x{'aa' * 19}{i % 7:02x}"},
                "proposal": {"id": f"0x{'bb' * 31}{i % 3:02x}"},
                "support": i % 3,
                "weight": str(10**20 + i),
                "reason": f"reason-{i}",
                "blockNumber": str(1000 + i),
            }
        )
    return sorted(records, key=lambda r: r["id"])


_META = {"block": {"number": 4321, "hash": "0x" + "ee" * 32, "timestamp": 1755000000}}

_QUERY_RE = re.compile(r"(\w+?)_(\d+): (\w+)(\(([^)]*)\))? \{")


def _parse_args(argstr: str) -> dict:
    out = {}
    m = re.search(r"first: (\d+)", argstr)
    if m:
        out["first"] = int(m.group(1))
    m = re.search(r"orderBy: (\w+)", argstr)
    if m:
        out["orderBy"] = m.group(1)
    m = re.search(r"orderDirection: (\w+)", argstr)
    if m:
        out["orderDirection"] = m.group(1)
    m = re.search(r"where: (\{.*\})", argstr)
    if m:
        js = re.sub(r"(\w+):", r'"\1":', m.group(1))
        out["where"] = json.loads(js)
    return out


def _order_key(field: str):
    def key(rec: dict):
        v = rec.get(field)
        if isinstance(v, str) and v.lstrip("-").isdigit():
            return int(v)  # The Graph orders numeric fields numerically
        return v

    return key


def _matches(rec: dict, where: dict) -> bool:
    for key, want in where.items():
        for suffix in ("_gte", "_lte", "_gt", "_lt", "_in"):
            if key.endswith(suffix):
                field = key[: -len(suffix)]
                have = rec.get(field)
                if isinstance(have, str) and isinstance(want, (int, list)):
                    have = int(have) if not isinstance(want, list) else have
                if suffix == "_gt" and not have > want:
                    return False
                if suffix == "_gte" and not have >= want:
                    return False
                if suffix == "_lt" and not have < want:
                    return False
                if suffix == "_lte" and not have <= want:
                    return False
                if suffix == "_in" and have not in want:
                    return False
                break
        else:
            have = rec.get(key)
            if isinstance(have, str) and isinstance(want, int):
                have = int(have)
            if have != want:
                return False
    return True


CALLS: list[str] = []  # same-process call log (driver-side tests)


def transport(url: str, body: dict) -> dict:
    doc = body["query"]
    CALLS.append(doc)
    data = {}
    for m in _QUERY_RE.finditer(doc):
        entity, idx, root, _, args = m.groups()
        parsed = _parse_args(args or "")
        recs = [
            r for r in universe() if _matches(r, parsed.get("where", {}))
        ]
        if "orderBy" in parsed:
            recs = sorted(
                recs,
                key=_order_key(parsed["orderBy"]),
                reverse=parsed.get("orderDirection") == "desc",
            )
        if "first" in parsed:
            recs = recs[: parsed["first"]]
        data[f"{entity}_{idx}"] = recs
    if "_meta" in doc:
        data["_meta"] = _META
    return {"data": data}


def state_transport(url: str, body: dict) -> dict:
    """Transport backed by a JSON state file whose path rides in the
    url (``fake-state://<path>``) — importable by executor workers, so
    a test-built ``World`` (see ``test_streaming.World.dump``) can be
    served through the real partition-parallel DataSource with no
    sockets or cross-process shared memory. State shape:
    ``{entity: [record, ...]}``; ``__``-prefixed bookkeeping keys are
    filterable (``_change_block``) but stripped from responses."""
    path = url.split("://", 1)[1]
    with open(path) as fh:
        state: dict[str, list[dict]] = json.load(fh)
    doc = body["query"]
    data = {}
    for m in _QUERY_RE.finditer(doc):
        entity, idx, root, _, args = m.groups()
        parsed = _parse_args(args or "")
        recs = sorted(state.get(entity, []), key=lambda r: r["id"])
        where = dict(parsed.get("where", {}))
        cb = where.pop("_change_block", None)
        recs = [r for r in recs if _matches(r, where)]
        if cb:
            recs = [r for r in recs if r["__changedAtBlock"] >= int(cb["number_gte"])]
        if "orderBy" in parsed:
            recs = sorted(
                recs,
                key=_order_key(parsed["orderBy"]),
                reverse=parsed.get("orderDirection") == "desc",
            )
        if "first" in parsed:
            recs = recs[: parsed["first"]]
        data[f"{entity}_{idx}"] = [
            {k: v for k, v in r.items() if not k.startswith("__")} for r in recs
        ]
    if "_meta" in doc:
        data["_meta"] = _META
    return {"data": data}


def failing_batch_transport(url: str, body: dict) -> dict:
    """Errors on multi-alias docs — exercises the per-query fallback."""
    doc = body["query"]
    if len(_QUERY_RE.findall(doc)) > 1:
        CALLS.append(doc)
        return {"errors": [{"message": "batch too complex"}]}
    return transport(url, body)


def failing_transport(url: str, body: dict) -> dict:
    """Transport that always errors — exercises planning-probe
    fallback paths."""
    raise ConnectionError("fake transport down")
