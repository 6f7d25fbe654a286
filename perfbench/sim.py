"""Seeded, indexed simulator of a subgraph endpoint and its chain.

One :class:`World` plays both sides the engine talks to: the GraphQL
transport (``(url, body) -> dict``) and the chain client
(``head_block`` / ``get_block``). Everything is derived from a seed,
so an executor worker that imports :func:`transport` by
``perfbench.sim:transport`` rebuilds the identical corpus from the
URL alone (:func:`spec_url`), with no shared files or sockets.

Indexes keep every request proportional to its answer, not to the
corpus: a sorted id list per entity (keyset pages by binary search on
``id_gt`` / ``id_lt``), a change-block index (``_change_block:
{number_gte}``) and a creation-block index (``<col>_gt`` /
``<col>_gte`` on the block column). Each record keeps its version
history, so a reorg truncates exactly the changes above the fork point.

Branch policy on a reorg: vote and proposal changes on the new branch
are drawn afresh, while claim events are re-mined at the same height.
The engine's append-only strategy commits without a block stamp, so a
branch that dropped a claim would leave an orphaned row behind; the
benchmark measures the engine on the inputs it handles correctly.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import json
import os
import random
import re
import time
from dataclasses import asdict, dataclass
from urllib.parse import parse_qsl, urlencode, urlsplit

from rootstock_collective_state_sync_spark.streaming.chain import Block

CHANGELOG = "BlockChangeLog"
GENESIS_TS = 1_700_000_000

#: creation-block column per entity (the one the strategies filter on)
BLOCK_COL = {
    CHANGELOG: "blockNumber",
    "VoteCast": "blockNumber",
    "ClaimedRewardsHistory": "blockNumber",
    "Proposal": "createdAtBlock",
}

_QUERY_RE = re.compile(r"(\w+?)_(\d+): (\w+)(\(([^)]*)\))? \{")
_KEY_RE = re.compile(r"(\w+):")


@dataclass(frozen=True)
class Spec:
    """Corpus shape and per-block change mix; all counts are rows."""

    seed: int
    accounts: int = 500
    proposals: int = 100
    votes: int = 20_000
    claims: int = 2_000
    history: int = 500  # blocks in the corpus
    new_votes: int = 20  # per followed block
    updated_votes: int = 10
    new_claims: int = 3
    proposal_every: int = 5  # a new proposal every n blocks
    updated_proposals: int = 3
    active: int = 90  # proposals change only while younger than this
    window: int = 100  # the engine's look-back, > active + deepest reorg


def spec_url(spec: Spec, log: str | None = None) -> str:
    """URL that identifies ``spec``; ``log`` names a file where each
    worker-side request appends its busy seconds."""
    q = asdict(spec)
    if log:
        q["log"] = log
    return "sim://corpus?" + urlencode(q)


def spec_from_url(url: str) -> tuple[Spec, str | None]:
    q = dict(parse_qsl(urlsplit(url).query))
    log = q.pop("log", None)
    return Spec(**{k: int(v) for k, v in q.items()}), log


def _parse_args(argstr: str) -> dict:
    out: dict = {}
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
        out["where"] = json.loads(_KEY_RE.sub(r'"\1":', m.group(1)))
    return out


class _Table:
    """One entity's versioned records plus its three indexes."""

    def __init__(self):
        self.ids: list[str] = []  # sorted live ids
        self.versions: dict[str, list[tuple[int, dict]]] = {}
        self.changed: dict[int, set[str]] = {}  # latest-change block -> ids
        self.created: dict[int, list[str]] = {}  # creation block -> ids

    def current(self, rid: str) -> dict:
        return self.versions[rid][-1][1]


class World:
    """Chain + subgraph state, advanced and reorged block by block."""

    def __init__(self, spec: Spec, lazy: bool = False):
        """``lazy`` defers the two large corpus tables until a request
        names them, so an executor worker builds only what it serves."""
        t0 = time.perf_counter()
        self.spec = spec
        self.tables = {name: _Table() for name in BLOCK_COL}
        self.blocks: list[Block] = [Block(0, self._hash(0, 0), GENESIS_TS)]
        self.touched: dict[int, list[tuple[str, str]]] = {}
        self.fork = 0
        self.busy_s = 0.0
        self.requests = 0
        self._pending = self._corpus()
        if not lazy:
            for entity in list(self._pending):
                self.table(entity)
        self.busy_s += time.perf_counter() - t0

    def table(self, entity: str) -> _Table:
        build = self._pending.pop(entity, None)
        if build is not None:
            build()
            self.tables[entity].ids.sort()
        return self.tables[entity]

    # -- chain client ---------------------------------------------------------

    def _hash(self, fork: int, n: int) -> str:
        h = hashlib.blake2b(f"{self.spec.seed}:{fork}:{n}".encode(), digest_size=32)
        return "0x" + h.hexdigest()

    @property
    def head(self) -> int:
        return self.blocks[-1].number

    def head_block(self) -> Block:
        return self.blocks[-1]

    def get_block(self, number: int) -> Block | None:
        return self.blocks[number] if 0 <= number < len(self.blocks) else None

    # -- change log ------------------------------------------------------------

    def _apply(self, n: int, entity: str, rec: dict, bulk: bool = False) -> None:
        t = self.tables[entity]
        rid = rec["id"]
        vs = t.versions.get(rid)
        if vs is None:
            t.versions[rid] = [(n, rec)]
            if bulk:
                t.ids.append(rid)
            else:
                bisect.insort(t.ids, rid)
            t.created.setdefault(n, []).append(rid)
        else:
            t.changed[vs[-1][0]].discard(rid)
            vs.append((n, rec))
        t.changed.setdefault(n, set()).add(rid)
        if not bulk:  # the corpus is never reorged
            self.touched.setdefault(n, []).append((entity, rid))

    def _new_block(self) -> Block:
        n = self.head + 1
        b = Block(n, self._hash(self.fork, n), GENESIS_TS + 30 * n, self.blocks[-1].hash)
        self.blocks.append(b)
        return b

    def _changelog(self, b: Block, bulk: bool = False) -> None:
        self._apply(
            b.number,
            CHANGELOG,
            {
                "id": b.hash,
                "blockNumber": str(b.number),
                "blockTimestamp": str(b.timestamp),
                "updatedEntities": ["VoteCast"],
            },
            bulk,
        )

    # -- record makers ----------------------------------------------------------

    @staticmethod
    def _rid(rng: random.Random, nbytes: int = 16) -> str:
        return f"0x{rng.getrandbits(8 * nbytes):0{2 * nbytes}x}"

    def _vote(self, rng: random.Random, rid: str, created: int) -> dict:
        return {
            "id": rid,
            "voter": rng.choice(self._accounts),
            "proposal": {"id": rng.choice(self._proposal_refs)},
            "support": rng.randrange(3),
            "weight": str(rng.randrange(10**18, 10**24)),
            "reason": f"r{rng.randrange(10**6)}",
            "blockNumber": str(created),
        }

    def _proposal(self, rng: random.Random, rid: str, created: int) -> dict:
        raw = rng.randrange(8)
        return {
            "id": rid,
            "description": f"proposal-{rng.randrange(10**9)}",
            "votesFor": str(rng.randrange(10**24)),
            "votesAgainst": str(rng.randrange(10**24)),
            "state": ["Pending", "Active", "Canceled", "Defeated",
                      "Succeeded", "Queued", "Expired", "Executed"][raw],
            "rawState": raw,
            "createdAtBlock": str(created),
            "proposer": rng.choice(self._accounts),
        }

    def _claim(self, rng: random.Random, n: int) -> dict:
        return {
            "id": self._rid(rng),
            "backer": None if rng.random() < 0.1 else rng.choice(self._accounts),
            "amount": str(rng.randrange(10**15, 10**21)),
            "blockNumber": str(n),
        }

    def _corpus(self) -> dict:
        """Account ids, proposals and the change log now; votes and
        claims on first use. Each entity draws from its own seeded stream."""
        s = self.spec
        rng = random.Random(f"{s.seed}:accounts")
        self._accounts = [self._rid(rng, 20) for _ in range(s.accounts)]
        for _ in range(s.history):
            self._changelog(self._new_block(), bulk=True)
        rng = random.Random(f"{s.seed}:proposals")
        self._proposal_refs = []
        for i in range(s.proposals):
            n = 1 + i * s.history // s.proposals
            rid = self._rid(rng, 32)
            self._proposal_refs.append(rid)
            self._apply(n, "Proposal", self._proposal(rng, rid, n), bulk=True)
        for name in (CHANGELOG, "Proposal"):
            self.tables[name].ids.sort()
        rng = random.Random(f"{s.seed}:votes")
        self._corpus_votes = [self._rid(rng) for _ in range(s.votes)]

        def votes():
            for i, rid in enumerate(self._corpus_votes):
                n = 1 + i * s.history // s.votes
                self._apply(n, "VoteCast", self._vote(rng, rid, n), bulk=True)

        def claims():
            crng = random.Random(f"{s.seed}:claims")
            for i in range(s.claims):
                n = 1 + i * s.history // s.claims
                self._apply(n, "ClaimedRewardsHistory", self._claim(crng, n), bulk=True)

        return {"VoteCast": votes, "ClaimedRewardsHistory": claims}

    # -- following the chain ---------------------------------------------------

    def advance(self, new_votes: int | None = None, updated_votes: int | None = None) -> Block:
        """Mine one block with the spec's change mix (vote counts may
        be overridden, e.g. for large catch-up blocks)."""
        t0 = time.perf_counter()
        s = self.spec
        b = self._new_block()
        n = b.number
        rng = random.Random(f"{s.seed}:{self.fork}:{n}")
        nv = s.new_votes if new_votes is None else new_votes
        uv = s.updated_votes if updated_votes is None else updated_votes
        for rid in rng.sample(self._corpus_votes, min(uv, len(self._corpus_votes))):
            created = int(self.tables["VoteCast"].current(rid)["blockNumber"])
            self._apply(n, "VoteCast", self._vote(rng, rid, created))
        for _ in range(nv):
            self._apply(n, "VoteCast", self._vote(rng, self._rid(rng), n))
        props = self.tables["Proposal"]
        young = [
            rid
            for c in range(max(n - s.active + 1, 0), n)
            for rid in props.created.get(c, ())
        ]
        for rid in rng.sample(young, min(s.updated_proposals, len(young))):
            created = int(props.current(rid)["createdAtBlock"])
            self._apply(n, "Proposal", self._proposal(rng, rid, created))
        if n % s.proposal_every == 0:
            self._apply(n, "Proposal", self._proposal(rng, self._rid(rng, 32), n))
        claim_rng = random.Random(f"{s.seed}:claims:{n}")  # same on every branch
        for _ in range(s.new_claims):
            self._apply(n, "ClaimedRewardsHistory", self._claim(claim_rng, n))
        self._changelog(b)
        self.busy_s += time.perf_counter() - t0
        return b

    def reorg(self, depth: int) -> int:
        """Orphan the top ``depth`` blocks and mine a new branch one
        block longer; returns the common ancestor's height."""
        t0 = time.perf_counter()
        ancestor = self.head - depth
        for n in range(self.head, ancestor, -1):
            for entity, rid in reversed(self.touched.pop(n, [])):
                t = self.tables[entity]
                vs = t.versions[rid]
                vs.pop()
                t.changed[n].discard(rid)
                if vs:
                    t.changed[vs[-1][0]].add(rid)
                else:
                    del t.versions[rid]
                    del t.ids[bisect.bisect_left(t.ids, rid)]
            for t in self.tables.values():
                t.changed.pop(n, None)
                t.created.pop(n, None)
        del self.blocks[ancestor + 1 :]
        self.fork += 1
        self.busy_s += time.perf_counter() - t0
        for _ in range(depth + 1):
            self.advance()
        return ancestor

    # -- canonical state (correctness checks) ----------------------------------

    def fold(self, entity: str) -> dict[str, dict]:
        t = self.table(entity)
        return {rid: t.current(rid) for rid in t.ids}

    # -- subgraph endpoint -------------------------------------------------------

    def _select(self, entity: str, args: dict) -> list[dict]:
        t = self.table(entity)
        where = dict(args.get("where") or {})
        id_gt = where.pop("id_gt", None)
        id_lt = where.pop("id_lt", None)
        cand: set[str] | None = None
        cb = where.pop("_change_block", None)
        if cb is not None:
            cand = set()
            for n in range(int(cb["number_gte"]), self.head + 1):
                cand |= t.changed.get(n, set())
        col = BLOCK_COL[entity]
        for key, val in where.items():
            if col is None or not key.startswith(col + "_"):
                raise ValueError(f"unsupported filter {key!r} on {entity}")
            op = key[len(col) + 1 :]
            lo = {"gt": int(val) + 1, "gte": int(val)}.get(op)
            if lo is None:
                raise ValueError(f"unsupported filter {key!r} on {entity}")
            ids = {rid for n in range(max(lo, 0), self.head + 1) for rid in t.created.get(n, ())}
            cand = ids if cand is None else cand & ids
        base = t.ids if cand is None else sorted(cand)
        lo_i = bisect.bisect_right(base, id_gt) if id_gt is not None else 0
        hi_i = bisect.bisect_left(base, id_lt) if id_lt is not None else len(base)
        first = args.get("first", hi_i - lo_i)
        if args.get("orderBy", "id") != "id":
            raise ValueError(f"unsupported orderBy {args['orderBy']!r}")
        if args.get("orderDirection") == "desc":
            picked = base[max(hi_i - first, lo_i) : hi_i][::-1]
        else:
            picked = base[lo_i : min(lo_i + first, hi_i)]
        return [t.current(rid) for rid in picked]

    def transport(self, url: str, body: dict) -> dict:
        t0 = time.perf_counter()
        self.requests += 1
        data = {}
        for m in _QUERY_RE.finditer(body["query"]):
            entity, idx, _, _, argstr = m.groups()
            data[f"{entity}_{idx}"] = self._select(entity, _parse_args(argstr or ""))
        if "_meta" in body["query"]:
            b = self.head_block()
            data["_meta"] = {"block": {"number": b.number, "hash": b.hash, "timestamp": b.timestamp}}
        self.busy_s += time.perf_counter() - t0
        return {"data": data}


@functools.lru_cache(maxsize=2)
def _world(spec: Spec) -> World:
    return World(spec, lazy=True)


def transport(url: str, body: dict) -> dict:
    """Executor-importable transport: serves the corpus of the spec in
    ``url`` (built once per worker process)."""
    t0 = time.perf_counter()
    spec, log = spec_from_url(url)
    out = _world(spec).transport(url, body)
    if log:
        with open(log, "a") as fh:
            fh.write(f"{os.getpid()} {time.perf_counter() - t0:.6f}\n")
    return out
