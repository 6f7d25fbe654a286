"""GraphQL subgraph query builder + HTTP client.

Builder parity (``src/handlers/subgraphQueryBuilder.ts``):
- root field = pluralized camelCase entity name (``:100-111``);
- field selection = exactly the declared columns, FK columns narrowed
  to ``{ id }`` (``buildFieldSelection``, ``:116-126``);
- arguments: ``first`` (limit, ``:177-179``), ``orderBy`` /
  ``orderDirection`` (``:181-184``), ``where`` with nested objects,
  arrays, quoted strings, bare ints/bools (``formatQueryValue``,
  ``:131-169``, incl. circular-reference guard);
- multi-query batch doc with ``{name}_{i}`` aliases and optional
  ``_meta { block { number hash timestamp } }`` (``buildBatchQuery``,
  ``:15-44``).

Client parity (``src/context/subgraphProvider.ts``): batched POST,
per-entity demux + alias re-keying (``:208-231``), ``_meta`` head info
(``:64-72``), per-query fallback when a batch fails
(``batchExecutor.ts:153-156, 254-264``), request metrics. Transport
is injectable (any ``(url, json_body) -> dict`` callable) so tests and
air-gapped runs never open sockets.

Keyset pagination (``subgraphSyncer.ts:24-37``): ``first: N`` +
``id_gt: cursor`` pages until a short page arrives. The caller's
``where`` (the engine's changelog, append-only and look-back filters)
rides along on every page; the cursor and an optional exclusive
``id_lt`` bound own the id range. The Spark DataSource
(:mod:`.subgraph_source`) walks disjoint id ranges in parallel; this
module provides the single-range loop.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

from rootstock_collective_state_sync_spark.config.types import SchemaContext
from rootstock_collective_state_sync_spark.functions.naming import (
    pluralize_entity_name,
)


class QueryBuilderError(ValueError):
    pass


@dataclass(frozen=True)
class QueryOptions:
    first: int | None = None
    order_by: str | None = None
    order_direction: str | None = None  # "asc" | "desc"
    where: dict[str, Any] | None = None


@dataclass(frozen=True)
class GraphQLRequest:
    query: str  # root-field fragment, e.g. 'voteCasts(first: 10) { id }'
    entity_name: str
    with_metadata: bool = False


def format_query_value(value: Any, _seen: tuple[int, ...] = ()) -> str:
    """Render a Python value as a GraphQL literal.

    Strings are quoted, ints/bools bare (GraphQL booleans are
    lowercase), arrays bracketed, dicts rendered as nested object
    literals. A circular-reference guard rejects self-referential
    structures (parity ``subgraphQueryBuilder.ts:131-169``).
    """
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int,)):
        return str(value)
    if isinstance(value, float):
        raise QueryBuilderError(
            f"float filter values are not portable GraphQL literals: {value!r}"
        )
    if isinstance(value, str):
        return json.dumps(value)
    if isinstance(value, (list, tuple)):
        return "[" + ", ".join(format_query_value(v, _seen) for v in value) + "]"
    if isinstance(value, dict):
        if id(value) in _seen:
            raise QueryBuilderError("circular reference in where filter")
        seen = _seen + (id(value),)
        inner = ", ".join(
            f"{k}: {format_query_value(v, seen)}" for k, v in value.items()
        )
        return "{" + inner + "}"
    if value is None:
        return "null"
    raise QueryBuilderError(f"unsupported filter value: {value!r}")


def build_field_selection(schema: SchemaContext, entity_name: str) -> str:
    """Declared columns only; FK reference columns narrowed to
    ``column { id }`` (projection pushdown at the source)."""
    entity = schema[entity_name]
    parts = []
    for col in entity.columns:
        if schema.is_reference(col):
            parts.append(f"{col.name} {{ id }}")
        else:
            parts.append(col.name)
    return " ".join(parts)


def build_query_arguments(options: QueryOptions | None) -> str:
    if options is None:
        return ""
    args = []
    if options.first is not None:
        args.append(f"first: {options.first}")
    if options.order_by:
        args.append(f"orderBy: {options.order_by}")
        args.append(f"orderDirection: {options.order_direction or 'asc'}")
    if options.where:
        args.append(f"where: {format_query_value(options.where)}")
    return f"({', '.join(args)})" if args else ""


def create_entity_query(
    schema: SchemaContext,
    entity_name: str,
    options: QueryOptions | None = None,
    with_metadata: bool = False,
) -> GraphQLRequest:
    if entity_name not in schema:
        raise QueryBuilderError(f"unknown entity {entity_name!r}")
    root = pluralize_entity_name(entity_name)
    args = build_query_arguments(options)
    fields = build_field_selection(schema, entity_name)
    return GraphQLRequest(
        query=f"{root}{args} {{ {fields} }}",
        entity_name=entity_name,
        with_metadata=with_metadata,
    )


def create_entity_queries(
    schema: SchemaContext,
    entity_names: list[str],
    options: QueryOptions | None = None,
) -> list[GraphQLRequest]:
    return [create_entity_query(schema, n, options) for n in entity_names]


def first_page_request(
    schema: SchemaContext,
    entity_name: str,
    page_size: int,
    where: dict[str, Any] | None = None,
    start_cursor: str = "0x00",
    id_upper_bound: str | None = None,
    with_metadata: bool = False,
) -> GraphQLRequest:
    """The exact first-page query :meth:`SubgraphClient.paginate`
    would issue — factored out so callers can prefetch page 1 of many
    strategies in ONE batched document (cross-strategy coalescing,
    T7/X6; reference ``batchExecutor.ts:78-131``) and hand the records
    back to the per-strategy pagination loop for any remaining pages.

    The cursor and the bound are the page's id range: a ``where`` that
    names ``id_gt`` or ``id_lt`` itself is overridden."""
    w = {**(where or {}), "id_gt": start_cursor}
    if id_upper_bound is not None:
        w["id_lt"] = id_upper_bound
    return create_entity_query(
        schema,
        entity_name,
        QueryOptions(first=page_size, where=w),
        with_metadata=with_metadata,
    )


META_BLOCK = "_meta { block { number hash timestamp } }"


def build_batch_query(requests: list[GraphQLRequest]) -> str:
    """Merge N root-field queries into one aliased document (request
    coalescing, X6): ``{entity}_{i}: {query}``; one ``_meta`` block if
    any request asked for head metadata."""
    parts = []
    for i, req in enumerate(requests):
        parts.append(f"{req.entity_name}_{i}: {req.query}")
    if any(r.with_metadata for r in requests):
        parts.append(META_BLOCK)
    body = "\n  ".join(parts)
    return f"query {{\n  {body}\n}}"


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


Transport = Callable[[str, dict], dict]

#: pages one keyset walk may take before it is taken as not terminating
MAX_PAGES = 100_000


def build_endpoint(url: str, subgraph_id: str, api_key: str | None = None) -> str:
    """C8: final endpoint URL from provider parts (reference
    ``subgraphProvider.ts:270-282``): gateway deployments embed the
    key in the path (``{url}/{apiKey}/{id}``); keyless local/hosted
    nodes use the named route (``{url}/subgraphs/name/{id}``). The
    empty-key case routes named to avoid ``//`` in the path."""
    base = url.rstrip("/")
    if api_key:
        return f"{base}/{api_key}/{subgraph_id}"
    return f"{base}/subgraphs/name/{subgraph_id}"


def mask_api_key(endpoint: str) -> str:
    """C7: redact a path-embedded API key for safe logging (reference
    ``subgraphProvider.ts:99-112``): first path segment longer than 20
    chars (the gateway key position) becomes ``***``; unparseable
    endpoints collapse to a constant so a malformed URL can never leak
    through an error path."""
    from urllib.parse import urlsplit, urlunsplit

    try:
        parts = urlsplit(endpoint)
        if not parts.scheme or not parts.netloc:
            raise ValueError(endpoint)
        segments = [s for s in parts.path.split("/") if s]
        if len(segments) >= 2 and len(segments[0]) > 20:
            segments[0] = "***"
        path = "/" + "/".join(segments) if segments else parts.path
        return urlunsplit((parts.scheme, parts.netloc, path, parts.query, parts.fragment))
    except (ValueError, AttributeError):
        return "[invalid-endpoint]"


def http_transport(url: str, body: dict) -> dict:
    """Default transport: JSON POST (production path). The chain
    client and the multicall post their JSON-RPC bodies with it too."""
    req = urllib.request.Request(
        url,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


class GraphQLError(RuntimeError):
    pass


@dataclass
class SubgraphMeta:
    number: int
    hash: str
    timestamp: int


@dataclass
class SubgraphClient:
    """Executes (batched) GraphQL requests against one endpoint.

    Build the endpoint with :func:`build_endpoint` (or
    :meth:`from_provider`); anything user-facing — ``repr``, error
    text — shows it through :func:`mask_api_key` so a path-embedded
    gateway key cannot leak into logs (C7/C8,
    ``subgraphProvider.ts:99-112,270-282``).
    """

    url: str
    transport: Transport = field(default=http_transport)
    # request metrics (parity: subgraphProvider.ts:27-62) — bounded
    http_requests: int = 0
    queries_sent: int = 0

    @classmethod
    def from_provider(
        cls,
        url: str,
        subgraph_id: str,
        api_key: str | None = None,
        transport: Transport = http_transport,
    ) -> "SubgraphClient":
        return cls(url=build_endpoint(url, subgraph_id, api_key), transport=transport)

    @property
    def masked_url(self) -> str:
        return mask_api_key(self.url)

    def __repr__(self) -> str:  # never expose the raw key
        return f"SubgraphClient(url={self.masked_url!r}, http_requests={self.http_requests})"

    def execute(
        self, requests: list[GraphQLRequest]
    ) -> tuple[dict[str, list[dict]], SubgraphMeta | None]:
        """One batched HTTP round-trip for N requests; demuxes aliased
        results back to per-entity record lists (re-keying
        ``{entity}_{i} -> entity``). On batch failure, falls back to
        per-request execution so one bad query cannot poison the batch
        (parity ``batchExecutor.ts:254-264``)."""
        if not requests:
            return {}, None
        try:
            return self._execute_doc(requests)
        except GraphQLError:
            if len(requests) == 1:
                raise
            # per-query fallback
            collected: dict[str, list[dict]] = {}
            meta = None
            for req in requests:
                data, m = self._execute_doc([req])
                for k, v in data.items():
                    collected.setdefault(k, []).extend(v)
                meta = m or meta
            return collected, meta

    def _execute_doc(
        self, requests: list[GraphQLRequest]
    ) -> tuple[dict[str, list[dict]], SubgraphMeta | None]:
        doc = build_batch_query(requests)
        self.http_requests += 1
        self.queries_sent += len(requests)
        resp = self.transport(self.url, {"query": doc})
        if resp.get("errors"):
            raise GraphQLError(str(resp["errors"]))
        data = resp.get("data") or {}
        collected: dict[str, list[dict]] = {}
        meta = None
        for key, value in data.items():
            if key == "_meta":
                block = (value or {}).get("block") or {}
                meta = SubgraphMeta(
                    number=int(block.get("number", 0)),
                    hash=str(block.get("hash", "")),
                    timestamp=int(block.get("timestamp", 0)),
                )
                continue
            entity = key.rsplit("_", 1)[0]
            collected.setdefault(entity, []).extend(value or [])
        return collected, meta

    def execute_routed(
        self, requests: list[GraphQLRequest]
    ) -> list[list[dict]]:
        """One batched round-trip for N requests, results routed back
        **by request index** (via the ``{entity}_{i}`` alias) instead
        of collapsed per entity — so two strategies querying the same
        entity with different filters each get their own records.
        This is the coalescing primitive ``SyncEngine.run_block`` uses
        to turn N per-strategy HTTP calls into 1 per block (T7/X6,
        reference ``batchExecutor.ts:78-131,181-199``). Falls back to
        per-request execution on batch failure
        (``batchExecutor.ts:254-264``)."""
        if not requests:
            return []
        doc = build_batch_query(requests)
        self.http_requests += 1
        self.queries_sent += len(requests)
        resp = self.transport(self.url, {"query": doc})
        if resp.get("errors"):
            if len(requests) == 1:
                raise GraphQLError(str(resp["errors"]))
            out = []
            for req in requests:
                data, _ = self._execute_doc([req])
                out.append(data.get(req.entity_name, []))
            return out
        data = resp.get("data") or {}
        routed: list[list[dict]] = [[] for _ in requests]
        for key, value in data.items():
            if key == "_meta":
                continue
            _, _, idx = key.rpartition("_")
            routed[int(idx)] = value or []
        return routed

    def paginate(
        self,
        schema: SchemaContext,
        entity_name: str,
        page_size: int,
        where: dict[str, Any] | None = None,
        start_cursor: str = "0x00",
        id_upper_bound: str | None = None,
    ):
        """Keyset pagination generator: yields record pages until a
        short page signals completion (``subgraphSyncer.ts:24-37``).
        ``id_upper_bound`` (exclusive) lets partitioned readers walk
        disjoint id ranges in parallel."""
        cursor = start_cursor
        for _ in range(MAX_PAGES):
            req = first_page_request(
                schema,
                entity_name,
                page_size,
                where=where,
                start_cursor=cursor,
                id_upper_bound=id_upper_bound,
            )
            data, _ = self.execute([req])
            records = data.get(entity_name, [])
            if records:
                yield records
                cursor = records[-1]["id"]
            if len(records) < page_size:
                return
        raise GraphQLError(f"pagination did not terminate after {MAX_PAGES} pages")
