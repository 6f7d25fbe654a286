"""Sinks: engine-managed versioned tables + keyed idempotent upsert.

Parity targets: the reference's batched ``INSERT … ON CONFLICT (pk) DO
UPDATE`` writer (``src/handlers/dbUpsert.ts:50-85``), its DDL creator
(``src/handlers/dbCreator.ts:180-223``) and its atomic blue/green
schema swap (``src/handlers/schema.ts:10-49``).
"""

from rootstock_collective_state_sync_spark.sinks.export import (
    export_training_shards,
    shard_manifest,
    validate_export,
)
from rootstock_collective_state_sync_spark.sinks.table import TableCatalog, VersionedTable
from rootstock_collective_state_sync_spark.sinks.upsert import merge_upsert

__all__ = [
    "TableCatalog",
    "VersionedTable",
    "export_training_shards",
    "merge_upsert",
    "shard_manifest",
    "validate_export",
]
