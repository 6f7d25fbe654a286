"""Targeted deletion ("right to be forgotten") over a
:class:`.table.VersionedTable` — the governance counterpart of
:func:`..operators.profile.k_anonymity_census`: once a privacy review
says rows must go, :func:`forget_keys` removes them without rewriting
the table.

It rewrites ONLY the buckets containing the doomed keys (the bucket
assignment is the same stable ``bucket_expr`` hash the upsert sink
uses, so the affected bucket set is computable from the keys alone — a
control-plane value ≤ num_buckets). Unaffected buckets keep their exact
files; readers on the previous version are untouched until the new
version's manifest is committed. At 100 TB with K doomed users this
touches K buckets' worth of data, not the corpus.

Versioned tables keep older snapshots for time travel, so a forget
alone leaves the doomed rows readable at older versions, and their
files on disk. ``table.vacuum(retain_last=1, grace_seconds=0.0)``, run
after the forget commit once readers and writers have drained, drops
every older manifest and every file the tip does not reference: the
step that makes deletion real.

Cite: reference ``schema.ts:10-49`` for the blue/green publish
semantics this builds on; the bucket-pruned rewrite mirrors
``VersionedTable.diff``'s manifest-level pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rootstock_collective_state_sync_spark.sinks.table import (
    VersionedTable,
    bucket_expr,
)


def forget_keys(
    table: VersionedTable,
    doomed: DataFrame,
    meta_note: str = "forget_keys",
) -> int:
    """Delete every row of ``table`` whose merge-key tuple appears in
    ``doomed`` (a DataFrame carrying the table's merge-key columns).
    Only the buckets that can contain a doomed key are rewritten;
    returns the new committed version."""
    m = table.manifest()
    keys = m.merge_keys
    doomed_keys = doomed.select(*keys).distinct()
    affected = sorted(
        r["b"]
        for r in doomed_keys.select(
            bucket_expr(keys, m.num_buckets).alias("b")
        )
        .distinct()
        .collect()  # control-plane: <= num_buckets ints
    )
    present = [str(b) for b in affected if str(b) in m.buckets]
    if not present:
        return m.version  # no bucket holds any doomed key: no-op
    survivors = table.read(buckets=[int(b) for b in present]).join(
        doomed_keys, keys, "left_anti"
    )
    written = table._write_tx(survivors, m.num_buckets, keys)
    # buckets whose rows were all doomed produce no files — drop them
    replaced = {b: written.get(b, []) for b in present}
    return table.commit_buckets(
        replaced,
        m.version,
        meta={"forget": meta_note, "forgotten_buckets": present},
    )

