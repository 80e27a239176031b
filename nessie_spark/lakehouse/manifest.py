"""Manifest rewrite: coalesce many small manifests via tree aggregation.

north_star (BASELINE.json:6): "manifest rewrite as a treeAggregate over
manifest-entry DataFrames". The entry count comes from the manifest list's
``n_entries``, so sizing the rewrite reads no manifest and starts no job.

When ``scan.on_driver`` accepts the entry count, the rewrite runs on the
driver: one pyarrow sort of the entries on the range key, split into
``n_out`` contiguous slices, each written by ``_write_manifest``. A Spark
job would cost more than the work.

Otherwise it runs as Spark jobs in the partial+final aggregation shape:

    entries → repartitionByRange(n_out, min_key)      [sampled range exchange]
            → mapInArrow writes one manifest per range bucket
              (``_write_manifest``), emitting a one-row summary
                                                       [partial aggregate]
            → driver folds the n_out summaries into the manifest list
              and commits                               [final aggregate]

This is the two-level ``treeAggregate(zero, seqOp, combOp, depth=2)``
re-expressed in DataFrame form so Catalyst handles distribution; entries
never collect to the driver (only the n_out summaries do).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from nessie_spark.lakehouse import scan as _scan
from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA, Table


@dataclass
class ManifestRewriteResult:
    snapshot_id: int | None
    manifests_before: int
    manifests_after: int
    entries: int


SUMMARY_DDL = (
    "manifest_path string, n_entries long, record_count long, "
    "file_size_bytes long, min_key string, max_key string, partition string"
)


def _write_manifest(root: str, tbl: pa.Table, bucket: int) -> dict | None:
    """Write ``tbl``'s entries, sorted by (partition, min_key), as one
    manifest under ``root``; return its manifest-list row (None when
    empty). Runs in a Spark task or on the driver."""
    tbl = tbl.cast(FILE_ENTRY_SCHEMA)
    if tbl.num_rows == 0:
        return None
    tbl = tbl.sort_by([("partition", "ascending"), ("min_key", "ascending")])
    rel = f"metadata/manifest-rw{bucket:04d}-{uuid.uuid4().hex[:12]}.parquet"
    pq.write_table(tbl, os.path.join(root, rel))
    return {
        "manifest_path": rel,
        "n_entries": tbl.num_rows,
        "record_count": int(pc.sum(tbl.column("record_count")).as_py() or 0),
        "file_size_bytes": int(pc.sum(tbl.column("file_size_bytes")).as_py() or 0),
        "min_key": pc.min(tbl.column("min_key")).as_py(),
        "max_key": pc.max(tbl.column("max_key")).as_py(),
        "partition": (
            tbl.column("partition")[0].as_py()
            if (
                pc.count_distinct(tbl.column("partition")).as_py() == 1
                and tbl.column("partition")[0].as_py()
            )
            else None
        ),
    }


def rewrite_manifests(
    spark: SparkSession, table: Table, target_manifests: int | None = None
) -> ManifestRewriteResult:
    """Rewrite the current snapshot's manifests into ``target_manifests``
    (default: one per 100k entries, min 1), sorted by min_key within each."""
    before = table.manifest_summaries()
    n_entries = sum(m["n_entries"] or 0 for m in before)
    if n_entries == 0:
        return ManifestRewriteResult(None, len(before), 0, 0)
    n_out = target_manifests or max(1, (n_entries + 99_999) // 100_000)
    root = table.root

    # bucket by key-range rank (sampled range exchange), NOT by hash: each
    # output manifest covers a narrow, near-disjoint [min_key, max_key]
    # slice, so the manifest LIST's own ranges prune whole manifests for
    # point lookups and key-range scans (scan.prune_manifest_summaries) —
    # Iceberg's first pruning tier. Hash bucketing would give every
    # manifest the full key width and make that tier useless. On
    # hidden-partitioned tables the partition value LEADS the range key
    # (Iceberg groups manifests per partition): most output manifests then
    # cover one value, get a partition label, and a pinned scan drops them
    # at tier 1 before reading a single entry.
    from nessie_spark.lakehouse.partition import table_spec

    range_cols = (
        ["partition", "min_key", "file_path"]
        if table_spec(table)
        else ["min_key", "file_path"]
    )
    if _scan.on_driver(spark, entries=n_entries):
        # nulls first, as Spark's ascending range key orders them
        entries = table.file_entries(
            paths=[os.path.join(root, m["manifest_path"]) for m in before]
        ).sort_by([(c, "ascending") for c in range_cols], null_placement="at_start")
        n = entries.num_rows
        carried = []
        for b in range(n_out):
            lo, hi = b * n // n_out, (b + 1) * n // n_out
            row = _write_manifest(root, entries.slice(lo, hi - lo), b)
            if row is not None:
                carried.append(row)
    else:
        ranged = table.files_df(spark).repartitionByRange(n_out, *range_cols)

        def _write_bucket(batches):
            from pyspark import TaskContext

            chunks = [pa.Table.from_batches([bt]) for bt in batches]
            if not chunks:
                return
            row = _write_manifest(
                root, pa.concat_tables(chunks), TaskContext.get().partitionId()
            )
            if row is not None:
                yield pa.RecordBatch.from_pylist([row])

        from nessie_spark.session import no_coalesce

        with no_coalesce(spark):
            summaries = ranged.mapInArrow(_write_bucket, SUMMARY_DDL).collect()
        carried = [r.asDict() for r in summaries]
    snap = table.commit(
        "rewrite-manifests",
        added=None,
        carried_manifest_summaries=carried,
        summary={"manifests_before": len(before), "manifests_after": len(carried)},
    )
    return ManifestRewriteResult(snap, len(before), len(carried), n_entries)
