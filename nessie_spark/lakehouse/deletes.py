"""Merge-on-read equality deletes (Iceberg v2 semantics, key = image_id).

``delete_where`` is the WRITE-cheap half: instead of rewriting every data
file that contains a matching row (copy-on-write MERGE), it writes small
*delete files* — parquet key lists — and commits a metadata-only ``delete``
snapshot. Readers subtract the keys at scan time (scan.py applies a
broadcast/sort-merge LEFT ANTI join per applicability group), so a delete
over a 100 TB table costs O(matched keys), not O(matched bytes).

``purge_deletes`` is the READ-cheap half (Iceberg's
``rewrite_data_files``-with-deletes): a copy-on-write rewrite of ONLY the
files that can contain a deleted key (stats-pruned via the same
range-bucketed interval join MERGE uses), after which the table carries no
delete files and every maintenance rewrite runs unencumbered. Each
candidate file is one rewrite unit: it is read by the scan's own pyarrow
merge-on-read reader (``scan._read_partition_table``), and the units run
on the driver or as Spark tasks by the engine's one placement rule
(``scan._map_units``), like compaction bins.

Applicability rule (Iceberg sequence-number semantics, expressed with
snapshot ids — this table allocates ids monotonically along any chain): a
delete committed at snapshot D applies to rows of data files with
``added_snapshot_id < D``. A key re-inserted AFTER the delete lives in a
newer file and is therefore visible — deletes never shadow future appends.
Because maintenance rewrites would give old rows a NEW added_snapshot_id
(silently un-deleting them), compact / zorder / MERGE refuse to run while
delete files are pending; ``purge_deletes`` is the mandated first step.

Reference parity: the reference engine has no lakehouse layer; this module
extends the graft map (SURVEY.md §2.9) the same way expire.py does.
"""

from __future__ import annotations

import os
import uuid
from bisect import bisect_right
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse.table import Table
from nessie_spark.lakehouse.writer import stats_entry_for, write_table_file

DELETE_KEY_DDL = "image_id string"
# Iceberg v2 position-delete layout: (target data file, row position)
POS_DELETE_DDL = "file_path string, pos long"
# keys per delete file: 4M string keys ≈ 60-120 MB parquet — one task each
KEYS_PER_FILE = 4_000_000
# the manifest fields of one delete file (plus ``kind="pos"`` on a
# position delete); for a position delete min/max_key bound target paths
DELETE_FILE_DDL = (
    "file_path string, n_keys long, min_key string, max_key string, "
    "file_size_bytes long"
)
DELETE_FILE_SCHEMA = pa.schema([
    ("file_path", pa.string()), ("n_keys", pa.int64()),
    ("min_key", pa.string()), ("max_key", pa.string()),
    ("file_size_bytes", pa.int64()),
])
# scan-side anti-join broadcasts the key set below this total (metadata sum)
BROADCAST_KEYS_MAX = 4_000_000


def split_delete_kinds(dels: list[dict]) -> tuple[list[dict], list[dict]]:
    """(equality_deletes, position_deletes) — entries default to equality
    for backward compatibility with pre-positional snapshots."""
    eq = [d for d in dels if d.get("kind", "eq") != "pos"]
    pos = [d for d in dels if d.get("kind") == "pos"]
    return eq, pos


@dataclass
class DeleteResult:
    snapshot_id: int | None
    job_id: str
    n_keys: int
    n_delete_files: int


@dataclass
class PurgeResult:
    snapshot_id: int | None
    job_id: str
    rewritten_files: int
    output_files: int
    dropped_delete_files: int


def require_no_pending_deletes(table: Table, op: str) -> None:
    """Guard for copy-on-write rewrites: a rewrite stamps rows with a NEW
    added_snapshot_id, which would lift them out of every pending delete's
    applicability window (added < delete sid) — silent un-deletion."""
    dels = table.delete_files()
    if dels:
        raise ValueError(
            f"{op} refused: table has {len(dels)} pending merge-on-read "
            "delete file(s); run deletes.purge_deletes first (rewrites "
            "re-stamp added_snapshot_id, which would un-delete rows)"
        )


def delete_keys_df(
    spark: SparkSession, table: Table, dels: list[dict]
) -> DataFrame:
    """All keys of the given delete entries as one DataFrame."""
    if not dels:
        return spark.createDataFrame([], DELETE_KEY_DDL)
    paths = [os.path.join(table.root, d["file_path"]) for d in dels]
    return spark.read.schema(DELETE_KEY_DDL).parquet(*paths)


def anti_join_deletes(
    df: DataFrame, keys: DataFrame, total_keys: int
) -> DataFrame:
    """``df`` minus rows whose image_id is in ``keys``. Small key sets
    broadcast (the target side — the 100 TB scan — never shuffles); past
    the threshold Spark's sort-merge anti with AQE handles it."""
    side = F.broadcast(keys) if total_keys <= BROADCAST_KEYS_MAX else keys
    return df.join(side, "image_id", "left_anti")


def group_entries_by_applicability(
    entries: list[dict], dels: list[dict]
) -> list[tuple[list[dict], int]]:
    """Partition file entries by WHICH deletes apply: entries whose
    added_snapshot_id admits the delete suffix ``dels[i:]`` group together
    (delete sids are sorted ascending — suffix membership is a bisect).
    Returns ``[(entries, suffix_start)]``; ``suffix_start == len(dels)``
    means no delete applies. Group count ≤ #delete snapshots + 1 — delete
    files are few by design (purge_deletes retires them)."""
    sids = [d["snapshot_id"] for d in dels]
    groups: dict[int, list[dict]] = {}
    for e in entries:
        idx = bisect_right(sids, e["added_snapshot_id"])
        groups.setdefault(idx, []).append(e)
    return [(ents, idx) for idx, ents in sorted(groups.items())]


def delete_where(
    spark: SparkSession,
    table: Table,
    predicate: Column | str,
    job_id: str | None = None,
    keys_per_file: int = KEYS_PER_FILE,
) -> DeleteResult:
    """Commit a merge-on-read equality delete of every CURRENTLY VISIBLE
    row matching ``predicate``. No data file is touched: matching keys are
    written as range-partitioned delete files (sorted within each file, so
    parquet footer stats bound each file's key range exactly) and the
    snapshot's ``delete_files`` metadata carries them forward."""
    job_id = job_id or f"eqdel-{uuid.uuid4().hex[:8]}"
    prev = lineage.committed_snapshot(table.root, job_id)
    if prev is not None:
        return DeleteResult(prev, job_id, 0, 0)

    from nessie_spark.lakehouse.scan import scan

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # scan() subtracts PRIOR deletes, so a key deleted twice is recorded
    # once — keys here are exactly the rows a reader of the parent snapshot
    # would see matching the predicate
    keys = scan(spark, table).where(cond).select("image_id").distinct()
    return _commit_delete_files(table, keys, job_id, keys_per_file, pos=False)


def delete_keys(
    spark: SparkSession,
    table: Table,
    keys: DataFrame,
    job_id: str | None = None,
    keys_per_file: int = KEYS_PER_FILE,
) -> DeleteResult:
    """Commit a merge-on-read equality delete of an explicit key set
    (a DataFrame with an ``image_id`` column — typically the output of a
    detector: near-dup losers, quality-flagged rows, PII hits).

    Keys are intersected with the CURRENTLY VISIBLE rows (left-semi
    against the scan) so already-deleted or never-present ids are not
    recorded — the delete files stay exactly as large as the rows they
    remove, and re-running a detector over an already-cleaned table
    commits nothing."""
    job_id = job_id or f"eqdel-{uuid.uuid4().hex[:8]}"
    prev = lineage.committed_snapshot(table.root, job_id)
    if prev is not None:
        return DeleteResult(prev, job_id, 0, 0)

    from nessie_spark.lakehouse.scan import scan

    visible = scan(spark, table, columns=["image_id"])
    keys = (
        keys.select("image_id").distinct().join(visible, "image_id", "left_semi")
    )
    return _commit_delete_files(table, keys, job_id, keys_per_file, pos=False)


def _commit_delete_files(
    table: Table, rows: DataFrame, job_id: str, rows_per_file: int, pos: bool
) -> DeleteResult:
    """Write ``rows`` as merge-on-read delete files and commit them in one
    ``delete`` snapshot: equality deletes (``image_id`` keys) or, with
    ``pos``, position deletes (``file_path``, ``pos`` pairs). Rows are
    range-partitioned and sorted on those columns, so each file's
    min_key/max_key — over the key, or over the TARGET data-file path of
    a position delete, which readers and purge prune on — bound it
    exactly. One task writes each file."""
    root = table.root
    n_rows = rows.count()
    if n_rows == 0:
        return DeleteResult(None, job_id, 0, 0)
    n_files = max(1, -(-n_rows // rows_per_file))
    tag, cols = ("posdel", ["file_path", "pos"]) if pos else ("eqdel", ["image_id"])

    def _write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        if tbl.num_rows == 0:
            return
        rel = f"data/{job_id}-{tag}-p{pid:05d}.parquet"
        size = write_table_file(tbl, os.path.join(root, rel))
        yield pa.RecordBatch.from_pylist(
            [{
                "file_path": rel,
                "n_keys": tbl.num_rows,
                "min_key": pc.min(tbl.column(cols[0])).as_py(),
                "max_key": pc.max(tbl.column(cols[0])).as_py(),
                "file_size_bytes": size,
            }],
            schema=DELETE_FILE_SCHEMA,
        )

    stats = (
        rows.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .mapInArrow(_write, DELETE_FILE_DDL)
        .collect()
    )
    new_entries = [
        dict(r.asDict(), kind="pos") if pos else r.asDict() for r in stats
    ]
    lineage.write_unit(
        root, job_id, "delete", 0,
        input_files=[], output_files=[e["file_path"] for e in new_entries],
        rows=n_rows,
        nbytes=int(sum(e["file_size_bytes"] for e in new_entries)),
    )
    snap = table.commit(
        "delete",
        summary={
            "job_id": job_id,
            ("deleted_positions" if pos else "deleted_keys"): n_rows,
        },
        new_delete_entries=new_entries,
    )
    lineage.mark_committed(root, job_id, snap)
    return DeleteResult(snap, job_id, n_rows, len(new_entries))


def pos_delete_pairs_df(
    spark: SparkSession, table: Table, dels: list[dict]
) -> DataFrame:
    """All (file_path, pos) pairs of the given position-delete entries."""
    if not dels:
        return spark.createDataFrame([], POS_DELETE_DDL)
    paths = [os.path.join(table.root, d["file_path"]) for d in dels]
    return spark.read.schema(POS_DELETE_DDL).parquet(*paths)


def delete_positions_where(
    spark: SparkSession,
    table: Table,
    predicate,
    job_id: str | None = None,
    rows_per_file: int = KEYS_PER_FILE,
) -> DeleteResult:
    """Commit a merge-on-read POSITIONAL delete (Iceberg v2 position
    deletes) of every currently visible row matching ``predicate``.

    Where an equality delete records the row's KEY, a positional delete
    records its physical address — ``(data file path, row position)`` —
    which is what a row-level DELETE needs when keys are not unique, when
    only *some* copies of a key must go, or when the engine wants
    deletion vectors it can later turn into a stencil at scan time.

    Applicability is by explicit file path, not snapshot window: a delete
    can only name files that existed when it committed, and every rewrite
    gives rows new file paths (uuid-named, never reused), so position
    deletes can never shadow re-inserted or rewritten rows. The same
    ``require_no_pending_deletes`` guard keeps maintenance rewrites from
    stranding pending positions (the named file would disappear without
    its rows being dropped) — ``purge_deletes`` folds them in first.

    Scale shape: positions come straight from the parquet reader's
    ``_metadata.row_index`` pseudo-column (zero extra IO), the predicate
    runs on the ordinary distributed scan, and the pairs are written
    range-partitioned and sorted by (file_path, pos) so both the scan-side
    anti-join and the purge-side per-file lookup prune on footer stats.
    """
    job_id = job_id or f"posdel-{uuid.uuid4().hex[:8]}"
    prev = lineage.committed_snapshot(table.root, job_id)
    if prev is not None:
        return DeleteResult(prev, job_id, 0, 0)

    from nessie_spark.lakehouse.scan import scan

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # with_pos exposes (__fp, __pos) provenance; scan() subtracts PRIOR
    # deletes of both kinds, so only rows a reader would see are recorded
    pairs = (
        scan(spark, table, with_pos=True)
        .where(cond)
        .select(F.col("__fp").alias("file_path"), F.col("__pos").alias("pos"))
    )
    return _commit_delete_files(table, pairs, job_id, rows_per_file, pos=True)


def purge_deletes(
    spark: SparkSession,
    table: Table,
    job_id: str | None = None,
) -> PurgeResult:
    """Copy-on-write purge: rewrite every data file that can contain a
    pending deleted key (stats-pruned), then drop all delete files from the
    table metadata. The post-purge scan is row-identical to the pre-purge
    merge-on-read scan: each candidate is read by the scan's own pyarrow
    reader with its delete subtraction (``scan._read_partition_table``,
    ``mor=True``), so both run the same code.

    Scale shape: candidates come from the same range-bucketed
    keys × file-stats interval join MERGE uses (merge.matched_files_df) —
    never all files. Each candidate is one work unit that reads ONLY its
    key range of each applicable delete file (parquet row-group pruning on
    the sorted delete files). The units run where ``scan._map_units`` puts
    them — on the driver when ``scan.on_driver`` accepts the candidates,
    else one Spark task each (a purge touches no pixel). Resumable per
    candidate file via lineage units, on either placement.
    """
    job_id = job_id or f"purge-{uuid.uuid4().hex[:8]}"
    root = table.root
    prev = lineage.committed_snapshot(root, job_id)
    if prev is not None:
        return PurgeResult(prev, job_id, 0, 0, 0)
    dels = sorted(table.delete_files(), key=lambda d: d["snapshot_id"])
    if not dels:
        return PurgeResult(None, job_id, 0, 0, 0)

    from nessie_spark.lakehouse.merge import matched_files_df
    from nessie_spark.lakehouse.scan import (
        _map_units,
        _read_partition_table,
        _unit_inputs,
        on_driver,
    )

    entries = table.file_entries(
        columns=["file_path", "min_key", "max_key", "added_snapshot_id",
                 "schema_id", "partition", "record_count", "file_size_bytes"]
    ).to_pylist()
    by_path = {e["file_path"]: e for e in entries}

    # The PLAN (candidate list + delete-file set) is pinned in lineage on
    # the first attempt: resume unit ids are positional indexes into the
    # candidate list, so a resume MUST replay against the same plan — a
    # delete committed between crash and resume would otherwise shift the
    # indexes (mis-binding completed units to different files) and, worse,
    # be wiped by the commit without its keys ever being subtracted.
    planned = lineage.read_phase(root, job_id, "plan").to_pylist()
    if planned:
        cand = list(planned[0]["input_files"])
        del_paths_rel = list(planned[0]["output_files"])
        if {d["file_path"] for d in dels} != set(del_paths_rel):
            raise ValueError(
                f"purge {job_id!r} was planned against "
                f"{len(del_paths_rel)} pending delete file(s) but the set "
                "has changed since (a delete committed after the purge "
                "started); its keys were not folded into the completed "
                "units — rerun purge_deletes with a NEW job_id"
            )
    else:
        eq_dels, pos_dels = split_delete_kinds(dels)
        sids = [d["snapshot_id"] for d in eq_dels]
        # equality candidates: ≥1 delete key inside [min_key, max_key]
        # (conservative superset — a file matched only by a non-applicable
        # delete's key is rewritten to identical rows, wasted work but
        # never wrong rows)
        matched: set[str] = set()
        if eq_dels:
            stats_df = spark.createDataFrame(
                [(e["file_path"], e["min_key"], e["max_key"]) for e in entries],
                "file_path string, min_key string, max_key string",
            )
            src_keys = delete_keys_df(spark, table, eq_dels).select(
                F.col("image_id").alias("_k")
            ).distinct()
            matched = {
                r.file_path
                for r in matched_files_df(
                    src_keys, stats_df, n_files=len(entries)
                ).collect()
            }
        # drop files NO equality delete applies to (added at/after every sid)
        cand_set = {
            p for p in matched
            if bisect_right(sids, by_path[p]["added_snapshot_id"]) < len(sids)
        }
        # positional candidates: EXACTLY the live files the pairs name (a
        # distributed distinct, never a key-range guess)
        if pos_dels:
            named = {
                r.file_path
                for r in pos_delete_pairs_df(spark, table, pos_dels)
                .select("file_path").distinct().collect()
            }
            cand_set |= named & set(by_path)
        cand = sorted(cand_set)
        del_paths_rel = [d["file_path"] for d in dels]
        lineage.write_unit(
            root, job_id, "plan", 0,
            input_files=cand, output_files=del_paths_rel, rows=0, nbytes=0,
        )

    driver = on_driver(
        spark, entries=len(cand),
        nbytes=sum(by_path[p]["file_size_bytes"] for p in cand),
    )
    done = lineage.completed_units(root, job_id, "purge")
    todo_ids = [i for i in range(len(cand)) if i not in done]
    # the current snapshot's delete files are the plan's (checked above)
    parts = _unit_inputs(table, by_path, [[cand[i]] for i in todo_ids], mor=True)

    def _partition_of(i: int) -> str:
        # the rewrite is 1:1 per input file, so the output inherits the
        # input's hidden-partition value (stays prunable on spec'd tables)
        return by_path.get(cand[i], {}).get("partition") or ""

    todo = [
        (i, ps[0], _partition_of(i), by_path[cand[i]]["record_count"])
        for i, ps in zip(todo_ids, parts)
    ]

    def _purge_unit(unit: tuple) -> list[dict]:
        i, part, pval, n_in = int(unit[0]), unit[1], str(unit[2]), int(unit[3])
        out = _read_partition_table(part, mor=True)
        outs: list[dict] = []
        rel = f"data/{job_id}-purge-f{i:05d}.parquet"
        if out.num_rows:
            size = write_table_file(out, os.path.join(root, rel))
            outs.append(stats_entry_for(out, rel, size, partition=pval))
        lineage.write_unit(
            root, job_id, "purge", i,
            input_files=[part.rel_path], output_files=[e["file_path"] for e in outs],
            rows=out.num_rows,
            nbytes=int(sum(e["file_size_bytes"] for e in outs)),
            metrics={"dropped_rows": float(n_in - out.num_rows)},
        )
        return outs

    fresh = [e for outs in _map_units(spark, _purge_unit, todo, driver) for e in outs]
    added = lineage.output_entries(root, job_id, "purge", fresh, _partition_of)

    # keep (never wipe) any delete file the plan did not fold — the resume
    # guard above makes this empty in practice, but the override must stay
    # exact: un-deleting keys is the one unrecoverable failure here
    leftover = [
        d for d in table.delete_files()
        if d["file_path"] not in set(del_paths_rel)
    ]
    snap = table.commit(
        "purge-deletes",
        added=added,
        deleted_paths=set(cand),
        summary={"job_id": job_id, "purged_delete_files": len(dels)},
        delete_files_override=leftover,
    )
    lineage.mark_committed(root, job_id, snap)
    return PurgeResult(snap, job_id, len(cand), added.num_rows, len(dels))
