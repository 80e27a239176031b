"""Bin-packing small-file compaction (resumable, copy-on-write).

Plan (on file *stats* only): files below ``target_bytes`` →
first-fit-decreasing bins (plans/ffd.py), on the driver or, when
``scan.on_driver`` refuses the manifest entry count, as executor-side
sharded FFD (``ffd_pack_distributed``). Execute: one work unit per bin
reads its input files with the scan's pyarrow reader
(``scan._read_partition_table``, by field id onto the current schema),
concatenates Arrow tables (zero shuffle of image bytes — compaction is a
file-local operation by design, which is why it scales linearly with
executors), optionally re-encodes/verifies pixels via the batch kernels,
writes one output file, and records its lineage unit. The units run
where ``scan._map_units`` puts them: in the driver process, one after
another, when no pixel is touched and ``scan.on_driver`` accepts the
input files; otherwise one Spark task per bin. Pixel work always runs as
Spark tasks. Commit swaps the packed inputs for the bin outputs in one
atomic snapshot.

Resumability (FIXTURES.md §6): bins already present in the lineage phase
dir are skipped; output names are deterministic per (job_id, bin), so a
resumed run converges to the byte-identical final state (tested by killing
after k bins in tests/test_resume.py).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import SparkSession

from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse import kernels as K
from nessie_spark.lakehouse.table import Table
from nessie_spark.lakehouse.writer import stats_entry_for, write_table_file
from nessie_spark.plans.ffd import ffd_histogram, ffd_pack

DEFAULT_TARGET = 8 * 1024 * 1024
# manifest columns of a bin's input entries: sizes for the placement rule,
# snapshot and schema ids for the field-id projection of the read
INPUT_COLUMNS = ["file_path", "file_size_bytes", "added_snapshot_id", "schema_id"]


@dataclass
class CompactionResult:
    snapshot_id: int | None
    job_id: str
    bins_planned: int
    bins_executed: int
    input_files: int
    output_files: int
    rows: int
    histogram: dict[int, int]


def compact(
    spark: SparkSession,
    table: Table,
    target_bytes: int = DEFAULT_TARGET,
    job_id: str | None = None,
    verify_psnr: bool = False,
    reencode: bool = False,
    min_input_files: int = 2,
) -> CompactionResult:
    """Run one compaction job.

    ``verify_psnr``: decode every image; PSNR-check lossy re-encodes.
    ``reencode``: full pixel path per the north star — decode, re-encode in
    the stored format, PSNR-verify against the original decode (>= 40 dB
    lossy, exact for lossless), store the re-encoded bytes. All inside the
    per-bin Arrow batch task.

    Planning runs where ``scan.on_driver`` puts the manifest list's total
    entry count: FFD over the stats list on the driver, or executor-side
    sharded FFD (plans/ffd.ffd_pack_distributed) — the 10^12-image path
    where even the stats list strains the driver. The total counts every
    file, not only the small ones; at that manifest size the driver list
    is the risk either way."""
    job_id = job_id or f"compact-{uuid.uuid4().hex[:8]}"
    root = table.root

    prev = lineage.committed_snapshot(root, job_id)
    if prev is not None:  # job already committed — idempotent no-op
        return CompactionResult(prev, job_id, 0, 0, 0, 0, 0, {})
    from nessie_spark.lakehouse.deletes import require_no_pending_deletes

    require_no_pending_deletes(table, "compact")

    # Resume replays against the PINNED plan: work units are identified by
    # their index into the bin list, so re-planning against a table that
    # changed between crash and resume would mis-bind completed units
    # (losing rows of files that moved into a "done" index and duplicating
    # rows of files that moved out). If a planned input is no longer live
    # (another job rewrote it), a safe resume is impossible — raise.
    planned = lineage.read_plan(root, job_id)
    if planned is not None:
        bin_paths = [list(b) for b in planned["bins"]]
        bin_parts = [str(x) for x in planned.get("parts", [""] * len(bin_paths))]
        hist = {int(k): v for k, v in planned["hist"].items()}
        live = {
            e["file_path"]: e
            for e in table.file_entries(columns=INPUT_COLUMNS).to_pylist()
        }
        gone = sorted({p for b in bin_paths for p in b} - live.keys())
        if gone:
            raise ValueError(
                f"compact {job_id!r} planned against {len(gone)} input "
                f"file(s) that are no longer live (e.g. {gone[0]}); the "
                "table changed since the crashed attempt — rerun with a "
                "NEW job_id"
            )
        return _execute_bins(
            spark, table, job_id, bin_paths, bin_parts, hist, reencode,
            verify_psnr, live,
        )

    # The distributed planner must never materialize the stats list on the
    # driver — that driver strain is the very thing it exists to avoid — so
    # counting, the histogram, and the packing all stay Spark-side on that
    # path, and the choice reads only the manifest LIST (one row per
    # manifest; no Spark job, no entry).
    from pyspark.sql import functions as F

    from nessie_spark.lakehouse.scan import on_driver

    use_dist = not on_driver(
        spark, entries=sum(m["n_entries"] or 0 for m in table.manifest_summaries())
    )
    if use_dist:
        fdf = (
            table.files_df(spark)
            .where(F.col("file_size_bytes") < target_bytes)
            .select("file_path", "file_size_bytes", "partition")
            .cache()  # three consumers: count, histogram, packing
        )
        n_small = fdf.count()
        from nessie_spark.plans.ffd import ffd_pack_distributed

        hist = {
            int(r["b"]): r["c"]
            for r in fdf.groupBy(
                F.least(
                    F.floor(F.col("file_size_bytes") * 16 / target_bytes), F.lit(16)
                ).cast("int").alias("b")
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        if n_small < min_input_files:
            fdf.unpersist()
            return CompactionResult(None, job_id, 0, 0, n_small, 0, 0, hist)
        # hidden partitioning: one distributed pack per partition value —
        # partition count is the table's layout knob (bounded; collecting
        # the distinct values is manifest-metadata-sized), files per value
        # is what actually scales, and that stays inside ffd_pack_distributed
        pvals = sorted(
            r["partition"] or ""
            for r in fdf.select("partition").distinct().collect()
        )
        bin_paths, bin_parts = [], []
        for pval in pvals:
            sub = fdf.where(F.coalesce(F.col("partition"), F.lit("")) == pval)
            n_sub = n_small if len(pvals) == 1 else sub.count()
            for p, _ in ffd_pack_distributed(spark, sub, target_bytes, n_rows=n_sub):
                if len(p) >= 2:  # singleton bins are no-ops
                    bin_paths.append(p)
                    bin_parts.append(pval)
        fdf.unpersist()
    else:
        entries = table.file_entries(columns=[*INPUT_COLUMNS, "partition"]).to_pylist()
        small = [e for e in entries if e["file_size_bytes"] < target_bytes]
        hist = ffd_histogram([e["file_size_bytes"] for e in small], target_bytes)
        if len(small) < min_input_files:
            return CompactionResult(None, job_id, 0, 0, len(small), 0, 0, hist)
        # hidden partitioning: bins never span partition values — pack each
        # value's files separately so output files stay prunable ("" =
        # unpartitioned/pre-spec files, packed together as before)
        groups: dict[str, list[dict]] = {}
        for e in small:
            groups.setdefault(e["partition"] or "", []).append(e)
        bin_paths, bin_parts = [], []
        for pval in sorted(groups):
            g = groups[pval]
            for b in ffd_pack([e["file_size_bytes"] for e in g], target_bytes):
                if len(b) >= 2:  # singleton bins are no-ops
                    bin_paths.append([g[j]["file_path"] for j in b])
                    bin_parts.append(pval)
    if not bin_paths:
        n_in = n_small if use_dist else len(small)
        return CompactionResult(None, job_id, 0, 0, n_in, 0, 0, hist)
    lineage.write_plan(
        root, job_id,
        {"bins": bin_paths, "parts": bin_parts,
         "hist": {str(k): v for k, v in hist.items()}},
    )
    if use_dist:
        # the bins' inputs, for the reader's field-id projection: one
        # column-pruned read, no larger than the plan's own path list
        inputs = {p for b in bin_paths for p in b}
        small = [
            e for e in table.file_entries(columns=INPUT_COLUMNS).to_pylist()
            if e["file_path"] in inputs
        ]
    return _execute_bins(
        spark, table, job_id, bin_paths, bin_parts, hist, reencode,
        verify_psnr, {e["file_path"]: e for e in small},
    )


def _execute_bins(
    spark: SparkSession,
    table: Table,
    job_id: str,
    bin_paths: list[list[str]],
    bin_parts: list[str],
    hist: dict,
    reencode: bool,
    verify_psnr: bool,
    by_path: dict[str, dict],
) -> CompactionResult:
    """Rewrite the planned bins (resume-safe: completed units skipped by
    index into the PINNED plan) and commit. ``bin_parts[i]`` is bin i's
    hidden-partition value, stamped onto its output entry ("" =
    unpartitioned). ``by_path``: the inputs' manifest entries
    (INPUT_COLUMNS), for the placement rule and the reader."""
    from nessie_spark.lakehouse.scan import (
        _map_units,
        _read_partition_table,
        _unit_inputs,
        on_driver,
    )

    root = table.root
    inputs = [p for paths in bin_paths for p in paths]
    driver = not (reencode or verify_psnr) and on_driver(
        spark, entries=len(inputs),
        nbytes=sum(by_path[p]["file_size_bytes"] for p in inputs),
    )
    done = lineage.completed_units(root, job_id, "compact")
    todo_ids = [i for i in range(len(bin_paths)) if i not in done]
    # every input is read by field id onto the CURRENT schema before the
    # concat: files from before an add-column are NULL-padded and files
    # from before a rename/drop are read under the current names, so
    # compaction normalizes old files and amortizes evolution debt to zero
    todo = list(zip(
        todo_ids,
        _unit_inputs(table, by_path, [bin_paths[i] for i in todo_ids]),
        [bin_parts[i] for i in todo_ids],
    ))

    def _rewrite_unit(unit: tuple) -> dict:
        bin_id, parts = int(unit[0]), list(unit[1])
        paths = [p.rel_path for p in parts]
        tbl = pa.concat_tables([_read_partition_table(p, mor=False) for p in parts])
        metrics: dict[str, float] = {"input_files": float(len(paths))}
        if reencode:
            new_bytes, mn = K.reencode_verify(
                tbl.column("bytes").to_pylist(), tbl.column("fmt").to_pylist()
            )
            tbl = tbl.set_column(
                tbl.schema.get_field_index("bytes"), "bytes",
                pa.array(new_bytes, pa.binary()),
            )
            metrics["min_psnr"] = mn
        elif verify_psnr:
            mn = 99.0
            fmts = tbl.column("fmt").to_pylist()
            for data, fmt in zip(tbl.column("bytes").to_pylist(), fmts):
                px = K.decode(bytes(data), fmt)
                if fmt == "jpeg":
                    mn = min(mn, K.psnr(px, K.decode(K.encode(px, fmt), fmt)))
            metrics["min_psnr"] = mn
        rel = f"data/{job_id}-compact-b{bin_id:05d}.parquet"
        size = write_table_file(tbl, os.path.join(root, rel))
        entry = stats_entry_for(tbl, rel, size, partition=str(unit[2]))
        lineage.write_unit(
            root, job_id, "compact", bin_id,
            input_files=paths, output_files=[rel],
            rows=tbl.num_rows, nbytes=size, metrics=metrics,
        )
        return entry

    # On Spark, one bin per task, placed POSITIONALLY: parallelize(bins,
    # len(bins)) splits the unit list 1:1 onto partitions. The earlier
    # groupBy(bin_id).applyInPandas shape hash-partitioned ~200 bin keys
    # into ~200 partitions, where birthday collisions stack 2-4 bins in
    # one task — a straggler tail that costs scaling efficiency exactly
    # when waves are few (4N-core runs). Only tiny plan tuples cross the
    # driver→task boundary; image bytes stay in pyarrow inside the task.
    fresh = _map_units(spark, _rewrite_unit, todo, driver)
    # all units' outputs, including ones done before a crash
    added = lineage.output_entries(
        root, job_id, "compact", fresh, lambda i: bin_parts[i]
    )
    snap = table.commit(
        "compact",
        added=added,
        deleted_paths=set(inputs),
        summary={"job_id": job_id, "bins": len(bin_paths)},
    )
    lineage.mark_committed(root, job_id, snap)
    rows = sum(added.column("record_count").to_pylist())
    return CompactionResult(
        snap, job_id, len(bin_paths), len(todo), len(set(inputs)), added.num_rows,
        rows, hist,
    )
