"""Bin-packing small-file compaction (resumable, copy-on-write).

Plan (on file *stats* only): files below ``target_bytes`` →
first-fit-decreasing bins (plans/ffd.py), on the driver or, when
``scan.on_driver`` refuses the manifest entry count, as executor-side
sharded FFD (``ffd_pack_distributed``). Execute: one work unit per bin
reads its input parquet files with pyarrow, concatenates Arrow tables
(zero shuffle of image bytes — compaction is a file-local operation by
design, which is why it scales linearly with executors), optionally
re-encodes/verifies pixels via the batch kernels, writes one output file,
and records its lineage unit. The units run where ``scan._map_units``
puts them: in the driver process, one after another, when no pixel is
touched and ``scan.on_driver`` accepts the input files; otherwise one
Spark task per bin. Pixel work always runs as Spark tasks. Commit swaps
the packed inputs for the bin outputs in one atomic snapshot.

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
import pyarrow.parquet as pq

from pyspark.sql import SparkSession

from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse import kernels as K
from nessie_spark.lakehouse.table import Table
from nessie_spark.lakehouse.writer import stats_entry_for, write_table_file
from nessie_spark.plans.ffd import ffd_histogram, ffd_pack

DEFAULT_TARGET = 8 * 1024 * 1024


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
    fail_after_bins: int | None = None,
) -> CompactionResult:
    """Run one compaction job.

    ``verify_psnr``: decode every image; PSNR-check lossy re-encodes.
    ``reencode``: full pixel path per the north star — decode, re-encode in
    the stored format, PSNR-verify against the original decode (>= 40 dB
    lossy, exact for lossless), store the re-encoded bytes. All inside the
    per-bin Arrow batch task.
    ``fail_after_bins`` injects a mid-job crash for resume tests: the
    first ``fail_after_bins`` bins run to completion on the job's own
    placement, then the driver raises.

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
            e["file_path"]: e["file_size_bytes"]
            for e in table.file_entries(
                columns=["file_path", "file_size_bytes"]
            ).to_pylist()
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
            verify_psnr, fail_after_bins, live,
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
        entries = table.file_entries(
            columns=["file_path", "file_size_bytes", "partition"]
        ).to_pylist()
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
    # the distributed planner never brings the input sizes to the driver,
    # so its bins run as Spark tasks
    sizes = (
        None if use_dist
        else {e["file_path"]: e["file_size_bytes"] for e in small}
    )
    return _execute_bins(
        spark, table, job_id, bin_paths, bin_parts, hist, reencode,
        verify_psnr, fail_after_bins, sizes,
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
    fail_after_bins: int | None,
    sizes: dict[str, int] | None,
) -> CompactionResult:
    """Rewrite the planned bins (resume-safe: completed units skipped by
    index into the PINNED plan) and commit. ``bin_parts[i]`` is bin i's
    hidden-partition value, stamped onto its output entry ("" =
    unpartitioned). ``sizes``: bytes per input file, for the placement
    rule; None runs the bins as Spark tasks."""
    from nessie_spark.lakehouse.scan import _map_units, on_driver

    root = table.root
    inputs = [p for paths in bin_paths for p in paths]
    driver = (
        sizes is not None
        and not (reencode or verify_psnr)
        and on_driver(
            spark, entries=len(inputs), nbytes=sum(sizes[p] for p in inputs)
        )
    )
    done = lineage.completed_units(root, job_id, "compact")
    todo = [
        (i, paths, bin_parts[i])
        for i, paths in enumerate(bin_paths)
        if i not in done
    ]

    if todo:
        from nessie_spark.lakehouse.scan import IMAGES_DDL
        from nessie_spark.lakehouse.writer import (
            _DDL_ARROW,
            align_to_schema,
            arrow_schema_from_ddl,
        )

        # Align every input to the CURRENT table schema before concat:
        # pre-evolution files are NULL-padded, so bins mixing files written
        # under different schema versions stay well-formed (add-column
        # evolution is metadata-only; this is where readers reconcile).
        # Files written before a RENAME/DROP first remap by field id
        # (fields.live_projection_maps — {} unless evolution history makes
        # a name-read unsafe); compaction thereby NORMALIZES old files to
        # the current names, amortizing evolution debt to zero.
        from nessie_spark.lakehouse.fields import live_projection_maps, remap_arrow

        aschema = arrow_schema_from_ddl(table.meta.get("schema", IMAGES_DDL))
        remaps = live_projection_maps(
            table, paths=[p for _, paths, _ in todo for p in paths]
        )

        def _rewrite_unit(unit: tuple) -> dict:
            bin_id = int(unit[0])
            paths = list(unit[1])

            def _read(p: str) -> pa.Table:
                t = pq.read_table(os.path.join(root, p))
                rm = remaps.get(p)
                return remap_arrow(t, rm, _DDL_ARROW) if rm else t

            tbl = pa.concat_tables(
                [align_to_schema(_read(p), aschema) for p in paths]
            )
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
        if fail_after_bins is not None:
            # crash injection for resume tests: DETERMINISTIC — run exactly
            # the allowed units to completion, then die on the driver. An
            # in-task raise would race the sibling tasks (a concurrent
            # failure cancels them mid-unit), so the set of completed units
            # would vary run to run.
            allowed = [u for u in todo if u[0] < fail_after_bins]
            _map_units(spark, _rewrite_unit, allowed, driver)
            raise RuntimeError(
                f"injected failure after {len(allowed)} bin(s)"
            )
        fresh_stats = _map_units(spark, _rewrite_unit, todo, driver)
    else:
        fresh_stats = None

    # gather all units (including ones done before a crash) from lineage
    units = lineage.read_phase(root, job_id, "compact").to_pylist()
    deleted = {p for u in units for p in u["input_files"]}
    out_paths = [p for u in units for p in u["output_files"]]
    part_of = {
        p: bin_parts[u["partition_id"]] if u["partition_id"] < len(bin_parts) else ""
        for u in units
        for p in u["output_files"]
    }
    # manifest entries: reuse the stats returned by the rewrite tasks; only
    # units completed before a crash (resume path) are re-read — with column
    # pruning, so pixel bytes never reach the driver
    added_entries = list(fresh_stats) if fresh_stats is not None else []
    have = {e["file_path"] for e in added_entries}
    for p in out_paths:
        if p in have:
            continue
        tbl = pq.read_table(
            os.path.join(root, p), columns=["image_id", "w", "h", "phash"]
        )
        added_entries.append(
            stats_entry_for(
                tbl, p, os.path.getsize(os.path.join(root, p)),
                partition=part_of.get(p, ""),
            )
        )
    added = pa.Table.from_pylist(added_entries) if added_entries else None

    snap = table.commit(
        "compact",
        added=added,
        deleted_paths=deleted,
        summary={"job_id": job_id, "bins": len(bin_paths)},
    )
    lineage.mark_committed(root, job_id, snap)
    rows = sum(u["rows"] for u in units)
    return CompactionResult(
        snap, job_id, len(bin_paths), len(todo), len(deleted), len(out_paths), rows, hist
    )
