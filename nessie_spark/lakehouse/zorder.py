"""Z-order (Morton) / Hilbert clustering rewrite.

north_star (BASELINE.json:6): Z-order via 64-bit Morton interleaving of
``(phash, w*h)``, optional Hilbert variant, per-file min/max stats for data
skipping.

One executor, ``run_staged``, does every curve-order rewrite — ``cluster``
(the whole table), ``cluster_incremental`` (the unclustered delta) and each
partition group of a hidden-partitioned table — in two passes:
    pass 1 (cheap): read (phash, w, h ONLY — parquet column pruning keeps
      image bytes on disk) → zkey → weighted equi-depth cut points
      ("histogram equi-depth", SURVEY.md §2.5; ``weighted_cuts``)
    pass 2: a two-phase external sort with parquet staging (scatter by
      bucket group, gather one sorted data file per bucket; see
      ``run_staged``), image bytes Python-native from read to write.
Where the passes run follows the engine's one rule (``scan.on_driver``,
asked with the job's input files). A job that re-encodes nothing and fits
the rule runs on the driver: pass 1 reads every key with pyarrow and cuts
them exactly (``exact_bounds``), and pass 2's units run in this process
one after another. Any other job runs on Spark: pass 1 cuts a seeded
sample (the RangePartitioner recipe, ~64 sampled keys per output file,
manifest row count sizes the fraction so no count() job runs;
``equi_depth_bounds``), and each pass-2 unit is one Spark task. Pixel work
(``reencode``) always runs on Spark.
The one exception is ``_cluster_respec``, a one-pass JVM rewrite taken only
after a partition-spec change.

Why not ``repartitionByRange``: Spark's range partitioner runs a sampling
job that materializes *full rows* (including the binary pixels) — measured
as a ~15 s fixed cost at 196k images that does not parallelize. The
explicit sample pass touches three int columns only.

Why not ``groupBy(pid).applyInPandas`` for the gather: converting binary
columns to pandas boxes every image as a Python object and doubles peak
memory; measured 3.4× slower at local[32] than a streaming Arrow writer
(43 s → 12 s at 196k images). The bytes stay in Arrow buffers end-to-end
here.

The zkey never hits disk in data files — only its per-file lo/hi land in
the manifest, which is exactly what scan-time data skipping consumes.
"""

from __future__ import annotations

import json
import math
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from nessie_spark.functions.core import hilbert_key_udf, morton32, order31
from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse.scan import scan
from nessie_spark.lakehouse.table import Table

DEFAULT_TARGET = 8 * 1024 * 1024
# manifest columns of a rewrite's input entries: sizes for the plan, row
# counts for the sample fraction, schema ids for the field-id projection
ENTRY_COLUMNS = [
    "file_path", "file_size_bytes", "record_count", "added_snapshot_id",
    "schema_id",
]
# equi-depth sample: keys per planned output file, and the sample's seed
SAMPLES_PER_FILE = 64
SAMPLE_SEED = 42


@dataclass
class ClusterResult:
    snapshot_id: int | None
    job_id: str
    strategy: str
    input_files: int
    output_files: int
    rows: int


def zorder_key(strategy: str = "morton"):
    """Column builder: (phash, w, h) -> space-filling-curve key."""
    if strategy == "morton":
        return lambda phash, w, h: morton32(
            order31(phash), (w.cast("long") * h.cast("long")).bitwiseAND(F.lit(0x7FFFFFFF))
        )
    if strategy == "hilbert":
        udf = hilbert_key_udf()
        return lambda phash, w, h: udf(
            order31(phash), (w.cast("long") * h.cast("long")).bitwiseAND(F.lit(0x7FFFFFFF))
        )
    raise NotImplementedError(f"unknown clustering strategy {strategy!r}")


def weighted_cuts(pairs, n_files: int) -> list[int]:
    """WEIGHTED equi-depth zkey cut points over ``(zkey, wh)`` pairs: sort
    them, then cut where cumulative w·h crosses each 1/n_files step. The
    cuts split pixel area, not row count: pixel area is proportional to
    both output bytes and decode/re-encode CPU, so the buckets are balanced
    in WORK and SIZE even when image dimensions are skewed (row-balanced
    cuts measured a 22% straggler tail at 8 cores)."""
    pairs = sorted(pairs)
    total_w = sum(w for _, w in pairs)
    if total_w <= 0:
        return []
    bounds = []
    step = total_w / n_files
    acc = 0.0
    nxt = step
    for zkey, w in pairs[:-1]:
        acc += w
        if acc >= nxt and len(bounds) < n_files - 1:
            bounds.append(zkey)
            while acc >= nxt:
                nxt += step
    return bounds


def equi_depth_bounds(keys_df, n_files: int, total_rows: int) -> list[int]:
    """``weighted_cuts`` over a seeded sample — the RangePartitioner recipe
    (sample keys, sort on the driver, read off quantiles) over a
    column-pruned int scan (zkey + w·h), never full rows. Sized from the
    manifest's row count so no count() job runs. Driver memory: n_files ×
    SAMPLES_PER_FILE (int, int) pairs."""
    if n_files <= 1 or total_rows == 0:
        return []
    frac = min(1.0, (n_files * SAMPLES_PER_FILE) / total_rows)
    rows = (
        keys_df.sample(withReplacement=False, fraction=frac, seed=SAMPLE_SEED)
        .select("zkey", "wh")
        .collect()
    )
    return weighted_cuts(((r.zkey, r.wh) for r in rows), n_files)


def exact_bounds(
    table: Table, entries: list[dict], strategy: str, n_files: int
) -> list[int]:
    """``weighted_cuts`` over EVERY key of ``entries``: pass 1 on the
    driver. Reads (phash, w, h) with pyarrow through the field-id
    projection (``scan._read_partition_table``) and keys the rows with
    the numpy twin of the Catalyst key. Entries carry ``added_snapshot_id``
    and ``schema_id`` so files from before a rename are read by field id."""
    if n_files <= 1:
        return []
    import numpy as np
    import pyarrow as pa

    from nessie_spark.lakehouse.scan import (
        IMAGES_DDL,
        _partitions_for_entries,
        _read_partition_table,
    )

    # no merge-on-read: clustering refuses a table with pending deletes,
    # and the scatter reads the same files raw
    parts = _partitions_for_entries(
        table, entries, None, table.meta.get("schema", IMAGES_DDL),
        mor=False, columns={"phash", "w", "h"},
    )
    keys = pa.concat_tables([_read_partition_table(p, mor=False) for p in parts])
    wh = (
        keys.column("w").to_numpy().astype(np.int64)
        * keys.column("h").to_numpy().astype(np.int64)
    )
    zkey = _np_zkey(strategy, keys.column("phash").to_numpy(), wh & 0x7FFFFFFF)
    return weighted_cuts(zip(zkey.tolist(), wh.tolist()), n_files)


def _sample_bounds(df, strategy: str, n_files: int, total_rows: int) -> list[int]:
    """Pass 1 on Spark over ``df``'s (phash, w, h): key each row and read
    the equi-depth cut points off a seeded sample."""
    key = zorder_key(strategy)
    keys_df = (
        df.select("phash", "w", "h")
        .withColumn("zkey", key(F.col("phash"), F.col("w"), F.col("h")))
        .withColumn("wh", F.col("w").cast("long") * F.col("h").cast("long"))
    )
    return equi_depth_bounds(keys_df, n_files, total_rows)


def _pinned_plan(root: str, job_id: str) -> dict | None:
    """The PLAN.json an earlier attempt of ``job_id`` pinned, if any: a
    resume replays it (bounds, n_files, gather groups, scatter bins)."""
    path = os.path.join(root, "_stage", job_id, "PLAN.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _pack_scatter_bins(entries: list[dict], bin_bytes: int) -> list[list[str]]:
    """Greedy contiguous packing of input files into scatter units of
    ~bin_bytes (the compact-style task granularity: each unit is one
    Python-native task reading its files with pyarrow)."""
    bins: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for e in entries:
        cur.append(e["file_path"])
        acc += e["file_size_bytes"]
        if acc >= bin_bytes:
            bins.append(cur)
            cur, acc = [], 0
    if cur:
        bins.append(cur)
    return bins


def _np_zkey(strategy: str, phash, wh):
    from nessie_spark.functions.core import hilbert_np, morton32_np, order31_np

    if strategy == "morton":
        return morton32_np(order31_np(phash), wh)
    if strategy == "hilbert":
        return hilbert_np(order31_np(phash), wh)
    raise NotImplementedError(f"unknown clustering strategy {strategy!r}")


def run_staged(
    spark: SparkSession,
    table: Table,
    job_id: str,
    strategy: str,
    reencode: bool,
    target_bytes: int,
    entries: list[dict] | None = None,
):
    """Staged two-phase Z-order rewrite — the engine's one executor for
    moving every row of ``entries`` (default: the live table) to its zkey
    bucket, one sorted data file of about ``target_bytes`` per bucket.
    Returns (file entries of the outputs, staging dir, planned n_files).

    Placement: the job's units run in the driver process, one after
    another, when it re-encodes nothing and ``scan.on_driver`` accepts its
    input files (``scan._map_units``); the cut points are then exact
    (``exact_bounds``, over every key). Otherwise every unit is one Spark
    task and the cut points come from a seeded sample
    (``equi_depth_bounds``). Both placements run the same unit functions
    against the same pinned plan, so a job crashed on one resumes on the
    other.

    Why staged rather than a Spark exchange: a JVM shuffle moves every
    image byte through vectorized parquet read of fat binary rows →
    UnsafeRow shuffle write/read (lz4) → external sort → Arrow IPC to
    Python. Each is linear, but measured together they inflate ~2× under
    8-way concurrency on fat-binary rows (memory-traffic stalls), capping
    the bench's 2→8 scaling at ~0.46 while the Python-native compaction
    path holds ~0.96. This executor is a classic two-phase external sort
    with parquet staging — the bytes never enter the JVM:

      scatter: one unit per ~64 MB bin of input files: pyarrow-read each
        file, compute zkey (vectorized numpy twin of the Catalyst key, asserted
        bit-identical in tests), pid = searchsorted(bounds), stable-sort by
        gather group = pid·G//n_files, append one row-group per (file,
        group) run to a per-group staging shard. Atomic tmp→rename; one
        lineage unit per bin (resume skips completed bins).
      gather: one unit per output file (pid): pyarrow-read the pid's rows
        from its group's shards, one vectorized sort_indices(zkey,
        image_id), then decode → re-encode → PSNR (the north-star pixel
        path) and one final data file with full min/max + zorder_lo/hi
        stats. One lineage unit per pid (a pre-r5 plan resumes with one
        unit per group); resume re-derives stats for units finished
        before a crash.

    On a multi-executor cluster the staging directory lives on the shared
    table store — the standard shuffle-via-storage pattern (external sort
    with managed intermediates); G is the knob that bounds per-task memory
    (group bytes = table_bytes / G).

    A resume replays the PLAN.json an earlier attempt of ``job_id``
    pinned (``_pinned_plan``): its bounds, n_files, gather groups and
    scatter bins.
    """
    from nessie_spark.lakehouse.scan import _map_units, on_driver
    from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA
    from nessie_spark.lakehouse.writer import stats_entry_for, write_table_file

    root = table.root
    # ``entries=None`` = full rewrite (every live file); a subset = an
    # INCREMENTAL rewrite (cluster_incremental) — the caller deletes exactly
    # these inputs and the commit carries the rest of the table forward.
    subset = entries is not None
    live_entries = table.file_entries(columns=ENTRY_COLUMNS).to_pylist()
    if entries is None:
        entries = live_entries
    total_bytes = sum(e["file_size_bytes"] for e in entries)
    pinned = _pinned_plan(root, job_id)
    n_files = (
        int(pinned["n_files"]) if pinned is not None
        else max(1, math.ceil(total_bytes / target_bytes))
    )
    driver = not reencode and on_driver(
        spark, entries=len(entries), nbytes=total_bytes
    )
    # Task granularity: scatter bins and gather groups are DATA-sized at
    # ~64 MB — more executors mean fewer task waves over the SAME plan —
    # with a MIN-PARALLELISM floor on the gather group count. Gather is
    # the CPU-dominant phase (decode → re-encode → PSNR): 64 MB groups
    # left a 900 MB table with ~14 gather tasks, idling most of a 32-core
    # run; but uniformly finer groups (16 MB) multiplied the scatter-shard
    # count 4× and measured ~1.7× slower wall at 2 and 8 cores (many ~1 MB
    # parquet shards). The floor lifts the group count only when the
    # cluster is wider than the data would occupy, so shard size stays
    # coarse in the scaling pair (2 vs 8 cores both run the identical
    # data-dominated plan — the clean-ratio property). Caveat: on tables
    # smaller than cores×64 MB the floor engages and the two levels plan
    # DIFFERENT group counts. PLAN.json records n_groups and sbins, so a
    # scaling measurement can tell plan-shape effects from wave-count
    # scaling.
    data_groups = -(-total_bytes // (8 * DEFAULT_TARGET))
    n_groups = max(
        1,
        min(n_files, max(data_groups, spark.sparkContext.defaultParallelism)),
    )
    stage_dir = os.path.join(root, "_stage", job_id)

    # Pin the plan across attempts: a resume on a different core count must
    # keep the original (bounds, n_files, n_groups) or completed scatter
    # units' shards would land in inconsistent groups — and it must keep
    # the SCATTER-BIN COMPOSITION, or a table mutated between crash and
    # resume would re-bin the inputs under the same unit indexes, skipping
    # never-scattered files (row loss) and re-scattering moved ones (row
    # duplication). (North-star resume contract: per-partition lineage
    # replays against the SAME plan.)

    # Gather granularity (r5): one task per OUTPUT FILE (pid) by default.
    # 64 MB shard-group tasks quantize into ragged waves on small tables —
    # 18 group-tasks at 8 cores ran as 3 waves with the last 25% occupied
    # and cost ~0.2 of the 2→8 scaling ratio — while pid units give
    # n_files-way parallelism at EVERY width over the SAME scatter shards
    # (plan-identical across widths — the clean-ratio property). Cost:
    # each pid task re-reads its group's shards with a pid filter; parquet
    # decode is a few percent of the pixel re-encode work on RAM/SSD.
    # Pinned in PLAN.json so a crash/resume never mixes unit-id namespaces.
    gather_unit_mode = "pid"

    if pinned is not None:
        bounds = [int(x) for x in pinned["bounds"]]
        n_groups = int(pinned["n_groups"])
        sbins = [list(b) for b in pinned["sbins"]]
        # pre-r5 plans pinned no gather granularity → resume group-wise
        gather_unit_mode = pinned.get("gather_unit", "group")
        live = {e["file_path"] for e in live_entries}
        plan_set = {p for b in sbins for p in b}
        if subset:
            # an incremental cluster rewrites a SUBSET: every planned input
            # must still be live (a rewritten-away input can no longer be
            # read), but files appended after the crash simply stay outside
            # this job — the commit carries them forward untouched
            gone = sorted(plan_set - live)
            if gone:
                raise ValueError(
                    f"staged zorder {job_id!r} planned against {len(gone)} "
                    f"input file(s) no longer live (e.g. {gone[0]}); the "
                    "table changed since the crashed attempt — rerun with "
                    "a NEW job_id"
                )
        elif plan_set != live:
            # a full cluster's commit carries nothing: the planned inputs
            # must equal the live set EXACTLY — a file appended after the
            # crash would otherwise silently drop out of the table
            diff = sorted(plan_set.symmetric_difference(live))
            raise ValueError(
                f"staged zorder {job_id!r} was planned against a different "
                f"live file set ({len(diff)} file(s) differ, e.g. "
                f"{diff[0]}); the table changed since the crashed attempt "
                "— rerun with a NEW job_id"
            )
    else:
        # pass 1: the cut points. On Spark, a full rewrite samples a
        # column-subset scan: a small table is read on the driver into a
        # LocalRelation, which Catalyst does not column-prune, so a
        # full-row scan would pull every image's bytes through the driver.
        if driver:
            bounds = exact_bounds(table, entries, strategy, n_files)
        else:
            bounds = _sample_bounds(
                scan(spark, table, columns=["phash", "w", "h"]) if not subset
                else spark.read.parquet(
                    *[os.path.join(root, e["file_path"]) for e in entries]
                ),
                strategy, n_files, sum(e["record_count"] for e in entries),
            )
        # Scatter granularity: DATA-sized ~64 MB bins, with the same
        # min-parallelism floor as the gather groups — when the cluster is
        # wider than total_bytes/64 MB (a 1 GB table saw 16 scatter tasks
        # idle half of a 32-core run), shrink bins toward total/width but
        # never below 16 MB (shard-count blowup: each bin opens up to
        # n_groups shard writers). The 2- and 8-core scaling-gate runs on
        # bench-sized tables stay above the floor and keep the identical
        # 64 MB plan (clean-ratio property); only wider runs re-plan.
        par = max(1, spark.sparkContext.defaultParallelism)
        sbin_bytes = max(
            2 * DEFAULT_TARGET,
            min(8 * DEFAULT_TARGET, total_bytes // par),
        )
        sbins = _pack_scatter_bins(entries, sbin_bytes)
        os.makedirs(stage_dir, exist_ok=True)
        plan_path = os.path.join(stage_dir, "PLAN.json")
        with open(plan_path + ".tmp", "w") as fh:
            json.dump(
                {"bounds": [int(x) for x in bounds], "n_files": n_files,
                 "n_groups": n_groups, "sbins": sbins,
                 "gather_unit": gather_unit_mode},
                fh,
            )
        os.replace(plan_path + ".tmp", plan_path)

    # --- scatter ----------------------------------------------------------
    done = lineage.completed_units(root, job_id, "scatter")
    todo = [(i, paths) for i, paths in enumerate(sbins) if i not in done]
    from nessie_spark.lakehouse.fields import live_projection_maps
    from nessie_spark.lakehouse.scan import IMAGES_DDL

    table_ddl = table.meta.get("schema", IMAGES_DDL)
    # field-id remaps for inputs written before a rename/drop ({} unless
    # evolution history makes a name-read unsafe); the rewrite normalizes
    # them to current names
    remaps = live_projection_maps(
        table, paths=[p for _, paths in todo for p in paths]
    )

    def _scatter_unit(unit: tuple) -> tuple:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from nessie_spark.lakehouse.writer import align_to_schema, arrow_schema_from_ddl

        # Uniform shard schema across mixed pre-/post-evolution inputs:
        # every file is aligned (NULL-padded) to the current table schema
        # before zkey/pid are appended, so one ParquetWriter per group can
        # append slices from any input file.
        aschema = arrow_schema_from_ddl(table_ddl)
        sbin, paths = int(unit[0]), list(unit[1])
        b = np.asarray(bounds, dtype=np.int64)
        # Bound concurrently-open shard writers: n_groups scales with table
        # bytes (1 TB → ~2k groups), and each open ParquetWriter holds column
        # buffers + an fd. LRU-close past the cap and reopen under a new
        # shard sequence number — gather globs s#####_##.parquet, so a group
        # may own several shards from one scatter bin.
        MAX_OPEN = 64
        writers: dict[int, tuple] = {}  # grp -> (writer, tmp, final); dict order = LRU
        seq: dict[int, int] = {}
        outs: list[str] = []

        def _close_grp(g: int) -> None:
            w, tmp, final = writers.pop(g)
            w.close()
            os.replace(tmp, final)
            outs.append(os.path.relpath(final, root))

        def _writer_for(g: int, schema) -> "pq.ParquetWriter":
            if g in writers:
                writers[g] = writers.pop(g)  # refresh LRU position
                return writers[g][0]
            if len(writers) >= MAX_OPEN:
                _close_grp(next(iter(writers)))
            k = seq.get(g, 0)
            seq[g] = k + 1
            final = os.path.join(
                stage_dir, f"g{g:04d}", f"s{sbin:05d}_{k:02d}.parquet"
            )
            os.makedirs(os.path.dirname(final), exist_ok=True)
            tmp = final + ".tmp"
            writers[g] = (
                pq.ParquetWriter(tmp, schema, compression="snappy"), tmp, final
            )
            return writers[g][0]

        rows = 0
        for p in paths:
            tbl = pq.read_table(os.path.join(root, p))
            rm = remaps.get(p)
            if rm:
                from nessie_spark.lakehouse.fields import remap_arrow
                from nessie_spark.lakehouse.writer import _DDL_ARROW

                tbl = remap_arrow(tbl, rm, _DDL_ARROW)
            tbl = align_to_schema(tbl, aschema)
            wh = (
                tbl.column("w").to_numpy().astype(np.int64)
                * tbl.column("h").to_numpy().astype(np.int64)
            ) & 0x7FFFFFFF
            zkey = _np_zkey(strategy, tbl.column("phash").to_numpy(), wh)
            pid = np.searchsorted(b, zkey, side="right").astype(np.int64)
            grp = (pid * n_groups // n_files).astype(np.int32)
            tbl = tbl.append_column("zkey", pa.array(zkey, pa.int64())).append_column(
                "pid", pa.array(pid.astype(np.int32), pa.int32())
            )
            order = np.argsort(grp, kind="stable")
            tbl = tbl.take(pa.array(order))
            g_sorted = grp[order]
            cuts = np.flatnonzero(np.diff(g_sorted)) + 1
            starts = [0, *cuts.tolist()]
            ends = [*cuts.tolist(), len(g_sorted)]
            for s0, e0 in zip(starts, ends):
                g = int(g_sorted[s0])
                sl = tbl.slice(s0, e0 - s0)
                _writer_for(g, tbl.schema).write_table(sl)
            rows += tbl.num_rows
        for g in list(writers):
            _close_grp(g)
        lineage.write_unit(
            root, job_id, "scatter", sbin,
            input_files=paths, output_files=sorted(outs), rows=rows,
            nbytes=0, metrics={"n_groups": float(len(outs))},
        )
        return (sbin, len(outs), rows)

    # On Spark, one work unit per task, placed POSITIONALLY via
    # parallelize(n_slices=len(units)) — groupBy(key).applyInPandas
    # hash-partitions k keys into k partitions, where birthday collisions
    # stack 2-3 heavy units in one task (measured: the straggler tail cost
    # gather ~0.15 of 2→8 scaling efficiency; with 26 waves at 2 cores the
    # tail amortizes, with 7 waves at 8 cores it does not). Pixel bytes
    # stay in pyarrow/numpy batches inside the unit.
    _map_units(spark, _scatter_unit, todo, driver)

    # --- gather -----------------------------------------------------------
    gdone = lineage.completed_units(root, job_id, "gather")
    if gather_unit_mode == "pid":
        gtodo = [pd for pd in range(n_files) if pd not in gdone]
    else:
        gtodo = [g for g in range(n_groups) if g not in gdone]

    def _gather_pid_unit(pid: int) -> list[dict]:
        """One gather task per output file: read the owning group's shards
        with a pid filter, sort, re-encode, write data/...-p{pid}.parquet.
        Unit id = pid (globally unique; lineage namespace pinned by
        PLAN.json's gather_unit)."""
        import re

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pid = int(pid)
        grp = pid * n_groups // n_files
        gdir = os.path.join(stage_dir, f"g{grp:04d}")
        shard_re = re.compile(r"s\d{5}(_\d+)?\.parquet$")
        shards = (
            sorted(f for f in os.listdir(gdir) if shard_re.fullmatch(f))
            if os.path.isdir(gdir)
            else []
        )
        tbl = None
        if shards:
            tbl = pa.concat_tables(
                [
                    pq.read_table(
                        os.path.join(gdir, s), filters=[("pid", "=", pid)]
                    )
                    for s in shards
                ]
            )
        if tbl is None or tbl.num_rows == 0:
            lineage.write_unit(
                root, job_id, "gather", pid,
                input_files=[], output_files=[], rows=0, nbytes=0,
            )
            return []
        idx = pc.sort_indices(
            tbl, sort_keys=[("zkey", "ascending"), ("image_id", "ascending")]
        )
        tbl = tbl.take(idx)
        mn_psnr = 99.0
        if reencode:
            from nessie_spark.lakehouse import kernels as K

            new_bytes, mn_psnr = K.reencode_verify(
                tbl.column("bytes").to_pylist(), tbl.column("fmt").to_pylist()
            )
            tbl = tbl.set_column(
                tbl.schema.get_field_index("bytes"), "bytes",
                pa.array(new_bytes, pa.binary()),
            )
        rel = f"data/{job_id}-{strategy}-p{pid:05d}.parquet"
        from nessie_spark.lakehouse.writer import ddl_columns

        size = write_table_file(
            tbl.select(ddl_columns(table_ddl)), os.path.join(root, rel)
        )
        entry = stats_entry_for(tbl, rel, size)
        lineage.write_unit(
            root, job_id, "gather", pid,
            input_files=[os.path.join(f"g{grp:04d}", s) for s in shards],
            output_files=[rel], rows=tbl.num_rows, nbytes=int(size),
            metrics={"min_psnr": mn_psnr} if reencode else None,
        )
        return [entry]

    def _gather_unit(grp: int) -> list[dict]:
        import re

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        grp = int(grp)
        gdir = os.path.join(stage_dir, f"g{grp:04d}")
        shard_re = re.compile(r"s\d{5}(_\d+)?\.parquet$")
        shards = (
            sorted(f for f in os.listdir(gdir) if shard_re.fullmatch(f))
            if os.path.isdir(gdir)
            else []
        )
        if not shards:
            lineage.write_unit(
                root, job_id, "gather", grp,
                input_files=[], output_files=[], rows=0, nbytes=0,
            )
            return []
        tbl = pa.concat_tables([pq.read_table(os.path.join(gdir, s)) for s in shards])
        idx = pc.sort_indices(
            tbl,
            sort_keys=[("pid", "ascending"), ("zkey", "ascending"), ("image_id", "ascending")],
        )
        tbl = tbl.take(idx)
        pids = tbl.column("pid").to_numpy()
        cuts = np.flatnonzero(np.diff(pids)) + 1
        starts = [0, *cuts.tolist()]
        ends = [*cuts.tolist(), len(pids)]
        out_entries = []
        out_paths = []
        mn_psnr = 99.0
        for s0, e0 in zip(starts, ends):
            pid = int(pids[s0])
            sl = tbl.slice(s0, e0 - s0)
            if reencode:
                from nessie_spark.lakehouse import kernels as K

                new_bytes, _mn = K.reencode_verify(
                    sl.column("bytes").to_pylist(), sl.column("fmt").to_pylist()
                )
                mn_psnr = min(mn_psnr, _mn)
                sl = sl.set_column(
                    sl.schema.get_field_index("bytes"), "bytes",
                    pa.array(new_bytes, pa.binary()),
                )
            rel = f"data/{job_id}-{strategy}-p{pid:05d}.parquet"
            # Stats come from the full slice (zkey → zorder_lo/hi), but the
            # data file carries ONLY the declared table columns — the
            # staging-only zkey/pid must never reach the final table files
            # (they'd break schema-uniform compaction over mixed file sets).
            from nessie_spark.lakehouse.writer import ddl_columns

            size = write_table_file(
                sl.select(ddl_columns(table_ddl)), os.path.join(root, rel)
            )
            out_entries.append(stats_entry_for(sl, rel, size))
            out_paths.append(rel)
        lineage.write_unit(
            root, job_id, "gather", grp,
            input_files=[os.path.join(f"g{grp:04d}", s) for s in shards],
            output_files=out_paths,
            rows=tbl.num_rows,
            nbytes=int(sum(e["file_size_bytes"] for e in out_entries)),
            metrics={"min_psnr": mn_psnr} if reencode else None,
        )
        return out_entries

    _gfn = _gather_pid_unit if gather_unit_mode == "pid" else _gather_unit
    fresh = [e for part in _map_units(spark, _gfn, gtodo, driver) for e in part]

    # reassemble stats for ALL gather units (including pre-crash ones):
    # recompute zkey from (phash, w, h) with the numpy twin — the staged
    # stats must carry zorder_lo/hi even on resume
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    added = fresh
    have = {e["file_path"] for e in added}
    units = lineage.read_phase(root, job_id, "gather").to_pylist()
    for u in units:
        for p in u["output_files"]:
            if p in have:
                continue
            t = pq.read_table(
                os.path.join(root, p), columns=["image_id", "w", "h", "phash"]
            )
            wh = (
                t.column("w").to_numpy().astype(np.int64)
                * t.column("h").to_numpy().astype(np.int64)
            ) & 0x7FFFFFFF
            zk = _np_zkey(strategy, t.column("phash").to_numpy(), wh)
            t = t.append_column("zkey", pa.array(zk, pa.int64()))
            added.append(
                stats_entry_for(t, p, os.path.getsize(os.path.join(root, p)))
            )
    return pa.Table.from_pylist(added, schema=FILE_ENTRY_SCHEMA), stage_dir, n_files


def _cluster_short_circuit(
    table: Table, job_id: str, strategy: str, guard: str
) -> ClusterResult | None:
    """Shared cluster-job prologue: committed-marker idempotency (a rerun
    after a crash between mark_committed and stage cleanup must still sweep
    its dead staging shards) + the pending-MoR-delete CoW guard."""
    prev = lineage.committed_snapshot(table.root, job_id)
    if prev is not None:
        import glob as _glob
        import shutil as _shutil

        _shutil.rmtree(
            os.path.join(table.root, "_stage", job_id), ignore_errors=True
        )
        # partitioned clustering stages per-group sub-jobs at {job_id}-part*
        for d in _glob.glob(os.path.join(table.root, "_stage", f"{job_id}-part*")):
            _shutil.rmtree(d, ignore_errors=True)
        return ClusterResult(prev, job_id, strategy, 0, 0, 0)
    from nessie_spark.lakehouse.deletes import require_no_pending_deletes

    require_no_pending_deletes(table, guard)
    return None


def _cluster_commit(
    table: Table,
    job_id: str,
    strategy: str,
    stats,
    deleted_paths: set,
    operation: str,
    summary: dict,
    metrics: dict,
    stage_dir: str | list | None,
    carried_manifest_summaries: list | None,
) -> ClusterResult:
    """Shared cluster-job epilogue: lineage unit → atomic snapshot commit →
    committed marker → staging sweep. Crash-recovery contract lives HERE
    once for both the full and the incremental rewrite."""
    out_paths = stats.column("file_path").to_pylist()
    rows = int(sum(stats.column("record_count").to_pylist() or [0]))
    lineage.write_unit(
        table.root, job_id, strategy, 0,
        input_files=sorted(deleted_paths), output_files=out_paths, rows=rows,
        nbytes=int(sum(stats.column("file_size_bytes").to_pylist() or [0])),
        metrics=metrics,
    )
    snap = table.commit(
        operation,
        added=stats,
        deleted_paths=deleted_paths,
        carried_manifest_summaries=carried_manifest_summaries,
        summary=summary,
    )
    lineage.mark_committed(table.root, job_id, snap)
    if stage_dir:  # staging shards are dead once the snapshot is durable
        import shutil as _shutil

        dirs = stage_dir if isinstance(stage_dir, list) else [stage_dir]
        for d in dirs:
            _shutil.rmtree(d, ignore_errors=True)
    return ClusterResult(
        snap, job_id, strategy, len(deleted_paths), len(out_paths), rows
    )


def _cluster_respec(
    spark: SparkSession,
    table: Table,
    entries: list[dict],
    strategy: str,
    target_bytes: int,
    job_id: str,
    reencode: bool,
    operation: str,
    carried_manifest_summaries: list | None,
    summary_extra: dict,
    incremental: bool,
) -> ClusterResult:
    """Spec-alignment clustering: one-pass shuffle rewrite used whenever
    some input file's recorded partition segments don't match the CURRENT
    spec (partition-spec evolution, pre-spec history). Rows re-derive
    their partition value from data, the global sort key is (pval, zkey)
    so the writer's per-value split yields partition-pure, zkey-disjoint
    files — exactly one sorted run per value in a single exchange.

    Scale note: this is the JVM-shuffle executor (fat binary rows through
    the exchange, the ~2x memory-traffic tax run_staged exists to avoid)
    — acceptable because spec evolution is a rare administrative event;
    steady-state partitioned clustering takes the per-value staged loop."""
    from nessie_spark.lakehouse.partition import PVAL_COL, stamp_pval, table_spec
    from nessie_spark.lakehouse.scan import IMAGES_DDL
    from nessie_spark.lakehouse.writer import ddl_columns, write_partition_files

    root = table.root
    spec = table_spec(table)
    paths = [e["file_path"] for e in entries]
    total_bytes = sum(e["file_size_bytes"] for e in entries)
    n_files = max(1, math.ceil(total_bytes / target_bytes))
    key = zorder_key(strategy)
    ddl = table.meta.get("schema", IMAGES_DDL)
    # field-id-aware read: inputs written before a rename/drop project onto
    # the current names (scan._read_data_files; identity fast path when the
    # table has no such history)
    from nessie_spark.lakehouse.scan import _read_data_files, _target_fields

    df = _read_data_files(
        spark, table, entries, ddl, _target_fields(table, None, ddl)
    ).withColumn("zkey", key(F.col("phash"), F.col("w"), F.col("h")))
    df = (
        stamp_pval(df, spec)
        .repartitionByRange(n_files, F.col(PVAL_COL), F.col("zkey"))
        .sortWithinPartitions(PVAL_COL, "zkey")
    )
    from nessie_spark.session import no_coalesce

    with no_coalesce(spark):
        stats = write_partition_files(
            df, root, job_id, "respec", data_columns=ddl_columns(ddl),
            reencode=reencode,
        ).toArrow()
    return _cluster_commit(
        table, job_id, strategy, stats,
        deleted_paths=set(paths),
        operation=operation,
        summary=dict(
            {"job_id": job_id, "strategy": strategy, "respec": True},
            **summary_extra,
        ),
        metrics={"n_files_planned": float(n_files), "respec": 1.0,
                 "incremental": float(incremental)},
        stage_dir=None,
        carried_manifest_summaries=carried_manifest_summaries,
    )


def _cluster_partitioned(
    spark: SparkSession,
    table: Table,
    entries: list[dict],
    strategy: str,
    target_bytes: int,
    job_id: str,
    reencode: bool,
    operation: str,
    carried_manifest_summaries: list | None,
    summary_extra: dict,
    incremental: bool,
) -> ClusterResult:
    """Per-partition clustering loop for hidden-partitioned tables
    (lakehouse/partition.py): data files never span partition values, so
    the curve order is built WITHIN each value — one equi-depth plan and
    one staged rewrite per partition group, all committed as a single
    atomic snapshot stamping each output entry with its group's value.

    Resume contract: the group list (paths + value per group) is pinned to
    ``_stage/{job_id}/GROUPS.json`` before any work — a rerun after a crash
    replays the SAME groups (each sub-run resumes from its own pinned
    PLAN.json); re-deriving groups from a table that gained appends
    mid-crash would widen the job past its plan. Planned inputs no longer
    live raise inside run_staged, same as the unpartitioned path.

    Scale: partition count is the table's layout knob (bounded); bytes per
    partition is what actually grows, and that stays inside run_staged's
    data-sized scatter/gather bins. The loop is sequential over groups but
    each group's rewrite uses the whole cluster.
    """
    import pyarrow as pa

    from nessie_spark.lakehouse.partition import parse_partition, segment_name, table_spec
    from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA

    # spec-alignment check: a file written under an older spec (or before
    # any spec) carries different segment names — its rows may map to
    # SEVERAL current values, so whole-file grouping can't regroup it.
    # Any misalignment routes the ENTIRE job through the one-pass shuffle
    # respec rewrite (rows re-derive values from data); resume of an
    # in-flight grouped run (GROUPS.json present) keeps its pinned plan.
    spec_now = table_spec(table)
    seg_names = {segment_name(f) for f in (spec_now or [])}
    groups_pinned_path = os.path.join(table.root, "_stage", job_id, "GROUPS.json")
    if not os.path.exists(groups_pinned_path) and any(
        set(parse_partition(e.get("partition") or "")) != seg_names for e in entries
    ):
        return _cluster_respec(
            spark, table, entries, strategy, target_bytes, job_id, reencode,
            operation, carried_manifest_summaries, summary_extra, incremental,
        )

    root = table.root
    stage_parent = os.path.join(root, "_stage", job_id)
    gpath = os.path.join(stage_parent, "GROUPS.json")
    if os.path.exists(gpath):
        with open(gpath) as fh:
            groups = json.load(fh)["groups"]
        live = {
            e["file_path"]: e
            for e in table.file_entries(columns=ENTRY_COLUMNS).to_pylist()
        }
        pinned_paths = {pp for g in groups for pp in g["paths"]}
        # same resume contract as the unpartitioned full rewrite: the
        # PINNED plan must still describe the table. An input that is no
        # longer live was rewritten by another job (replaying would
        # resurrect/duplicate its rows); for a FULL rewrite (carried=[])
        # a live file OUTSIDE the plan — appended after the crash — would
        # silently vanish from the committed snapshot.
        gone = sorted(pinned_paths - set(live))
        if gone:
            raise ValueError(
                f"partitioned cluster {job_id!r} planned against "
                f"{len(gone)} input file(s) no longer live (e.g. "
                f"{gone[0]}); the table changed since the crashed attempt "
                "— rerun with a NEW job_id"
            )
        if not incremental:
            extra = sorted(set(live) - pinned_paths)
            if extra:
                raise ValueError(
                    f"partitioned cluster {job_id!r} pinned a full-rewrite "
                    f"plan that misses {len(extra)} live file(s) appended "
                    f"since the crash (e.g. {extra[0]}); committing it "
                    "would drop their rows — rerun with a NEW job_id"
                )
        grouped = [
            (g["pval"], [live[pp] for pp in g["paths"]], g["paths"])
            for g in groups
        ]
    else:
        by: dict[str, list[dict]] = {}
        for e in entries:
            by.setdefault(e.get("partition") or "", []).append(e)
        grouped = [
            (pv, by[pv], [e["file_path"] for e in by[pv]]) for pv in sorted(by)
        ]
        os.makedirs(stage_parent, exist_ok=True)
        tmp = gpath + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(
                {"groups": [{"pval": pv, "paths": ps} for pv, _g, ps in grouped]},
                fh,
            )
        os.replace(tmp, gpath)

    all_stats: list[pa.Table] = []
    stage_dirs: list = [stage_parent]
    deleted: set = set()
    n_planned = 0
    for i, (pval, g, gpaths) in enumerate(grouped):
        stats_g, sd, n_g = run_staged(
            spark, table, f"{job_id}-part{i:04d}", strategy, reencode,
            target_bytes, entries=g,
        )
        if stats_g.num_rows:
            idx = stats_g.schema.get_field_index("partition")
            stats_g = stats_g.set_column(
                idx, "partition", pa.array([pval] * stats_g.num_rows, pa.string())
            )
        all_stats.append(stats_g)
        stage_dirs.append(sd)
        deleted |= set(gpaths)
        n_planned += n_g

    nonempty = [s_ for s_ in all_stats if s_.num_rows]
    stats = (
        pa.concat_tables(nonempty) if nonempty else FILE_ENTRY_SCHEMA.empty_table()
    )
    return _cluster_commit(
        table, job_id, strategy, stats,
        deleted_paths=deleted,
        operation=operation,
        summary=dict(
            {"job_id": job_id, "strategy": strategy, "partitions": len(grouped)},
            **summary_extra,
        ),
        metrics={
            "n_files_planned": float(n_planned),
            "partition_groups": float(len(grouped)),
            "incremental": float(incremental),
        },
        stage_dir=stage_dirs,
        carried_manifest_summaries=carried_manifest_summaries,
    )


def cluster(
    spark: SparkSession,
    table: Table,
    strategy: str = "morton",
    target_bytes: int = DEFAULT_TARGET,
    job_id: str | None = None,
    reencode: bool = False,
) -> ClusterResult:
    """Rewrite the whole live file set in space-filling-curve order, one
    data file of about ``target_bytes`` per zkey bucket (``run_staged``).

    ``reencode``: decode → re-encode → PSNR-verify every image during the
    rewrite (north_star pixel path; ``kernels.reencode_verify`` in the
    gather of ``run_staged``)."""
    job_id = job_id or f"zorder-{uuid.uuid4().hex[:8]}"

    done = _cluster_short_circuit(table, job_id, strategy, "zorder cluster")
    if done is not None:
        return done

    entries = table.file_entries(
        columns=[*ENTRY_COLUMNS, "partition"]
    ).to_pylist()
    if not entries:
        return ClusterResult(None, job_id, strategy, 0, 0, 0)
    from nessie_spark.lakehouse.partition import table_spec

    if table_spec(table):
        # hidden-partitioned table: curve-order WITHIN each partition value
        # (files must not span values or pruning dies) — including when
        # every file is still pre-spec ("" segments ≠ spec segments routes
        # through the respec rewrite, which is how set_partition_spec on an
        # existing table gets materialized)
        return _cluster_partitioned(
            spark, table, entries, strategy, target_bytes, job_id, reencode,
            operation=strategy if strategy != "morton" else "zorder",
            carried_manifest_summaries=[],  # full rewrite: nothing carried
            summary_extra={}, incremental=False,
        )

    # move every row to its zkey bucket, one file per bucket
    stats, stage_dir, n_files = run_staged(
        spark, table, job_id, strategy, reencode, target_bytes
    )
    return _cluster_commit(
        table, job_id, strategy, stats,
        deleted_paths={e["file_path"] for e in entries},
        operation=strategy if strategy != "morton" else "zorder",
        summary={"job_id": job_id, "strategy": strategy},
        metrics={"n_files_planned": float(n_files),
                 "strategy_hilbert": float(strategy == "hilbert")},
        stage_dir=stage_dir,
        carried_manifest_summaries=[],  # full rewrite: nothing carried
    )


def cluster_incremental(
    spark: SparkSession,
    table: Table,
    strategy: str = "morton",
    target_bytes: int = DEFAULT_TARGET,
    job_id: str | None = None,
    reencode: bool = False,
) -> ClusterResult:
    """Minor (incremental) clustering: Z-order ONLY the files that have
    never been curve-ordered — fresh appends and compaction outputs, whose
    manifest entries carry NULL zorder stats — into one new sorted run,
    carrying every already-clustered file forward untouched.

    The LSM analog of ``cluster``: at 10^12 images a full-table rewrite
    after every append batch is absurd (cost ∝ table), while this job's
    cost is ∝ the DELTA — it reads and rewrites only the unclustered bytes.
    The table afterwards holds multiple sorted runs, each internally
    disjoint in zkey; tier-2 pruning already skips per file on zorder_lo/hi
    whatever run a file belongs to, so a phash-range scan pays one extra
    candidate file per run at worst, versus reading EVERY delta file when
    the delta has no stats at all. ``maintain`` escalates to the full
    ``cluster`` rewrite (merging all runs) only when runs pile past the
    policy's ``max_sorted_runs`` — the classic minor/major compaction
    split, amortizing full-rewrite IO across many append cycles.

    Same staged two-phase executor, resume contract (pinned plan; planned
    inputs must all still be live — files appended after a crash stay
    outside the job), idempotent commit marker, and pixel path
    (``reencode``) as ``cluster``. Reference parity: no analog (the
    reference is a single-node library); this is Iceberg's
    ``rewrite_data_files(strategy => 'sort', where => <new files>)`` role.
    """
    job_id = job_id or f"zdelta-{uuid.uuid4().hex[:8]}"
    root = table.root

    done = _cluster_short_circuit(
        table, job_id, strategy, "incremental zorder cluster"
    )
    if done is not None:
        return done

    live = {
        e["file_path"]: e
        for e in table.file_entries(
            columns=[*ENTRY_COLUMNS, "zorder_lo", "partition"]
        ).to_pylist()
    }
    from nessie_spark.lakehouse.partition import table_spec

    if table_spec(table):
        groups_pinned = os.path.exists(
            os.path.join(root, "_stage", job_id, "GROUPS.json")
        )
        delta = [e for e in live.values() if e["zorder_lo"] is None]
        if groups_pinned or delta:
            # hidden-partitioned delta: per-partition sorted runs (same
            # group pinning / resume contract as the full partitioned
            # rewrite; carried=None keeps the untouched base runs). A
            # delta written under an older/absent spec routes through the
            # respec rewrite inside, regrouping it under the current spec.
            return _cluster_partitioned(
                spark, table, delta, strategy, target_bytes, job_id, reencode,
                operation="zorder-delta",
                carried_manifest_summaries=None,
                summary_extra={"delta_files": len(delta)},
                incremental=True,
            )

    # Resume replays the PINNED delta: the plan's scatter bins define the
    # input set (and the commit's deleted set) — re-deriving "unclustered"
    # from a table that gained appends mid-crash would silently widen the
    # job past its plan.
    pinned = _pinned_plan(root, job_id)
    if pinned is not None:
        delta_paths = [p for b in pinned["sbins"] for p in b]
        delta = [live[p] for p in delta_paths if p in live]  # run_staged
        # raises on any missing planned input before work starts
    else:
        delta = [e for e in live.values() if e["zorder_lo"] is None]
        delta_paths = [e["file_path"] for e in delta]
        if not delta:
            return ClusterResult(None, job_id, strategy, 0, 0, 0)

    stats, stage_dir, n_files = run_staged(
        spark, table, job_id, strategy, reencode, target_bytes, entries=delta
    )
    return _cluster_commit(
        table, job_id, strategy, stats,
        deleted_paths=set(delta_paths),
        operation="zorder-delta",
        summary={"job_id": job_id, "strategy": strategy,
                 "delta_files": len(delta_paths)},
        metrics={"n_files_planned": float(n_files), "incremental": 1.0},
        stage_dir=stage_dir,
        carried_manifest_summaries=None,  # carry the untouched base runs
    )
