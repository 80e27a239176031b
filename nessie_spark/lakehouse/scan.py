"""Snapshot-pinned table scan with manifest-stats file pruning.

Two pruning layers (SURVEY.md §4.2):
1. *manifest-level* (here): predicate intervals against per-file min/max
   stats prune whole files before Spark ever lists them — at 10^12-image
   scale this is the difference between touching 10 files and 10 million;
2. *row-group-level* (free): the same predicate is re-applied to the
   DataFrame, so Parquet footer min/max prunes row groups and the scan shows
   ``PushedFilters`` in ``.explain``.

``on_driver`` is the engine's one rule for whether work runs on the driver
or as Spark jobs; planning, this reader and the maintenance jobs all ask it.
``_map_units`` is the one runner of the units it places: tier-2 planning
(one unit per manifest), Z-order pass 1 and every rewrite run the same
Arrow code in this process or as one Spark task per unit.

Two readers serve the planned files. Small plans — planned data files
whose total size ``on_driver`` accepts, without ``with_pos`` — are read on
the driver with pyarrow (``_read_partition_table``, the same per-file
reader the ``format("nessie")`` source runs in its tasks) and handed to
Spark as a ``LocalRelation``, so a point lookup's ``collect()`` starts no
Spark job. Everything else is one Spark parquet scan
(``_read_data_files``) with the delete subtraction as joins.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition

from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA, Table

IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


DRIVER_MAX_ENTRIES = 65_536


def on_driver(spark: SparkSession, *, entries: int = 0, nbytes: int = 0) -> bool:
    """The one rule for where work runs: True when work over ``entries``
    manifest entries and ``nbytes`` data-file bytes runs on the driver,
    False when it runs as Spark jobs.

    The work stays on the driver when it holds at most DRIVER_MAX_ENTRIES
    entries and at most Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` bytes (48 MiB by
    default). Below both limits a Spark job costs more than the work;
    above either, at 10^12-image scale, the entry list or the data is too
    big to cross the driver. These jobs ask it: ``plan_files`` tier 2
    (``entries`` counts the surviving manifests' entries), the ``scan``
    reader, expiry and orphan GC (``expire._unreferenced``),
    ``rewrite_manifests``, compaction planning, Z-order pass 1, and the
    rewrite units of compaction, Z-order clustering and ``purge_deletes``
    (``entries`` and ``nbytes`` count the job's input data files). Pixel
    work (decode, re-encode, PSNR checks) never asks: it runs as Spark
    tasks at every size, one task per unit. Z-order pass 1 asks without
    that clause even for a re-encoding job, because it reads only three
    int columns and no pixel: a small job cuts exactly on the driver.

    ``jobs.append`` asks ``df.isLocal()`` instead, because its rows either
    are on the driver already or are not. The same conf decides that:
    ``createDataFrame`` of an Arrow table or a pandas frame stays a local
    relation only up to the byte limit. A conf of 0 with DRIVER_MAX_ENTRIES
    at 0 sends all six to Spark."""
    return (
        entries <= DRIVER_MAX_ENTRIES
        and nbytes <= spark._jconf.arrowLocalRelationThreshold()
    )


def _map_units(spark: SparkSession, fn, units: list, driver: bool) -> list:
    """Run a job's work units and return ``fn``'s results in unit order:
    planning units (``plan_files`` tier 2, one per manifest; Z-order
    pass 1, one per scatter bin) and rewrite units (compaction bins,
    Z-order scatter bins and gather units, purge candidates).
    ``driver``: the job's placement, ``on_driver(...)`` over its input
    (for a rewrite, ``not pixels and on_driver(...)``); the units then run
    in this process one after another. Otherwise each unit is one Spark
    task, placed positionally by ``parallelize(units, len(units))``.
    Planning units write nothing. Each rewrite unit records its own
    lineage and names its outputs by unit id, so a job crashed on one
    placement resumes on the other."""
    if driver:
        return [fn(u) for u in units]
    if not units:
        return []
    return spark.sparkContext.parallelize(units, len(units)).map(fn).collect()


def prune_manifest_summaries(
    summaries: list[dict],
    key_eq: str | None = None,
    key_range: tuple[str, str] | None = None,
    expected_partition: dict | None = None,
) -> list[dict]:
    """Tier-1 pruning: drop whole MANIFESTS whose [min_key, max_key] cannot
    contain the predicate, or whose single hidden-partition label
    contradicts a pinned partition segment. The manifest list is one row
    per manifest, so this is O(#manifests) driver work no matter how many
    entries they hold. Effective when manifests are key-clustered
    (rewrite_manifests range-partitions on (partition,) min_key; appends
    are naturally key-local); a manifest with NULL key stats or NULL/mixed
    partition label is kept (unknown ⇒ possible hit)."""
    from nessie_spark.lakehouse.partition import entry_matches

    out = []
    for m in summaries:
        pv = m.get("partition")
        if expected_partition and pv and not entry_matches(pv, expected_partition):
            continue
        lo, hi = m.get("min_key"), m.get("max_key")
        if lo is None or hi is None:
            out.append(m)
            continue
        if key_eq is not None and (lo > key_eq or hi < key_eq):
            continue
        if key_range and (hi < key_range[0] or lo > key_range[1]):
            continue
        out.append(m)
    return out


def plan_files(
    table: Table,
    snapshot_id: int | None = None,
    phash_range: tuple[int, int] | None = None,
    wh_range: tuple[int, int] | None = None,
    zkey_range: tuple[int, int] | None = None,
    key_range: tuple[str, str] | None = None,
    key_eq: str | None = None,
    source_eq: dict | None = None,
    spark: SparkSession | None = None,
) -> list[dict]:
    """Return live file entries surviving stats pruning: the PLAN_COLUMNS
    of each, plus ``key_bloom`` for a ``key_eq`` lookup.

    ``source_eq``: hidden-partition pruning — equality predicates on
    partition SOURCE columns (e.g. ``{"fmt": "png"}``), mapped through the
    table's partition spec (lakehouse/partition.py) to the manifest
    ``partition`` segments they pin; runs as tier 0, before any stats.
    Ignored (with every file kept) when the table has no spec or no pinned
    source; pre-spec files ("" partition) are never pruned.

    Tier 1 always runs on the driver: the manifest LIST's per-manifest key
    ranges drop whole manifests (prune_manifest_summaries). Tier 2 — the
    per-file partition and stats checks — is ``_prune_manifest``, one unit
    per surviving manifest, run by ``_map_units``: on the driver, or as
    one Spark task per manifest when ``spark`` is given and ``on_driver``
    refuses the surviving manifests' entry count. At 10^12-image scale the
    entry list itself is GBs, and only the SURVIVORS cross the driver.

    ``key_eq``: point lookup on image_id — prunes on BOTH the min/max key
    range and the per-file key bloom (lakehouse/bloom.py). After a Z-order
    rewrite every file's key range is wide (rows are curve-ordered, not
    id-ordered), so the bloom is what keeps a single-image fetch from
    listing the whole table."""
    expected = None
    if source_eq:
        from nessie_spark.lakehouse.partition import expected_segments, table_spec

        spec = table_spec(table)
        expected = expected_segments(spec, source_eq) if spec else None
    mans = prune_manifest_summaries(
        table.manifest_summaries(snapshot_id), key_eq=key_eq,
        key_range=key_range, expected_partition=expected,
    )
    if not mans:
        return []
    n_entries = sum(m["n_entries"] or 0 for m in mans)
    units = [
        (
            os.path.join(table.root, m["manifest_path"]),
            phash_range, wh_range, zkey_range, key_range, key_eq, expected,
        )
        for m in mans
    ]
    driver = spark is None or on_driver(spark, entries=n_entries)
    return _rows(pa.concat_tables(_map_units(spark, _prune_manifest, units, driver)))


def _rows(tbl: pa.Table) -> list[dict]:
    """``tbl.to_pylist()``, faster: numpy converts each column that has no
    NULL or holds strings or bytes (a NULL stays None), about ten times
    faster than ``to_pylist`` at 10^6 entries."""
    cols = [
        c.to_numpy(zero_copy_only=False).tolist()
        if c.null_count == 0 or pa.types.is_string(c.type) or pa.types.is_binary(c.type)
        else c.to_pylist()
        for c in tbl.columns
    ]
    names = tbl.column_names
    return [dict(zip(names, r)) for r in zip(*cols)]


# what the readers of a plan use: the file, its partition value, its row
# and byte counts, its key range (equality deletes are pruned by it) and
# what resolves its schema (lakehouse/fields.py entry_schema_id)
PLAN_COLUMNS = [
    "file_path", "partition", "record_count", "file_size_bytes",
    "min_key", "max_key", "added_snapshot_id", "schema_id",
]


def _prune_manifest(unit: tuple) -> pa.Table:
    """Tier-2 pruning of one manifest, the one implementation on both
    placements of ``plan_files``. ``unit``: (manifest path, phash_range,
    wh_range, zkey_range, key_range, key_eq, expected partition segments).

    Vectorized Arrow masks drop an entry whose [min, max] misses a range;
    a NULL stat is unknown and keeps the entry (an unclustered file has a
    NULL ``zorder_lo``). The partition check runs ``entry_matches`` once
    per distinct ``partition`` value and keeps the matching ones with
    ``is_in``. The key bloom is probed only for the survivors of the range
    masks, and read only for a ``key_eq`` lookup. Returns the survivors'
    PLAN_COLUMNS, plus ``key_bloom`` for a lookup."""
    import functools

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from nessie_spark.lakehouse.bloom import bloom_might_contain
    from nessie_spark.lakehouse.partition import entry_matches

    path, phash_range, wh_range, zkey_range, key_range, key_eq, expected = unit
    ranges = [
        (lo, hi, rng) for lo, hi, rng in (
            ("min_phash", "max_phash", phash_range),
            ("min_wh", "max_wh", wh_range),
            ("zorder_lo", "zorder_hi", zkey_range),
            ("min_key", "max_key", key_range),
            ("min_key", "max_key", None if key_eq is None else (key_eq, key_eq)),
        ) if rng
    ]
    # blooms are most of an entry's bytes: read them only for a lookup,
    # and a stat only for a range that checks it
    bloom = ["key_bloom"] if key_eq is not None else []
    cols = dict.fromkeys([*PLAN_COLUMNS, *(c for lo, hi, _ in ranges for c in (lo, hi)), *bloom])
    with pq.ParquetFile(path) as pf:
        stored = set(pf.schema_arrow.names)
        ents = pf.read(columns=[c for c in cols if c in stored])
    # a manifest written before a column existed reads it as NULL
    for c in cols:
        if c not in stored:
            f = FILE_ENTRY_SCHEMA.field(c)
            ents = ents.append_column(f, pa.nulls(ents.num_rows, f.type))
    drop = []
    if expected:
        part = ents.column("partition")
        ok = [v for v in pc.unique(part).to_pylist() if entry_matches(v, expected)]
        drop.append(pc.invert(pc.is_in(part, value_set=pa.array(ok, pa.string()))))
    for lo, hi, rng in ranges:
        # an int past int64 has no Arrow scalar: clamp it to int64's ends
        a, b = (min(max(v, -(2**63)), 2**63 - 1) if isinstance(v, int) else v for v in rng)
        drop.append(pc.or_kleene(pc.less(ents.column(hi), a), pc.greater(ents.column(lo), b)))
    if drop:
        ents = ents.filter(pc.invert(pc.fill_null(functools.reduce(pc.or_kleene, drop), False)))
    if key_eq is not None:
        hits = [bloom_might_contain(b, key_eq) for b in ents.column("key_bloom").to_pylist()]
        ents = ents.filter(pa.array(hits, pa.bool_()))
    # one chunk: each chunk of a parquet read pickles the whole buffer it
    # shares with the others, so a Spark task returning 10^6 entries in 8
    # chunks sent 1.4 GB instead of 0.17 GB
    return ents.select([*PLAN_COLUMNS, *bloom]).combine_chunks()


# Snapshot operations that only REWRITE existing rows (same logical data,
# new file layout) — an incremental append scan skips them entirely.
_REWRITE_OPS = {"compact", "zorder", "hilbert", "zorder-delta",
                "rewrite-manifests", "expire", "gc", "set-schema",
                "purge-deletes"}


def _snapshot_ddl(table: Table, snapshot_id: int | None) -> str:
    """Schema current as of the snapshot (recorded at commit), i.e. the
    NAMES a reader of that snapshot sees — files written under earlier
    schema versions are projected onto it by field id (_read_data_files).
    Pre-evolution metadata (no recorded schema) falls back to the table's."""
    snap = table.snapshot(snapshot_id)
    return (snap or {}).get("schema") or table.meta.get("schema", IMAGES_DDL)


def _target_fields(table: Table, snapshot_id: int | None, ddl: str) -> list[dict]:
    """The field-id projection a scan of this snapshot presents (fields.py).
    Post-model snapshots resolve through the recorded schema_id; legacy
    snapshots get positional ids on their recorded DDL — exact, because
    names could not have changed before the model existed."""
    from nessie_spark.lakehouse import fields as FM

    snap = table.snapshot(snapshot_id)
    if (
        snap is not None
        and snap.get("schema_id") is not None
        and "schemas" in table.meta
    ):
        return FM.schema_fields(table.meta, int(snap["schema_id"]))
    return FM.fields_from_ddl(ddl)


def _pos_provenance_cols() -> list:
    """Row provenance for positional deletes: the table-relative data-file
    path and the row's position within it, straight from the parquet
    reader's ``_metadata`` pseudo-columns (zero extra IO). Data files are
    always flat under ``<root>/data/`` with slash-free basenames (every
    writer emits ``data/{job_id}-...parquet``), so ``data/<basename>`` IS
    the relative path manifests store — robust to relative roots,
    symlinks, URI schemes (``file:`` vs a bare path), and table roots
    that themselves end in ``/data`` (splitting the URI on ``/data/``
    mis-parsed that case: ``.../data/data/f.parquet`` lost a segment and
    purge matched zero files)."""
    rel = F.concat(
        F.lit("data/"),
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    )
    return [
        rel.alias("__fp"),
        F.col("_metadata.row_index").alias("__pos"),
    ]


def _read_data_files(
    spark: SparkSession,
    table: Table,
    entries: list[dict],
    ddl: str,
    target_fields: list[dict],
    with_pos: bool = False,
) -> DataFrame:
    """Read planned data files projected onto ``target_fields`` by FIELD ID.

    Files group by the schema version they were written under (manifest
    ``schema_id``; legacy entries resolve via added_snapshot_id); each
    group reads with its PHYSICAL column names and re-aliases to the
    target names, NULL-filling ids the source schema lacks. When every
    group's projection is the identity (no rename/drop in play — the
    overwhelmingly common case) this collapses to the single
    ``spark.read.schema(ddl)`` fast path: one scan node, zero overhead.

    Scale: group count is bounded by live schema VERSIONS (single digits),
    not files; each group is one parquet scan with full pushdown, unioned
    by name — Catalyst still prunes columns/filters per branch."""
    from nessie_spark.lakehouse import fields as FM

    snap_sids = FM.sid_by_snapshot(table.meta)
    groups: dict[int, list[str]] = {}
    for e in entries:
        groups.setdefault(FM.entry_schema_id(e, snap_sids), []).append(
            e["file_path"]
        )
    projs = {
        sid: FM.projection(table.meta, sid, target_fields) for sid in groups
    }
    src_names = {
        sid: {f["name"] for f in FM.schema_fields(table.meta, sid)}
        for sid in groups
    }
    if all(FM.is_identity(projs[sid], src_names[sid]) for sid in groups):
        paths = [
            os.path.join(table.root, p) for g in groups.values() for p in g
        ]
        df = spark.read.schema(ddl).parquet(*paths)
        return df.select("*", *_pos_provenance_cols()) if with_pos else df
    parts = []
    for sid in sorted(groups):
        proj = projs[sid]
        # read at the STORED type (widened fields cast up in the select)
        phys_ddl = ", ".join(
            f"{phys} {styp}" for phys, styp, _cur, _typ in proj if phys is not None
        )
        gdf = spark.read.schema(phys_ddl).parquet(
            *[os.path.join(table.root, p) for p in groups[sid]]
        )
        parts.append(
            gdf.select(
                *[
                    (
                        F.col(phys).cast(typ) if styp != typ else F.col(phys)
                    ).alias(cur)
                    if phys is not None
                    else F.lit(None).cast(typ).alias(cur)
                    for phys, styp, cur, typ in proj
                ],
                *(_pos_provenance_cols() if with_pos else []),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class FilePartition(InputPartition):
    """One data file: everything a reader needs, self-contained — the
    format("nessie") source ships it to a task; scan() reads it on the
    driver."""

    root: str
    rel_path: str
    # field-id projection rows: (physical_name|None, stored_type|None,
    # current_name, target_type) — fields.projection()
    proj: list
    eq_dels: list = field(default_factory=list)  # [(rel_path, min_key, max_key)]
    pos_dels: list = field(default_factory=list)  # [rel_path]
    # pushed predicates as (current_name, op, value) pyarrow filter tuples —
    # row-group/page skipping INSIDE the file, on top of file pruning.
    # Applied only when no positional delete names the file (pre-filtering
    # would break the row-position mapping); callers re-apply every filter
    # row-wise regardless, so this is purely an IO reduction.
    arrow_filters: list = field(default_factory=list)


def _read_partition_table(p: FilePartition, mor: bool = True) -> pa.Table:
    """Read one data file projected onto the target schema by field id,
    with merge-on-read delete subtraction (the pyarrow twin of the joins
    in scan()). The one pyarrow reader of data files: the driver scan, the
    ``format("nessie")`` source, Z-order pass 1 (``zorder._key_unit``) and
    every rewrite unit (``_unit_inputs``) read through here — pass 1,
    compaction bins and the Z-order scatter with ``mor=False``,
    ``purge_deletes`` with ``mor=True``, so a purge writes exactly the
    rows the scan shows."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from nessie_spark.lakehouse import fields as FM
    from nessie_spark.lakehouse.writer import _DDL_ARROW

    path = os.path.join(p.root, p.rel_path)
    # a file written from a frame that lacked an added column does not
    # store it although its schema version has it: read what the file
    # holds, and remap_arrow NULL-fills the rest. The file is opened once
    # unless a filter is pushed into the read
    with pq.ParquetFile(path) as pf:
        stored = set(pf.schema_arrow.names)
        phys_cols = [ph for ph, _s, _c, _t in p.proj if ph in stored]
        read_filters = None
        if p.arrow_filters and not p.pos_dels:
            # translate pushed predicates to the file's PHYSICAL names; a
            # comparison on a field this file does not store can never hold
            # (the column reads as NULL) — skip the file outright
            phys_of = {cur: ph for ph, _s, cur, _t in p.proj}
            read_filters = []
            for cur, op, val in p.arrow_filters:
                if cur not in phys_of:
                    continue  # not a projected column; re-applied row-wise anyway
                ph = phys_of[cur]
                if ph not in stored:
                    return FM.remap_arrow(pa.table({}), p.proj, _DDL_ARROW)
                read_filters.append((ph, op, val))
            read_filters = read_filters or None
        tbl = (
            pf.read(columns=phys_cols) if read_filters is None
            else pq.read_table(path, columns=phys_cols, filters=read_filters)
        )
    # field-id projection: rename/NULL-fill/widen — the ONE shared
    # implementation (fields.remap_arrow), so rename/drop safety rules
    # never drift between the Spark read and this reader
    out = FM.remap_arrow(tbl, p.proj, _DDL_ARROW)
    if not mor:
        return out
    # positional deletes FIRST: positions index the file's row order,
    # which the projection above preserves and the equality filter below
    # would destroy. Pos files are sorted by file_path → footer pruning.
    pos_list: list[int] = []
    for dp in p.pos_dels:
        ptb = pq.read_table(
            os.path.join(p.root, dp),
            filters=[("file_path", "==", p.rel_path)],
            columns=["pos"],
        )
        if ptb.num_rows:
            pos_list.extend(ptb.column("pos").to_pylist())
    if pos_list:
        keep = np.ones(out.num_rows, dtype=bool)
        keep[np.asarray(pos_list, dtype=np.int64)] = False
        out = out.filter(pa.array(keep))
    if p.eq_dels and out.num_rows:
        mn = pc.min(out.column("image_id")).as_py()
        mx = pc.max(out.column("image_id")).as_py()
        chunks = []
        for dp, dmn, dmx in p.eq_dels:
            if dmx < mn or dmn > mx:
                continue  # key ranges disjoint — skip the read entirely
            kt = pq.read_table(
                os.path.join(p.root, dp),
                filters=[("image_id", ">=", mn), ("image_id", "<=", mx)],
            )
            if kt.num_rows:
                chunks.append(kt.column("image_id").combine_chunks())
        if chunks:
            keys = pa.concat_arrays(
                [c.chunk(0) if isinstance(c, pa.ChunkedArray) else c for c in chunks]
            )
            out = out.filter(
                pc.invert(pc.is_in(out.column("image_id"), value_set=keys))
            )
    return out


def _partitions_for_entries(
    table: Table, entries: list[dict], snapshot_id: int | None, ddl: str,
    mor: bool = True, columns: set | None = None, arrow_filters: list | None = None,
) -> list[FilePartition]:
    """Per-entry field-id projection + the delete files applicable to each
    entry. ``columns``: project only these target names (the rest of the
    file is never read)."""
    from nessie_spark.lakehouse import fields as FM
    from nessie_spark.lakehouse.deletes import split_delete_kinds

    tfields = _target_fields(table, snapshot_id, ddl)
    if columns is not None:
        tfields = [f for f in tfields if f["name"] in columns]
    snap_sids = FM.sid_by_snapshot(table.meta)
    projs: dict[int, list] = {}
    eq_dels, pos_dels = ([], [])
    if mor:
        eq, pos = split_delete_kinds(table.delete_files(snapshot_id))
        eq_dels = [(d["file_path"], d["min_key"], d["max_key"], d["snapshot_id"]) for d in eq]
        # a pos-delete file's min/max_key record its min/max TARGET data
        # file path (deletes.py) — prune per data file here so a reader
        # opens only the delete files that can name it, not all of them
        pos_dels = [(d["file_path"], d["min_key"], d["max_key"]) for d in pos]
    parts = []
    for e in entries:
        sid = FM.entry_schema_id(e, snap_sids)
        if sid not in projs:
            projs[sid] = FM.projection(table.meta, sid, tfields)
        added = int(e.get("added_snapshot_id") or 0)
        e_mn, e_mx = e.get("min_key"), e.get("max_key")
        parts.append(
            FilePartition(
                root=table.root,
                rel_path=e["file_path"],
                proj=projs[sid],
                # equality deletes apply to files added BEFORE the delete
                # (a key re-inserted afterwards stays visible); key-range-
                # disjoint delete files are dropped when the entry carries
                # stats (streaming entries may not)
                eq_dels=[
                    (dp, mn, mx)
                    for dp, mn, mx, dsid in eq_dels
                    if added < dsid
                    and (e_mn is None or e_mx is None or (mn <= e_mx and mx >= e_mn))
                ],
                pos_dels=[
                    dp
                    for dp, pmn, pmx in pos_dels
                    if pmn <= e["file_path"] <= pmx
                ],
                arrow_filters=list(arrow_filters or []),
            )
        )
    return parts


def _unit_inputs(
    table: Table, by_path: dict[str, dict], unit_paths: list[list[str]],
    mor: bool = False, columns: set | None = None,
) -> list[list[FilePartition]]:
    """The input ``FilePartition``s of each rewrite or Z-order pass-1
    unit, one list per entry of ``unit_paths``, projected onto the table's
    current schema: files written before an add, rename or drop are read
    by field id, so a rewrite normalizes them to the current names.
    ``by_path``: manifest entries (``file_path``, ``added_snapshot_id``,
    ``schema_id``; with ``mor``, ``min_key``/``max_key`` too) by path.
    ``columns``: read only these current names."""
    parts = iter(_partitions_for_entries(
        table, [by_path[p] for ps in unit_paths for p in ps], None,
        table.meta.get("schema", IMAGES_DDL), mor=mor, columns=columns,
    ))
    return [[next(parts) for _ in ps] for ps in unit_paths]


def _read_on_driver(
    spark: SparkSession,
    table: Table,
    entries: list[dict],
    snapshot_id: int | None,
    ddl: str,
    columns: set | None,
    arrow_filters: list,
) -> DataFrame:
    """Read the planned files with pyarrow in this process and hand the
    rows to Spark as one ``LocalRelation`` (the data stays below
    ``localRelationThreshold``): filters and projections fold into it, and
    ``collect()`` starts no Spark job."""
    parts = _partitions_for_entries(
        table, entries, snapshot_id, ddl, columns=columns,
        arrow_filters=arrow_filters,
    )
    tbls = [_read_partition_table(p) for p in parts]
    # drop empty record batches: createDataFrame stops reading the Arrow
    # stream at an empty batch that follows rows, silently losing the rest
    tbl = pa.Table.from_batches(
        [b for t in tbls for b in t.to_batches() if b.num_rows], schema=tbls[0].schema
    )
    schema = ", ".join(f"{cur} {typ}" for _ph, _st, cur, typ in parts[0].proj)
    return spark.createDataFrame(tbl, schema)


def ancestry_between(
    table: Table, from_snapshot_id: int | None, to_snapshot_id: int | None
) -> list[dict]:
    """Snapshots on ``to``'s parent chain in ``(from, to]``, OLDEST first.

    Walks the PARENT CHAIN rather than filtering on an id range: after a
    rollback, abandoned-branch snapshots keep ids inside the range but are
    not ancestors of ``to`` and must not contribute (Iceberg walks
    ancestry). Ids are strictly increasing along any chain (max+1
    allocation), so the walk terminates at ``from`` or at the root.
    Raises if an endpoint is unknown, expired mid-chain, or ``from`` is not
    an ancestor of ``to`` — a partial delta is worse than no delta."""
    known = {s["snapshot_id"] for s in table.meta["snapshots"]}
    if to_snapshot_id is not None and to_snapshot_id not in known:
        raise ValueError(f"to_snapshot_id {to_snapshot_id} not in table history")
    if from_snapshot_id is not None and from_snapshot_id not in known | {0}:
        raise ValueError(
            f"from_snapshot_id {from_snapshot_id} not in table history "
            "(expired snapshots cannot anchor an incremental read)"
        )
    to_id = to_snapshot_id if to_snapshot_id is not None else table.current_snapshot_id
    if to_id is None:
        return []
    lo = from_snapshot_id if from_snapshot_id is not None else 0
    by_id = {s["snapshot_id"]: s for s in table.meta["snapshots"]}
    in_range: list[dict] = []
    sid: int | None = to_id
    while sid is not None and sid != lo:
        snap = by_id.get(sid)
        if snap is None:
            raise ValueError(
                f"snapshot {sid} on the ancestry of {to_id} has been expired; "
                "incremental read cannot be reconstructed"
            )
        in_range.append(snap)
        sid = snap["parent_id"]
    if sid is None and lo != 0:
        raise ValueError(
            f"from_snapshot_id {lo} is not an ancestor of to_snapshot_id {to_id} "
            "(it was abandoned by a rollback); read a full snapshot instead"
        )
    return sorted(in_range, key=lambda s: s["snapshot_id"])


def added_file_paths(table: Table, snapshot_id: int) -> list[str]:
    """Data files ADDED by the snapshot (relative paths), read from its
    ``-s{id}-add`` tagged manifest(s) when present — so carried-forward
    manifests are never touched and driver work is proportional to NEW
    data, not table size."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mlist = table.manifest_paths(snapshot_id)
    tagged = [p for p in mlist if f"-s{snapshot_id}-add-" in os.path.basename(p)]
    paths: list[str] = []
    for mp in tagged or mlist:
        ents = pq.read_table(mp, columns=["file_path", "added_snapshot_id"])
        mask = pc.equal(ents.column("added_snapshot_id"), snapshot_id)
        paths.extend(ents.filter(mask).column("file_path").to_pylist())
    return paths


def scan_incremental(
    spark: SparkSession,
    table: Table,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Incremental (CDC-style) append scan: the rows added by snapshots in
    ``(from_snapshot_id, to_snapshot_id]`` — Iceberg's incremental-read
    semantics. ``from_snapshot_id=None`` reads from the beginning of
    history; ``to_snapshot_id=None`` reads up to the current snapshot.

    Pure-rewrite maintenance snapshots (compact / zorder / hilbert /
    rewrite-manifests / expire / gc) carry identical logical rows, so they
    contribute nothing; row-changing non-append snapshots (``merge``)
    cannot be expressed as an append delta and raise — mirroring Iceberg,
    which restricts incremental reads to append history.

    Scale shape: per contributing snapshot, only that snapshot's ADDED
    manifest(s) are read (selected by the ``s{id}-add`` manifest tag, so
    carried-forward manifests are never touched) — driver work is
    proportional to NEW data per cycle, not table size. Snapshots in range
    must not have been expired; a missing endpoint raises (Iceberg
    semantics) rather than silently returning a partial delta.
    """
    in_range = ancestry_between(table, from_snapshot_id, to_snapshot_id)
    to_id = to_snapshot_id if to_snapshot_id is not None else table.current_snapshot_id
    schema = _snapshot_ddl(table, to_id) if to_id is not None else table.meta.get(
        "schema", IMAGES_DDL
    )
    empty = spark.createDataFrame([], schema)
    if to_id is None:
        return empty.select(*columns) if columns else empty
    pseudo_entries: list[dict] = []
    for snap in in_range:
        op = snap["operation"]
        if op in _REWRITE_OPS:
            continue
        if op != "append":
            raise ValueError(
                f"incremental scan crosses a row-changing '{op}' snapshot "
                f"{snap['snapshot_id']}; read a full snapshot instead"
            )
        sid = snap.get("schema_id")
        pseudo_entries.extend(
            {
                "file_path": p,
                "schema_id": sid,
                "added_snapshot_id": snap["snapshot_id"],
            }
            for p in added_file_paths(table, snap["snapshot_id"])
        )
    if not pseudo_entries:
        return empty.select(*columns) if columns else empty
    df = _read_data_files(
        spark, table, pseudo_entries, schema, _target_fields(table, to_id, schema)
    )
    return df.select(*columns) if columns else df


def scan(
    spark: SparkSession,
    table: Table,
    snapshot_id: int | None = None,
    phash_range: tuple[int, int] | None = None,
    wh_range: tuple[int, int] | None = None,
    key_range: tuple[str, str] | None = None,
    columns: list[str] | None = None,
    as_of_ts_millis: int | None = None,
    ref: str | None = None,
    key_eq: str | None = None,
    source_eq: dict | None = None,
    with_pos: bool = False,
    file_paths: set | None = None,
) -> DataFrame:
    """Read a pinned snapshot as a DataFrame, pruning files on stats.

    Reader: when ``on_driver`` accepts the planned data files' total size
    and ``with_pos`` is false, the files are read on the driver with
    pyarrow — field-id projection, merge-on-read subtraction, the
    key/phash/partition predicates as row filters, and with ``columns``
    only the columns the result and the predicates need — and the result
    is a ``LocalRelation``: a lookup's ``collect()`` starts no Spark job.
    Otherwise one Spark parquet scan reads them. The row-wise predicates
    and the ``columns`` select below apply on both paths.

    ``with_pos``: keep the row-provenance columns ``__fp`` (table-relative
    data-file path) and ``__pos`` (row position within it) on the result —
    the address a positional delete records (deletes.delete_positions_where
    is the main consumer). Mutually additive with ``columns``. Always read
    by Spark: the columns come from its parquet reader's ``_metadata``.

    ``file_paths``: restrict the read to these table-relative data files
    (post-plan intersection). Callers that already know exactly which
    files hold their rows — changelog positional-delete replay joins
    against recorded (file, pos) addresses — prune the read to the named
    files instead of scanning the snapshot.

    ``source_eq``: hidden-partition predicates (``{"fmt": "png"}``) — files
    of other partitions are pruned via the spec (plan_files tier 0) AND the
    predicate is re-applied row-wise Spark-side, so pre-spec files and
    boundary cases never leak wrong rows (same contract as key_eq).

    ``key_eq``: point lookup — bloom + range pruning (see plan_files), then
    the equality predicate re-applied Spark-side (bloom false positives
    cost an extra file read, never a wrong row).

    ``as_of_ts_millis``: timestamp time travel (Iceberg AS OF) — resolves
    to the last snapshot committed at or before the timestamp; raises if
    the table had no snapshot yet. ``ref``: read a named tag (``VERSION AS
    OF 'name'``). snapshot_id / as_of_ts_millis / ref are mutually
    exclusive."""
    if sum(x is not None for x in (snapshot_id, as_of_ts_millis, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id, as_of_ts_millis, ref")
    if ref is not None:
        snapshot_id = table.resolve_ref(ref)
    if as_of_ts_millis is not None:
        snap = table.snapshot_as_of(as_of_ts_millis)
        if snap is None:
            raise ValueError(f"no snapshot existed at ts_millis={as_of_ts_millis}")
        snapshot_id = snap["snapshot_id"]
    entries = plan_files(
        table, snapshot_id, phash_range=phash_range, wh_range=wh_range,
        key_range=key_range, key_eq=key_eq, source_eq=source_eq, spark=spark,
    )
    if file_paths is not None:
        entries = [e for e in entries if e["file_path"] in file_paths]
    ddl = _snapshot_ddl(table, snapshot_id)
    if not entries:
        # keep the with_pos contract on the empty plan — callers
        # (deletes.delete_positions_where) select __fp/__pos unconditionally
        # (an Arrow table, so the result is a LocalRelation: a lookup that
        # misses starts no Spark job either)
        from nessie_spark.lakehouse.writer import arrow_schema_from_ddl

        empty_ddl = ddl + ", __fp string, __pos bigint" if with_pos else ddl
        return spark.createDataFrame(
            arrow_schema_from_ddl(empty_ddl).empty_table(), empty_ddl
        )

    dels = table.delete_files(snapshot_id)
    if not with_pos and on_driver(
        spark, nbytes=sum(e["file_size_bytes"] for e in entries)
    ):
        # small plan: pyarrow on the driver. A column subset reads the
        # asked-for columns, the ones the row-wise predicates below need,
        # and image_id, which the equality-delete subtraction keys on
        names = None
        if columns:
            names = {*columns, "image_id", *(source_eq or ())}
            names |= {"phash"} if phash_range else set()
            names |= {"w", "h"} if wh_range else set()
        filters = [("image_id", "==", key_eq)] if key_eq is not None else []
        for col, rng in (("image_id", key_range), ("phash", phash_range)):
            if rng:
                filters += [(col, ">=", rng[0]), (col, "<=", rng[1])]
        filters += [
            (c, "==", v) for c, v in sorted((source_eq or {}).items()) if v is not None
        ]
        df = _read_on_driver(spark, table, entries, snapshot_id, ddl, names, filters)
    elif not dels and not with_pos:
        df = _read_data_files(
            spark, table, entries, ddl, _target_fields(table, snapshot_id, ddl)
        )
    else:
        tfields = _target_fields(table, snapshot_id, ddl)
        # merge-on-read: subtract equality-delete keys and positional
        # (file, pos) pairs (deletes.py). Files group by WHICH equality
        # deletes apply (added_snapshot_id < delete sid — a key re-inserted
        # after its delete stays visible); each group anti-joins its delete
        # suffix. Positional deletes self-scope by explicit file path (a
        # rewritten file has a new path), so one anti-join on (__fp, __pos)
        # covers every group. Group count ≤ #delete snapshots + 1; small
        # delete sets broadcast, so the data side never shuffles.
        from nessie_spark.lakehouse.deletes import (
            anti_join_deletes, delete_keys_df, group_entries_by_applicability,
            pos_delete_pairs_df, split_delete_kinds,
        )

        eq_dels, pos_dels = split_delete_kinds(dels)
        need_pos = with_pos or bool(pos_dels)
        parts = []
        for ents, start in group_entries_by_applicability(entries, eq_dels):
            gdf = _read_data_files(
                spark, table, ents, ddl, tfields, with_pos=need_pos
            )
            suffix = eq_dels[start:]
            if suffix:
                gdf = anti_join_deletes(
                    gdf,
                    delete_keys_df(spark, table, suffix),
                    total_keys=sum(d["n_keys"] for d in suffix),
                )
            parts.append(gdf)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if pos_dels:
            pairs = pos_delete_pairs_df(spark, table, pos_dels).select(
                F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
            )
            total = sum(d["n_keys"] for d in pos_dels)
            from nessie_spark.lakehouse.deletes import BROADCAST_KEYS_MAX

            side = F.broadcast(pairs) if total <= BROADCAST_KEYS_MAX else pairs
            df = df.join(side, ["__fp", "__pos"], "left_anti")
        if not with_pos and need_pos:
            df = df.drop("__fp", "__pos")
    if phash_range:
        df = df.where(F.col("phash").between(*phash_range))
    if wh_range:
        wh = F.col("w").cast("long") * F.col("h").cast("long")
        df = df.where(wh.between(*wh_range))
    if key_range:
        df = df.where(F.col("image_id").between(*key_range))
    if key_eq is not None:
        df = df.where(F.col("image_id") == key_eq)
    if source_eq:
        for c, v in sorted(source_eq.items()):
            # None pins the `null` partition segment; row-wise that is an
            # IS NULL check (== NULL is never true in SQL)
            df = df.where(F.col(c).isNull() if v is None else (F.col(c) == F.lit(v)))
    if columns:
        df = df.select(*columns, *(["__fp", "__pos"] if with_pos else []))
    return df
