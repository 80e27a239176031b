"""First-class Spark integration via the Python Data Source API
(pyspark 4.1, SPARK-44076): ``spark.read.format("nessie")``,
``df.write.format("nessie").mode("append")``, and
``spark.readStream.format("nessie")`` over the engine's table format.

Why this exists beside ``lakehouse.scan``/``lakehouse.jobs``: the scan/jobs
API is the engine's native surface, but ecosystem code (SQL-only users,
notebooks, third-party pipelines) speaks ``format(...).load(...)``. This
binding makes the table format interoperable without giving up the
engine's guarantees:

- **Batch read** plans through the SAME three-tier pruning as ``scan``
  (manifest-list key ranges → per-file stats/blooms → predicate re-apply):
  ``pushFilters`` maps Catalyst's pushed predicates (``image_id`` point/
  range lookups, hidden-partition equality on spec source columns) onto
  ``plan_files`` arguments, then reports every filter back as unhandled so
  Spark re-applies them row-wise — pruning is an optimization, never a
  correctness dependency (the same contract as ``scan(key_eq=...)``).
  One :class:`InputPartition` per surviving data file → executor-parallel
  pyarrow reads that yield Arrow batches straight into Spark's columnar
  pipeline (no Row-object materialization). Merge-on-read deletes
  (equality AND positional, Iceberg v2 semantics — deletes.py) are
  subtracted per file inside the task with the same applicability rules
  as the native scan: an equality delete applies to files added BEFORE
  it; a positional delete self-scopes to its named file. The per-file
  reader lives in ``lakehouse/scan.py``, which runs it on the driver for
  small scans.
- **Batch write** is an append-only sink speaking the manifest commit
  protocol: executors write parquet data files + per-file stats entries
  (min/max/bloom) through the engine's one Arrow slice writer
  (``lakehouse/writer.py::write_slices``, shared with ``jobs.append``),
  the driver folds the :class:`WriterCommitMessage` stats into ONE
  atomic ``Table.commit`` — all-or-nothing snapshot visibility, and a
  crashed/aborted job leaves only unreferenced uniquely-named files for
  GC (no attempt can overwrite a committed file). An optional ``job_id``
  gives the engine's idempotent-rerun contract, checked BEFORE write
  tasks launch (a committed job_id re-run writes nothing). Tables with a
  hidden partition spec keep their invariant: the slice writer splits
  files per partition value exactly as it does for ``jobs.append``.
  ``mode("overwrite")`` is refused: row-level change goes through
  MERGE / delete_where, not blind truncate.
- **Streaming write** (``writeStream.format("nessie")``) is the
  exactly-once table sink: executors write uniquely-named data files per
  attempt, ``commit(messages, batchId)`` derives the engine job_id as
  ``<job_id>-b<batchId>`` and short-circuits when already committed — a
  replayed micro-batch never doubles rows (stray files from replays are
  ordinary GC orphans). The ``job_id`` option is REQUIRED: it is the
  idempotency namespace, unique per logical stream into the table.
  Composes with the streaming read into a nessie→nessie incremental
  pipeline with end-to-end exactly-once table state.
- **Streaming read** exposes the snapshot log as an exactly-once source:
  offsets ARE snapshot ids (monotone along the ancestry chain), each
  micro-batch reads the ``-add`` manifests of append snapshots in
  ``(start, end]`` — work ∝ new data, never table size. Pure layout
  rewrites (compact / zorder / rewrite-manifests / expire) move no rows
  and are skipped; row-CHANGING commits (delete/merge/update) raise by
  default — an append-log reader that silently crossed one would be
  wrong — or are skipped with ``skipChangeCommits=true`` (the same
  opt-out Delta's streaming source exposes publicly).

Scale: the driver ships per-file partitions (path + field-id projection +
applicable delete files) — O(planned files), the same driver footprint as
``plan_files`` itself; row bytes only ever move executor-side.

Reference parity note: the reference engine (UKPLab/nessie) reads corpora
via in-process loaders (see sources/loaders.py for those); this module is
engine-infrastructure beyond the reference, mirroring Iceberg/Delta's
public Spark connector surface.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from nessie_spark.lakehouse.scan import (
    FilePartition,
    _partitions_for_entries,
    _read_partition_table,
)

FORMAT_NAME = "nessie"

# key_range pruning uses closed bounds; emulate open bounds on strings by
# nudging with the min/max printable sentinels (re-applied row-wise anyway)
_KEY_MIN = ""
_KEY_MAX = "\U0010ffff"




def _opt(options: dict, name: str, default=None):
    """Case-insensitive option lookup: Spark hands DataSource options as a
    lower-cased CaseInsensitiveDict, so ``startingSnapshot`` arrives as
    ``startingsnapshot``."""
    lowered = {str(k).lower(): v for k, v in options.items()}
    return lowered.get(name.lower(), default)


@dataclass
class _CommitMsg(WriterCommitMessage):
    entries: list  # stats_entry_for dicts


def _arrow_schema(ddl: str) -> pa.Schema:
    from nessie_spark.lakehouse.writer import arrow_schema_from_ddl

    return arrow_schema_from_ddl(ddl)


class NessieBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = _opt(options, "path")
        if not self.root:
            raise ValueError('format("nessie") requires .load(<table root>)')
        snap = _opt(options, "snapshotId")
        self.snapshot_id = int(snap) if snap else None
        self.ref = _opt(options, "ref")
        self._key_eq: str | None = None
        self._key_lo: str | None = None
        self._key_hi: str | None = None
        self._source_eq: dict = {}
        self._arrow_filters: list = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Map pushable predicates onto plan_files pruning args. EVERY
        filter is returned as unhandled so Spark re-applies it row-wise —
        bloom false positives / range over-approximation cost an extra
        file read, never a wrong row (the scan(key_eq=...) contract)."""
        from nessie_spark.lakehouse.partition import table_spec
        from nessie_spark.lakehouse.table import Table

        try:
            spec = table_spec(Table.load(self.root)) or []
            srcs = {f["source"] for f in spec}
        except Exception:
            srcs = set()
        _OPS = {
            EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
            LessThan: "<", LessThanOrEqual: "<=",
        }
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            op = _OPS.get(type(f))
            if (
                col is not None
                and op is not None
                and isinstance(getattr(f, "value", None), (str, int, float, bool))
            ):
                self._arrow_filters.append((col, op, f.value))
            if col == "image_id":
                if isinstance(f, EqualTo) and isinstance(f.value, str):
                    self._key_eq = f.value
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and isinstance(
                    f.value, str
                ):
                    v = f.value
                    self._key_lo = v if self._key_lo is None else max(self._key_lo, v)
                elif isinstance(f, (LessThan, LessThanOrEqual)) and isinstance(
                    f.value, str
                ):
                    v = f.value
                    self._key_hi = v if self._key_hi is None else min(self._key_hi, v)
            elif (
                col in srcs
                and isinstance(f, EqualTo)
                and isinstance(f.value, (str, int))
            ):
                self._source_eq[col] = f.value
        return filters  # all re-applied by Spark

    def _plan(self):
        from nessie_spark.lakehouse.scan import _snapshot_ddl, plan_files
        from nessie_spark.lakehouse.table import Table

        t = Table.load(self.root)
        sid = self.snapshot_id
        if self.ref is not None:
            sid = t.resolve_ref(self.ref)
        key_range = None
        if self._key_lo is not None or self._key_hi is not None:
            key_range = (self._key_lo or _KEY_MIN, self._key_hi or _KEY_MAX)
        entries = plan_files(
            t,
            sid,
            key_range=key_range,
            key_eq=self._key_eq,
            source_eq=self._source_eq or None,
        )
        ddl = _snapshot_ddl(t, sid)
        return t, entries, sid, ddl

    def partitions(self) -> list[FilePartition]:
        t, entries, sid, ddl = self._plan()
        return _partitions_for_entries(
            t, entries, sid, ddl, mor=True, arrow_filters=self._arrow_filters
        )

    def read(self, partition: FilePartition) -> Iterator[pa.RecordBatch]:
        if partition is None:
            return  # empty plan: Spark probes one default partition
        yield from _read_partition_table(partition, mor=True).to_batches()


def _write_task(
    iterator: Iterator[pa.RecordBatch], root: str, name_prefix: str, ddl: str,
    spec: list | None,
) -> _CommitMsg:
    """Shared executor write for the batch and streaming sinks: drain the
    Arrow batches, align to the TABLE schema, and write them through the
    engine's slice writer (``writer.write_slices``: one file per hidden
    partition value, ``partition`` stamped in its stats entry) under a
    uniquely-named stem, so no attempt can ever overwrite a committed file
    (replays/duplicates become GC orphans)."""
    from pyspark import TaskContext

    from nessie_spark.lakehouse.writer import align_to_schema, write_slices

    batches = [b for b in iterator]
    if not batches:
        return _CommitMsg(entries=[])
    tbl = align_to_schema(pa.Table.from_batches(batches), _arrow_schema(ddl))
    pid = TaskContext.get().partitionId()
    stem = f"{name_prefix}-{uuid.uuid4().hex[:8]}-p{pid:05d}"
    return _CommitMsg(entries=write_slices(tbl, root, stem, spec=spec))


def _abort_task_files(root: str, messages) -> None:
    # best-effort cleanup; anything left is unreferenced → orphan GC
    for m in messages or []:
        if m is None:
            continue
        for e in m.entries:
            try:
                os.remove(os.path.join(root, e["file_path"]))
            except OSError:
                pass


class NessieArrowWriter(DataSourceArrowWriter):
    """Append-only sink: executor file writes + one atomic driver commit.

    ``already_committed``: the driver checked the job_id's committed
    marker BEFORE launching write tasks (the jobs.append contract) — a
    re-run of a committed job_id writes nothing at all, rather than
    re-writing files and skipping only the commit."""

    def __init__(self, options: dict, ddl: str, spec: list | None,
                 already_committed: bool = False):
        self.root = _opt(options, "path")
        if not self.root:
            raise ValueError('format("nessie") requires .save(<table root>)')
        self.job_id = _opt(options, "job_id") or f"dsw-{uuid.uuid4().hex[:8]}"
        self.ddl = ddl
        self.spec = spec
        self.already_committed = already_committed

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _CommitMsg:
        if self.already_committed:
            for _ in iterator:
                pass  # drain without writing
            return _CommitMsg(entries=[])
        return _write_task(
            iterator, self.root, f"{self.job_id}-dsw", self.ddl, self.spec
        )

    def commit(self, messages) -> None:
        from nessie_spark.lakehouse import lineage
        from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA, Table

        if self.already_committed:
            return
        entries = [e for m in messages if m is not None for e in m.entries]
        t = Table.load(self.root)
        if lineage.committed_snapshot(t.root, self.job_id) is not None:
            # lost a same-job_id race: this attempt's uniquely-named files
            # are unreferenced; leave them to orphan GC — a re-delivered
            # commit may carry the COMMITTED files' own paths, so deleting
            # here would corrupt the table
            return
        if not entries:
            return
        added = pa.Table.from_pylist(entries, schema=FILE_ENTRY_SCHEMA)
        snap_id = t.commit("append", added=added, summary={"job_id": self.job_id})
        lineage.write_unit(
            t.root, self.job_id, "append", 0,
            input_files=[], output_files=[e["file_path"] for e in entries],
            rows=int(sum(e["record_count"] for e in entries)),
            nbytes=int(sum(e["file_size_bytes"] for e in entries)),
        )
        lineage.mark_committed(t.root, self.job_id, snap_id)

    def abort(self, messages) -> None:
        _abort_task_files(self.root, messages)


class NessieStreamArrowWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming sink: ``writeStream.format("nessie")``.

    Executors write data files with fresh unique names every attempt; the
    driver's ``commit(messages, batchId)`` derives the engine job_id as
    ``<job_id option>-b<batchId>`` and SHORT-CIRCUITS when that job_id
    already committed — so a replayed micro-batch (restart from
    checkpoint, commit-phase crash) never doubles rows. Replays may leave
    unreferenced data files; those are ordinary orphans the GC sweep
    reclaims (the same guarantee foreachBatch ingest documents). Table
    state is exactly-once.

    The ``job_id`` option is REQUIRED and must be unique per logical
    stream into the table: it is the idempotency namespace, so two
    distinct queries sharing a prefix would silently absorb each other's
    batch ids, and resetting a checkpoint to reprocess from scratch needs
    a fresh job_id (batch numbering restarts at 0)."""

    def __init__(self, options: dict, table_ddl: str, spec: list | None):
        self.root = _opt(options, "path")
        if not self.root:
            raise ValueError('format("nessie") requires .option("path", <table root>)')
        self.prefix = _opt(options, "job_id")
        if not self.prefix:
            raise ValueError(
                'writeStream.format("nessie") requires .option("job_id", '
                "<unique stream name>) — it namespaces per-batch "
                "idempotency; reuse across queries or after a checkpoint "
                "reset would silently drop batches"
            )
        self.ddl = table_ddl
        self.spec = spec

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _CommitMsg:
        return _write_task(
            iterator, self.root, f"{self.prefix}-sw", self.ddl, self.spec
        )

    def commit(self, messages, batchId: int) -> None:
        from nessie_spark.lakehouse import lineage
        from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA, Table

        job_id = f"{self.prefix}-b{batchId}"
        t = Table.load(self.root)
        if lineage.committed_snapshot(t.root, job_id) is not None:
            # replayed micro-batch: already visible. This attempt's files
            # (fresh unique names) become GC orphans; a re-delivered commit
            # may reference the committed files themselves, so never delete
            return
        entries = [e for m in messages if m is not None for e in m.entries]
        if not entries:
            # commit the marker anyway: an empty batch replay must also
            # short-circuit instead of re-running executor writes
            lineage.mark_committed(t.root, job_id, t.current_snapshot_id or 0)
            return
        added = pa.Table.from_pylist(entries, schema=FILE_ENTRY_SCHEMA)
        snap_id = t.commit(
            "append", added=added, summary={"job_id": job_id, "batch_id": batchId}
        )
        lineage.write_unit(
            t.root, job_id, "append", 0,
            input_files=[], output_files=[e["file_path"] for e in entries],
            rows=int(sum(e["record_count"] for e in entries)),
            nbytes=int(sum(e["file_size_bytes"] for e in entries)),
        )
        lineage.mark_committed(t.root, job_id, snap_id)

    def abort(self, messages, batchId: int) -> None:
        _abort_task_files(self.root, messages)


class NessieStreamReader(DataSourceStreamReader):
    """Snapshot-log streaming source; offsets are snapshot ids."""

    def __init__(self, options: dict):
        self.root = _opt(options, "path")
        if not self.root:
            raise ValueError('format("nessie") requires .load(<table root>)')
        self.skip_change = (
            str(_opt(options, "skipChangeCommits", "false")).lower() == "true"
        )
        self.starting = str(_opt(options, "startingSnapshot", "latest"))

    def _table(self):
        from nessie_spark.lakehouse.table import Table

        return Table.load(self.root)

    def initialOffset(self) -> dict:
        if self.starting == "earliest":
            return {"snapshot_id": 0}
        if self.starting == "latest":
            return {"snapshot_id": int(self._table().current_snapshot_id or 0)}
        # numeric = start AT that snapshot, INCLUSIVE (matching how
        # "earliest" includes everything): offsets are exclusive-start, so
        # resolve the named snapshot's parent as the start offset
        want = int(self.starting)
        snap = self._table().snapshot(want)
        if snap is None:
            raise ValueError(
                f"startingSnapshot {want} is not in the table history"
            )
        return {"snapshot_id": int(snap["parent_id"] or 0)}

    def latestOffset(self) -> dict:
        return {"snapshot_id": int(self._table().current_snapshot_id or 0)}

    def partitions(self, start: dict, end: dict) -> list[FilePartition]:
        from nessie_spark.lakehouse.scan import (
            _REWRITE_OPS,
            _snapshot_ddl,
            added_file_paths,
            ancestry_between,
        )

        lo, hi = int(start["snapshot_id"]), int(end["snapshot_id"])
        if hi <= lo:
            return []
        t = self._table()
        ddl = _snapshot_ddl(t, hi)
        parts: list[FilePartition] = []
        for snap in ancestry_between(t, lo, hi):
            op, sid = snap["operation"], snap["snapshot_id"]
            if op in _REWRITE_OPS:
                continue  # layout-only: no row appears or disappears
            if op != "append":
                if self.skip_change:
                    continue
                raise ValueError(
                    f"snapshot {sid} is a row-changing '{op}' commit; this "
                    "is an append-log stream — read lakehouse.changelog for "
                    "CDC, or set skipChangeCommits=true to ignore it"
                )
            entries = [
                {"file_path": p, "added_snapshot_id": sid, "schema_id": snap.get("schema_id")}
                for p in added_file_paths(t, sid)
            ]
            # append-log semantics: rows AS APPENDED — later deletes are
            # not retro-applied (mor=False), matching Iceberg's streaming
            # read of append snapshots. Target fields resolve at HI (the
            # batch end): a pre-rename append must project onto the name
            # the consumer sees, exactly like scan_incremental's to_id
            parts.extend(_partitions_for_entries(t, entries, hi, ddl, mor=False))
        return parts

    def read(self, partition: FilePartition) -> Iterator[pa.RecordBatch]:
        if partition is None:
            return  # empty window: Spark probes one default partition
        yield from _read_partition_table(partition, mor=False).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing engine-side

    def stop(self) -> None:
        pass


class NessieDataSource(DataSource):
    """``spark.dataSource.register(NessieDataSource)`` → then
    ``spark.read.format("nessie").load(root)`` etc."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _root(self) -> str:
        root = _opt(self.options, "path")
        if not root:
            raise ValueError(
                'format("nessie") requires a table root: .load(<root>) / '
                '.save(<root>) / .option("path", <root>)'
            )
        return root

    def schema(self) -> str:
        from nessie_spark.lakehouse.scan import _snapshot_ddl
        from nessie_spark.lakehouse.table import Table

        t = Table.load(self._root())
        snap = _opt(self.options, "snapshotId")
        sid = int(snap) if snap else None
        if _opt(self.options, "ref"):
            sid = t.resolve_ref(_opt(self.options, "ref"))
        return _snapshot_ddl(t, sid)

    def reader(self, schema) -> NessieBatchReader:
        self._root()
        return NessieBatchReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> NessieArrowWriter:
        if overwrite:
            raise ValueError(
                'format("nessie") is an append-only sink; use MERGE INTO '
                "(lakehouse.merge) or delete_where for row-level change"
            )
        from nessie_spark.lakehouse import lineage
        from nessie_spark.lakehouse.partition import table_spec
        from nessie_spark.lakehouse.table import Table
        from nessie_spark.lakehouse.writer import ddl_columns

        t = Table.load(self._root())
        table_ddl = t.meta["schema"]
        extra = [
            f.name for f in schema.fields if f.name not in ddl_columns(table_ddl)
        ]
        if extra:
            raise ValueError(
                f"write columns {extra} not in table schema; evolve first "
                "(lakehouse.evolve.add_column)"
            )
        # pre-write idempotency (the jobs.append contract): a committed
        # job_id re-run must not even launch file writes — writing first
        # and skipping only the commit would still burn IO, and with
        # deterministic names it would have CORRUPTED live files
        job_id = _opt(self.options, "job_id")
        committed = bool(
            job_id and lineage.committed_snapshot(t.root, job_id) is not None
        )
        # align/commit against the TABLE's schema (jobs.append contract);
        # columns the frame lacks are NULL-backfilled by align_to_schema
        return NessieArrowWriter(
            dict(self.options), table_ddl, table_spec(t),
            already_committed=committed,
        )

    def streamReader(self, schema) -> NessieStreamReader:
        self._root()
        return NessieStreamReader(dict(self.options))

    def streamWriter(self, schema, overwrite: bool) -> NessieStreamArrowWriter:
        from nessie_spark.lakehouse.partition import table_spec
        from nessie_spark.lakehouse.table import Table

        t = Table.load(self._root())
        return NessieStreamArrowWriter(
            dict(self.options), t.meta["schema"], table_spec(t)
        )


def register(spark) -> None:
    """Idempotent format registration for the session. Also flips on
    Python-datasource filter pushdown (off by default in 4.1): Spark
    refuses to plan a reader that implements pushFilters while the
    feature flag is off, and pruning is the point of this reader."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(NessieDataSource)
