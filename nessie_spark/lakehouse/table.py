"""Iceberg-*style* table metadata (native, no iceberg-spark runtime jar).

Layout under ``<root>/``:
- ``data/*.parquet``                 immutable data files
- ``metadata/v{N}.json``             table metadata versions (atomic commits)
- ``metadata/version-hint.text``     best-effort pointer to latest N
- ``metadata/snap-{id}-manifest-list.parquet``  one row per manifest
- ``metadata/manifest-*.parquet``    file entries with per-file min/max stats
- ``_lineage/{job_id}/{phase}/``     checkpoint manifest (see lineage.py)

Snapshot isolation (SURVEY.md §4.2): data + metadata files are immutable;
a commit is an atomic ``O_CREAT|O_EXCL`` create of ``v{N+1}.json`` with
optimistic retry — readers pin a snapshot_id and never observe partial
state. Single-writer-per-table is assumed in-sandbox (documented limitation;
a real deployment swaps this for a catalog putIfAbsent).

Manifest entries carry the FIXTURES.md §2 stats schema plus min/max
image_id for MERGE matched-file pruning.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FILE_ENTRY_SCHEMA = pa.schema(
    [
        ("file_path", pa.string()),
        ("file_format", pa.string()),
        ("partition", pa.string()),
        ("record_count", pa.int64()),
        ("file_size_bytes", pa.int64()),
        ("min_phash", pa.int64()),
        ("max_phash", pa.int64()),
        # int64: wh = w*h of int32 dims overflows int32 (a 47k x 47k image
        # is legal input); the zkey path masks to 31 bits but stats don't
        ("min_wh", pa.int64()),
        ("max_wh", pa.int64()),
        ("zorder_lo", pa.int64()),
        ("zorder_hi", pa.int64()),
        ("min_key", pa.string()),
        ("max_key", pa.string()),
        ("key_bloom", pa.binary()),
        ("added_snapshot_id", pa.int64()),
        # field-id schema version the file was written under (fields.py);
        # NULL in pre-model manifests -> resolved via added_snapshot_id
        ("schema_id", pa.int64()),
    ]
)

FILE_ENTRY_DDL = (
    "file_path string, file_format string, partition string, record_count long, "
    "file_size_bytes long, min_phash long, max_phash long, min_wh long, max_wh long, "
    "zorder_lo long, zorder_hi long, min_key string, max_key string, "
    "key_bloom binary, added_snapshot_id long, schema_id long"
)

MANIFEST_LIST_SCHEMA = pa.schema(
    [
        ("manifest_path", pa.string()),
        ("n_entries", pa.int64()),
        ("record_count", pa.int64()),
        ("file_size_bytes", pa.int64()),
        ("min_key", pa.string()),
        ("max_key", pa.string()),
        # single hidden-partition value covering EVERY entry in the
        # manifest, or NULL when mixed/unknown — the tier-1 partition prune
        # (rewrite_manifests groups manifests per value on spec'd tables;
        # pre-r4 lists lack the column and read as NULL = keep)
        ("partition", pa.string()),
    ]
)

MANIFEST_LIST_DDL = (
    "manifest_path string, n_entries long, record_count long, "
    "file_size_bytes long, min_key string, max_key string, partition string"
)

SNAPSHOTS_DDL = (
    "snapshot_id long, parent_id long, ts_millis long, operation string, "
    "manifest_list string, added_files long, deleted_files long, "
    "total_record_count long, total_file_size_bytes long, is_current boolean"
)

HISTORY_DDL = "made_current_ts long, snapshot_id long, action string, is_current_ancestor boolean"


class CommitConflict(Exception):
    pass


def _history_base(meta: dict) -> list[dict]:
    """Existing made-current log, or one synthesized from commit history —
    so the first write on a pre-history-feature table carries the full past
    forward instead of starting a one-entry log."""
    return list(
        meta.get("history")
        or [
            {"ts_millis": s["ts_millis"], "snapshot_id": s["snapshot_id"], "action": s["operation"]}
            for s in meta["snapshots"]
            # staged (WAP) snapshots never became current — synthesizing a
            # log entry for one would expose an unpublished batch to
            # time travel
            if not s.get("staged")
        ]
    )


class Table:
    def __init__(self, root: str, meta: dict, version: int):
        self.root = root
        self.meta = meta
        self.version = version

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def create(root: str, schema_ddl: str, properties: dict | None = None) -> "Table":
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "location": root,
            "schema": schema_ddl,
            "properties": properties or {},
            "current_snapshot_id": None,
            "snapshots": [],
        }
        t = Table(root, meta, version=0)
        t._write_version(1, meta)
        t.version = 1
        return t

    @staticmethod
    def load(root: str) -> "Table":
        """Resolve the latest metadata version.

        Fast path: ``version-hint.text`` (written on every commit) plus a
        forward walk — O(commits since the hint), not O(total versions).
        The hint is always ≤ the true latest (it is written AFTER the
        version file links), so walking ``v+1, v+2, ...`` until a missing
        file finds the head even after a crash between link and hint.
        Fallback to the full directory listing when the hint is absent or
        names a version that metadata retention already deleted — at 10^6
        commits the listdir alone is the cost the hint path avoids."""
        mdir = os.path.join(root, "metadata")
        v = None
        hint = os.path.join(mdir, "version-hint.text")
        try:
            with open(hint) as fh:
                h = int(fh.read().strip())
            if os.path.exists(os.path.join(mdir, f"v{h}.json")):
                v = h
                while os.path.exists(os.path.join(mdir, f"v{v + 1}.json")):
                    v += 1
        except (OSError, ValueError):
            v = None
        if v is None:
            versions = [
                int(f[1:-5])
                for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".json")
            ]
            if not versions:
                raise FileNotFoundError(f"no metadata versions under {mdir}")
            v = max(versions)
        with open(os.path.join(mdir, f"v{v}.json")) as fh:
            return Table(root, json.load(fh), v)

    def expire_metadata_versions(self, keep_last: int = 100) -> int:
        """Delete metadata version files older than the newest
        ``keep_last`` (Iceberg's ``write.metadata.previous-versions-max``
        behavior): at one commit per table per minute a year leaves ~500k
        ``v{N}.json`` files per table — pure garbage, since every read
        path (scans, time travel, refs, the made-current log) resolves
        from the CURRENT metadata alone; old versions serve only crash
        forensics. Safe under concurrency: ``load`` picks the max (never
        deleted — ``keep_last`` ≥ 1 enforced), commits only ever CREATE
        ``v{N+1}``, and a reader holding an old version object keeps
        working from memory. Returns the number of files deleted."""
        keep_last = max(1, int(keep_last))
        mdir = os.path.join(self.root, "metadata")
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        doomed = [v for v in versions[:-keep_last] if v < self.version]
        n = 0
        for v in doomed:
            try:
                os.unlink(os.path.join(mdir, f"v{v}.json"))
                n += 1
            except OSError:
                pass
        return n

    def refresh(self) -> "Table":
        return Table.load(self.root)

    # -- snapshot accessors -------------------------------------------------

    @property
    def current_snapshot_id(self) -> int | None:
        return self.meta["current_snapshot_id"]

    def snapshot_as_of(self, ts_millis: int) -> dict | None:
        """Time travel: what was CURRENT as of ``ts_millis``, resolved via
        the made-current history log (Iceberg AS OF uses the snapshot log,
        not the snapshot list): the latest log entry at or before the
        timestamp. Staged (WAP) snapshots never enter the log, so an
        unpublished batch is never exposed; after a rollback, timestamps
        before it resolve to the branch that was current THEN and
        timestamps after it to the rolled-back-to snapshot. None if the
        table had no current snapshot at that time; raises if the resolved
        snapshot has since been expired (partial history is worse than an
        error)."""
        best = None
        for h in _history_base(self.meta):  # append-ordered
            if h["ts_millis"] <= ts_millis:
                best = h
        if best is None:
            return None
        try:
            snap = self.snapshot(best["snapshot_id"])
        except KeyError:
            snap = None  # expired out of the snapshot list
        if snap is None:
            raise ValueError(
                f"snapshot {best['snapshot_id']} (current as of "
                f"{ts_millis}) has been expired; time travel to that "
                "timestamp is no longer possible"
            )
        return snap

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            return None
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        raise KeyError(f"snapshot {sid} not found")

    def delete_files(self, snapshot_id: int | None = None) -> list[dict]:
        """Merge-on-read equality-delete files in force at the snapshot
        (deletes.py), sorted by the delete's snapshot id — the
        applicability boundary. Empty for tables that never ran
        ``delete_where`` or whose deletes were purged."""
        snap = self.snapshot(snapshot_id)
        dels = list((snap or {}).get("delete_files") or [])
        return sorted(dels, key=lambda d: d["snapshot_id"])

    def manifest_summaries(self, snapshot_id: int | None = None) -> list[dict]:
        """The snapshot's manifest-LIST entries (path + n_entries + key
        range per manifest) — the first pruning tier: a point lookup or
        key-range scan drops whole manifests here before any entry is
        read. The list is tiny (one row per manifest) even when the
        manifests themselves hold 10^7-10^8 entries."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        mlist = pq.read_table(os.path.join(self.root, snap["manifest_list"]))
        return mlist.to_pylist()

    def manifest_paths(self, snapshot_id: int | None = None) -> list[str]:
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        mlist = pq.read_table(os.path.join(self.root, snap["manifest_list"]))
        return [os.path.join(self.root, p) for p in mlist.column("manifest_path").to_pylist()]

    def files_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Live file entries of a snapshot as a DataFrame (manifest scan).

        Distributed: manifests are parquet, read by Spark directly — at
        10^12-image scale (millions of manifest entries) this stays off the
        driver.
        """
        paths = self.manifest_paths(snapshot_id)
        if not paths:
            return spark.createDataFrame([], FILE_ENTRY_DDL)
        return spark.read.schema(FILE_ENTRY_DDL).parquet(*paths)

    def file_entries(
        self,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
        paths: list[str] | None = None,
    ) -> pa.Table:
        """Driver-side arrow view of the live entries (small-metadata path).

        ``columns`` prunes the manifest read — the key_bloom column is
        ~256 B/entry (most of an entry's bytes), so callers that don't do
        point lookups should skip it: at 10^7 manifest entries that is the
        difference between ~1 GB and ~2 GB crossing the driver.
        ``paths``: read only these manifests (absolute) — the caller has
        already pruned the manifest list (scan.prune_manifest_summaries)."""
        if paths is None:
            paths = self.manifest_paths(snapshot_id)
        schema = (
            FILE_ENTRY_SCHEMA
            if columns is None
            else pa.schema([f for f in FILE_ENTRY_SCHEMA if f.name in columns])
        )
        if not paths:
            return schema.empty_table()
        return pa.concat_tables(
            [pq.read_table(p, schema=FILE_ENTRY_SCHEMA, columns=columns) for p in paths]
        )

    # -- metadata tables (Iceberg $snapshots / $history / $manifests) -------

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """``table$snapshots``: one row per retained snapshot with commit
        summary + manifest-list totals. Snapshot count is metadata-scale
        (thousands at most after expiry), so the per-snapshot manifest-list
        reads are tiny driver IO; the result is a DataFrame so inspection
        composes with joins/filters like any other table."""
        cur = self.current_snapshot_id
        rows = []
        for s in self.meta["snapshots"]:
            ml = pq.read_table(os.path.join(self.root, s["manifest_list"]))
            summary = s.get("summary") or {}
            rows.append(
                (
                    s["snapshot_id"],
                    s["parent_id"],
                    s["ts_millis"],
                    s["operation"],
                    s["manifest_list"],
                    int(summary.get("added_files", 0)),
                    int(summary.get("deleted_files", 0)),
                    int(sum(ml.column("record_count").to_pylist() or [0])),
                    int(sum(ml.column("file_size_bytes").to_pylist() or [0])),
                    s["snapshot_id"] == cur,
                )
            )
        return spark.createDataFrame(rows, SNAPSHOTS_DDL)

    def _current_ancestors(self) -> set[int]:
        parents = {s["snapshot_id"]: s["parent_id"] for s in self.meta["snapshots"]}
        seen: set[int] = set()
        sid = self.current_snapshot_id
        while sid is not None and sid in parents and sid not in seen:
            seen.add(sid)
            sid = parents[sid]
        return seen

    def history_df(self, spark: SparkSession) -> DataFrame:
        """``table$history``: the made-current log — every commit AND every
        rollback appends an entry, so the table answers "when did snapshot X
        become current, and is it still on the current lineage?" (Iceberg's
        ``is_current_ancestor``). Entries for since-expired snapshots are
        retained with ``is_current_ancestor = false``."""
        anc = self._current_ancestors()
        log = _history_base(self.meta)
        rows = [
            (h["ts_millis"], h["snapshot_id"], h["action"], h["snapshot_id"] in anc)
            for h in log
        ]
        return spark.createDataFrame(rows, HISTORY_DDL)

    def partitions_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """``table$partitions``: per-partition-value summary of a snapshot —
        file count, record count, bytes, and the latest ``added_snapshot_id``
        (Iceberg's partitions metadata table). Unpartitioned/pre-spec files
        aggregate under ``partition = ''``.

        Distributed: one groupBy over the manifest scan (``files_df``), so
        at 10^12-image scale the summary is a metadata-sized shuffle —
        |partition values| rows out — and never touches data files."""
        f = self.files_df(spark, snapshot_id)
        return (
            f.groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("record_count").alias("record_count"),
                F.sum("file_size_bytes").alias("total_size_bytes"),
                F.max("added_snapshot_id").alias("last_added_snapshot_id"),
            )
            .orderBy("partition")
        )

    def manifests_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """``table$manifests``: the snapshot's manifest list as a DataFrame
        (distributed parquet read — at 10^12-image scale a snapshot can own
        thousands of manifests, each covering many data files)."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return spark.createDataFrame([], MANIFEST_LIST_DDL)
        return spark.read.schema(MANIFEST_LIST_DDL).parquet(
            os.path.join(self.root, snap["manifest_list"])
        )

    # -- named refs (Iceberg tags) -------------------------------------------

    @property
    def refs(self) -> dict:
        return self.meta.get("refs", {})

    def create_tag(self, name: str, snapshot_id: int | None = None, max_retries: int = 5) -> None:
        """Iceberg ``create_tag``: a named immutable pointer to a snapshot
        (default: current). Tagged snapshots and their ancestry are retained
        by ``expire_snapshots`` — tags are retention anchors (audit points,
        published dataset versions) that survive routine expiry."""
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            sid = snapshot_id if snapshot_id is not None else t.current_snapshot_id
            if t.snapshot(sid) is None:
                raise KeyError(f"snapshot {sid} not found")
            if name in t.meta.get("refs", {}):
                raise ValueError(f"ref {name!r} already exists")
            meta = dict(t.meta)
            meta["refs"] = dict(
                t.meta.get("refs", {}),
                **{name: {"snapshot_id": sid, "type": "tag", "ts_millis": int(time.time() * 1000)}},
            )
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue
            self.meta, self.version = meta, t.version + 1
            return
        raise CommitConflict(f"create_tag lost {max_retries} races")

    def create_branch(
        self, name: str, snapshot_id: int | None = None, max_retries: int = 5
    ) -> None:
        """Iceberg ``create_branch``: a named MOVABLE pointer to a snapshot
        (default: current). Unlike a tag, a branch advances when commits
        target it (``commit(..., to_ref=name)``), giving an isolated line
        of development over the same table — the generalization of WAP to
        multi-commit audit workflows. Branch heads and their ancestry are
        retention anchors for ``expire_snapshots``, exactly like tags."""
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            sid = snapshot_id if snapshot_id is not None else t.current_snapshot_id
            if t.snapshot(sid) is None:
                raise KeyError(f"snapshot {sid} not found")
            if name in t.meta.get("refs", {}):
                raise ValueError(f"ref {name!r} already exists")
            meta = dict(t.meta)
            meta["refs"] = dict(
                t.meta.get("refs", {}),
                **{name: {"snapshot_id": sid, "type": "branch",
                          "ts_millis": int(time.time() * 1000)}},
            )
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue
            self.meta, self.version = meta, t.version + 1
            return
        raise CommitConflict(f"create_branch lost {max_retries} races")

    def fast_forward(self, name: str, from_ref: str, max_retries: int = 5) -> int:
        """Iceberg ``fast_forward``: move branch ``name`` — or ``"main"``,
        the table's current pointer — to the head of ``from_ref``, ONLY if
        the target's head is an ancestor of the source's head (a true
        fast-forward; anything else needs a merge/cherry-pick, and silently
        jumping would drop the target's unique commits). Metadata-only.
        Returns the new head snapshot id."""
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            src_head = t.resolve_ref(from_ref)
            if name == "main":
                dst_head = t.current_snapshot_id
            else:
                ref = t.meta.get("refs", {}).get(name)
                if ref is None:
                    raise KeyError(f"ref {name!r} not found")
                if ref["type"] != "branch":
                    raise ValueError(f"ref {name!r} is a tag; tags never move")
                dst_head = ref["snapshot_id"]
            parents = {s["snapshot_id"]: s["parent_id"] for s in t.meta["snapshots"]}
            anc, sid = set(), src_head
            while sid is not None:
                anc.add(sid)
                sid = parents.get(sid)
            if dst_head is not None and dst_head not in anc:
                raise CommitConflict(
                    f"cannot fast-forward {name!r} to {from_ref!r}: head "
                    f"{dst_head} is not an ancestor of {src_head} — merge or "
                    "cherry-pick instead"
                )
            meta = dict(t.meta)
            if name == "main":
                meta["current_snapshot_id"] = src_head
                meta["history"] = _history_base(t.meta) + [
                    {
                        "ts_millis": int(time.time() * 1000),
                        "snapshot_id": src_head,
                        "action": "fast-forward",
                    }
                ]
            else:
                meta["refs"] = dict(
                    t.meta.get("refs", {}),
                    **{name: {"snapshot_id": src_head, "type": "branch",
                              "ts_millis": int(time.time() * 1000)}},
                )
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue
            self.meta, self.version = meta, t.version + 1
            return src_head
        raise CommitConflict(f"fast_forward lost {max_retries} races")

    def drop_tag(self, name: str, force: bool = False,
                 max_retries: int = 5) -> None:
        """Delete a tag ref. Refuses branches (they may hold unpublished
        commits whose only retention anchor is the ref — deleting one via
        the tag path would hand their files to the next expire/GC);
        ``force=True`` is the explicit drop-branch escape hatch."""
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            ref = t.meta.get("refs", {}).get(name)
            if ref is None:
                raise KeyError(f"ref {name!r} not found")
            if ref.get("type") == "branch" and not force:
                raise ValueError(
                    f"ref {name!r} is a branch; drop_tag(force=True) to "
                    "delete it (its unpublished snapshots become "
                    "expire/GC-eligible)"
                )
            meta = dict(t.meta)
            meta["refs"] = {k: v for k, v in t.meta["refs"].items() if k != name}
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue
            self.meta, self.version = meta, t.version + 1
            return
        raise CommitConflict(f"drop_tag lost {max_retries} races")

    def replace_tag(self, name: str, snapshot_id: int, max_retries: int = 5) -> None:
        """Atomically point ``name`` at ``snapshot_id``, creating it if
        absent — ONE versioned commit, so there is no drop/create window
        during which ``expire_snapshots`` could miss the anchor. Used by
        consumers (matviews, replicas) that move a retention anchor
        forward on every cycle."""
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            if t.snapshot(snapshot_id) is None:
                raise KeyError(f"snapshot {snapshot_id} not found")
            existing = t.meta.get("refs", {}).get(name)
            if existing is not None and existing["type"] == "branch":
                raise ValueError(
                    f"ref {name!r} is a branch; replace_tag would silently "
                    "retype it — use fast_forward or drop the branch first"
                )
            meta = dict(t.meta)
            meta["refs"] = dict(
                t.meta.get("refs", {}),
                **{name: {"snapshot_id": snapshot_id, "type": "tag",
                          "ts_millis": int(time.time() * 1000)}},
            )
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue
            self.meta, self.version = meta, t.version + 1
            return
        raise CommitConflict(f"replace_tag lost {max_retries} races")

    def resolve_ref(self, name: str) -> int:
        ref = self.refs.get(name)
        if ref is None:
            raise KeyError(f"ref {name!r} not found")
        return ref["snapshot_id"]

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """``table$refs``: one row per named reference."""
        rows = [
            (name, r["type"], r["snapshot_id"], r["ts_millis"])
            for name, r in sorted(self.refs.items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long, created_ts long"
        )

    # -- rollback ------------------------------------------------------------

    def rollback(self, to_snapshot_id: int, max_retries: int = 5) -> None:
        """Iceberg ``rollback_to_snapshot``: make an existing snapshot
        current again. Metadata-only versioned commit — no new snapshot, no
        data movement. Later snapshots stay in history (time travel still
        reaches them) but leave the current ancestry, so the next
        ``expire_snapshots()`` reclaims their unique files — the standard
        Iceberg undo workflow. Subsequent commits parent at the rolled-back
        snapshot and take a fresh never-reused snapshot id (no collision
        with the abandoned branch)."""
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            if t.snapshot(to_snapshot_id) is None:
                raise KeyError(f"snapshot {to_snapshot_id} not found")
            meta = dict(t.meta)
            meta["current_snapshot_id"] = to_snapshot_id
            meta["history"] = _history_base(t.meta) + [
                {
                    "ts_millis": int(time.time() * 1000),
                    "snapshot_id": to_snapshot_id,
                    "action": "rollback",
                }
            ]
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue  # optimistic retry against a concurrent commit
            self.meta, self.version = meta, t.version + 1
            return
        raise CommitConflict(f"rollback lost {max_retries} races")

    # -- write-audit-publish --------------------------------------------------

    def _staged_flag_update(
        self, snapshot_id: int, make_current: bool, action: str, max_retries: int
    ) -> None:
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            snap = t.snapshot(snapshot_id)  # KeyError if unknown
            if not snap.get("staged"):
                raise ValueError(
                    f"snapshot {snapshot_id} is not staged (already "
                    "published/dropped, or a normal commit)"
                )
            if make_current:
                # strict fast-forward: the current snapshot must be on the
                # staged snapshot's ancestry, else a concurrent commit moved
                # the table since staging and publishing would silently drop
                # it — the caller must re-stage on the new current
                cur = t.current_snapshot_id
                parents = {
                    s["snapshot_id"]: s["parent_id"] for s in t.meta["snapshots"]
                }
                anc, sid = set(), snapshot_id
                while sid is not None:
                    anc.add(sid)
                    sid = parents.get(sid)
                if cur is not None and cur not in anc:
                    raise CommitConflict(
                        f"cannot fast-forward publish {snapshot_id}: current "
                        f"snapshot {cur} is not on its ancestry (a commit "
                        "landed after staging); re-stage on the new current"
                    )
            meta = dict(t.meta)
            meta["snapshots"] = [
                dict(s, staged=False) if s["snapshot_id"] == snapshot_id else s
                for s in t.meta["snapshots"]
            ]
            if make_current:
                meta["current_snapshot_id"] = snapshot_id
                meta["history"] = _history_base(t.meta) + [
                    {
                        "ts_millis": int(time.time() * 1000),
                        "snapshot_id": snapshot_id,
                        "action": action,
                    }
                ]
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue  # optimistic retry against a concurrent commit
            self.meta, self.version = meta, t.version + 1
            return
        raise CommitConflict(f"{action} lost {max_retries} races")

    def publish_snapshot(self, snapshot_id: int, max_retries: int = 5) -> None:
        """Write-audit-publish, the publish half: fast-forward the current
        pointer to a snapshot committed with ``stage_only=True`` after the
        audit passed. Metadata-only; raises CommitConflict if the table
        moved since staging (strict fast-forward, no cherry-pick)."""
        self._staged_flag_update(snapshot_id, True, "publish", max_retries)

    def cherrypick_snapshot(self, snapshot_id: int, max_retries: int = 5) -> int:
        """Iceberg ``cherrypick_snapshot``: publish a STAGED snapshot even
        after the table moved since staging — the case ``publish_snapshot``'s
        strict fast-forward refuses.

        Fast path: if the current snapshot is still on the staged
        snapshot's ancestry, this IS a fast-forward (delegates to
        ``publish_snapshot``; no new snapshot, returns the staged id).
        Otherwise the staged snapshot's delta against its parent (files it
        added, files it removed) is REPLAYED on top of the current head as
        a new ``cherry-pick`` commit and the source's staged marker is
        cleared (it becomes ordinary abandoned history; its data files
        stay live through the replay commit's manifests).

        Conflict rules (Iceberg's):
        - pure appends always replay (appends commute with any concurrent
          commit);
        - a staged REWRITE (deletes files) replays only if every file it
          deletes is still live at the current head — if a concurrent
          compaction/cluster/merge already rewrote one, both rewrites
          touched the same rows and replaying would resurrect or duplicate
          them → CommitConflict, re-stage against the new head;
        - staged commits that changed the schema or added merge-on-read
          delete files don't replay (their effects are anchored to the
          parent snapshot's state) → ValueError.

        Metadata-only except for rewritten carry manifests: the replay
        re-references the staged snapshot's already-durable data files.
        """
        try:
            self.publish_snapshot(snapshot_id, max_retries)
            return snapshot_id
        except CommitConflict:
            pass  # head moved since staging — replay below
        t = self.refresh()
        snap = t.snapshot(snapshot_id)
        parent = (
            t.snapshot(snap["parent_id"]) if snap.get("parent_id") is not None else None
        )
        if snap.get("schema") != (parent or {}).get("schema"):
            raise ValueError(
                f"cannot cherry-pick {snapshot_id}: it changed the table "
                "schema; re-stage the evolution against the current head"
            )
        if (snap.get("delete_files") or []) != ((parent or {}).get("delete_files") or []):
            raise ValueError(
                f"cannot cherry-pick {snapshot_id}: it added merge-on-read "
                "delete files whose applicability window is anchored to its "
                "parent; re-stage against the current head"
            )
        s_entries = t.file_entries(snapshot_id=snapshot_id)
        s_paths = set(s_entries.column("file_path").to_pylist())
        p_paths = (
            set(
                t.file_entries(
                    snapshot_id=snap["parent_id"], columns=["file_path"]
                ).column("file_path").to_pylist()
            )
            if parent is not None
            else set()
        )
        added_paths = s_paths - p_paths
        deleted_paths = p_paths - s_paths
        added = s_entries.filter(
            pa.compute.is_in(
                s_entries.column("file_path"),
                value_set=pa.array(sorted(added_paths), pa.string()),
            )
        )
        for attempt in range(max_retries):
            t = self.refresh()
            if deleted_paths and t.delete_files():
                # A rewrite replay re-stamps its output rows with a NEW
                # added_snapshot_id — newer than any pending merge-on-read
                # delete's sid, so the delete would stop applying to them:
                # silent un-deletion. (The staged rewrite itself was created
                # under require_no_pending_deletes, so any pending delete
                # here landed concurrently.) Same rule as compact/zorder/
                # MERGE; appends replay freely.
                raise CommitConflict(
                    f"cannot cherry-pick {snapshot_id}: the current head has "
                    "pending merge-on-read delete files and the staged "
                    "snapshot is a rewrite (replay would un-delete rows); "
                    "run deletes.purge_deletes, then re-stage"
                )
            cur_paths = set(
                t.file_entries(columns=["file_path"]).column("file_path").to_pylist()
            )
            gone = deleted_paths - cur_paths
            if gone:
                raise CommitConflict(
                    f"cannot cherry-pick {snapshot_id}: {len(gone)} file(s) "
                    "it rewrites were already rewritten/deleted by a "
                    f"concurrent commit (e.g. {sorted(gone)[0]}); re-stage "
                    "against the current head"
                )
            if deleted_paths:
                # explicit carry list (current head's manifests, filtered of
                # the replayed deletes) so commit() raises CommitConflict if
                # ANOTHER commit lands between this plan and the version
                # write — the liveness check above must not go stale
                carried = []
                for row in t.manifest_summaries():
                    mpath = os.path.join(t.root, row["manifest_path"])
                    entries = pq.read_table(mpath, schema=FILE_ENTRY_SCHEMA)
                    hit = set(entries.column("file_path").to_pylist()) & deleted_paths
                    if not hit:
                        carried.append(
                            {k: row[k] for k in row if k != "added_snapshot_id"}
                        )
                        continue
                    keep = entries.filter(
                        pa.compute.invert(
                            pa.compute.is_in(
                                entries.column("file_path"),
                                value_set=pa.array(sorted(deleted_paths), pa.string()),
                            )
                        )
                    )
                    if keep.num_rows:
                        _, msum = t.write_manifest(keep, tag="cherry-rw")
                        carried.append(msum)
            else:
                carried = None  # pure append: default carry, commutes freely
            try:
                new_id = t.commit(
                    "cherry-pick",
                    added=added if added.num_rows else None,
                    deleted_paths=deleted_paths,
                    carried_manifest_summaries=carried,
                    summary={"source_snapshot_id": snapshot_id},
                )
            except CommitConflict:
                continue  # head moved mid-replay: re-validate and re-plan
            self.meta, self.version = t.meta, t.version
            self._staged_flag_update(snapshot_id, False, "cherry-pick", max_retries)
            return new_id
        raise CommitConflict(f"cherry-pick of {snapshot_id} lost {max_retries} races")

    def drop_staged(self, snapshot_id: int, max_retries: int = 5) -> None:
        """Abandon a staged snapshot whose audit failed: the pointer never
        moves, the staged marker is cleared, and the branch becomes ordinary
        abandoned history — the next ``expire_snapshots`` reclaims its
        unique files."""
        self._staged_flag_update(snapshot_id, False, "drop-staged", max_retries)

    # -- commit -------------------------------------------------------------

    def _write_version(self, v: int, meta: dict) -> None:
        # write-tmp-then-hard-link: keeps put-if-absent (os.link raises
        # FileExistsError, same contract as O_CREAT|O_EXCL) AND crash
        # atomicity — a kill mid-dump leaves only a .tmp, never a truncated
        # v{N}.json that load() would pick as latest and choke on
        path = os.path.join(self.root, "metadata", f"v{v}.json")
        tmp_v = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp_v, "w") as fh:
            json.dump(meta, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp_v, path)
        finally:
            os.unlink(tmp_v)
        hint = os.path.join(self.root, "metadata", "version-hint.text")
        tmp = hint + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, hint)

    def write_manifest(self, entries: pa.Table, tag: str = "m") -> tuple[str, dict]:
        """Write one manifest parquet; returns (relpath, summary stats)."""
        if "schema_id" not in entries.schema.names:
            # entry dicts from stats_entry_for predate the field-id model;
            # a NULL here means "resolve via added_snapshot_id" (fields.py)
            entries = entries.append_column(
                "schema_id", pa.nulls(entries.num_rows, pa.int64())
            )
        entries = entries.cast(FILE_ENTRY_SCHEMA)
        rel = f"metadata/manifest-{tag}-{uuid.uuid4().hex[:12]}.parquet"
        pq.write_table(entries, os.path.join(self.root, rel))
        mins = entries.column("min_key").to_pylist()
        maxs = entries.column("max_key").to_pylist()
        pvals = set(entries.column("partition").to_pylist())
        summary = {
            "manifest_path": rel,
            "n_entries": entries.num_rows,
            "record_count": sum(entries.column("record_count").to_pylist() or [0]),
            "file_size_bytes": sum(entries.column("file_size_bytes").to_pylist() or [0]),
            "min_key": min([m for m in mins if m is not None], default=None),
            "max_key": max([m for m in maxs if m is not None], default=None),
            # labeled only when every entry shares ONE non-empty value
            "partition": pvals.pop() if len(pvals) == 1 and "" not in pvals and None not in pvals else None,
        }
        return rel, summary

    def commit(
        self,
        operation: str,
        added: pa.Table | None = None,
        deleted_paths: set[str] | None = None,
        carried_manifest_summaries: list[dict] | None = None,
        summary: dict | None = None,
        max_retries: int = 5,
        meta_updates: dict | Callable[[dict], dict] | None = None,
        new_delete_entries: list[dict] | None = None,
        delete_files_override: list[dict] | None = None,
        stage_only: bool = False,
        to_ref: str | None = None,
    ) -> int:
        """Commit a new snapshot.

        ``added``: new file entries (one new manifest is written).
        ``deleted_paths``: data-file paths removed from the live set; any
        carried-forward manifest containing one is rewritten without them.
        On the default carry path every one of them must be live in the
        parent each attempt commits over: if a concurrent commit already
        removed one (a merge or compaction rewrote the same file), the
        attempt raises CommitConflict instead of re-adding the rewrite's
        copy of rows the other commit replaced — the caller re-plans.
        Whenever ``deleted_paths`` is non-empty, on every carry path, an
        attempt whose parent carries a delete file (by ``file_path``) that
        the parent at call time lacks also raises CommitConflict: the
        rewrite read rows that delete removes, and its new files (new
        paths, new ``added_snapshot_id``) are out of that delete's reach.
        Appends delete nothing and still commit over concurrent deletes.
        ``carried_manifest_summaries``: pre-built manifest summaries (used by
        the manifest-rewrite job); default = parent's manifests, filtered.
        A commit that deletes nothing (an append) carries the parent's
        manifest-list rows as they are and opens no manifest.
        ``new_delete_entries``: merge-on-read equality-delete files added by
        this commit (deletes.py); each is stamped with THIS snapshot's id —
        the applicability boundary (the delete applies to data files with
        added_snapshot_id < it). The parent's delete files always carry
        forward unless ``delete_files_override`` replaces the list wholesale
        (purge_deletes sets ``[]`` after folding them into the data).
        ``stage_only``: write-audit-publish staging (Iceberg WAP) — the
        snapshot is committed to history (its files are durable and
        reachable) but the current pointer does NOT move: readers keep
        seeing the pre-stage table until ``publish_snapshot`` fast-forwards
        to it after the audit, or ``drop_staged`` abandons it. Staged
        snapshots survive routine expiry until published or dropped.
        ``to_ref``: commit onto the named BRANCH instead of main — parents
        at the branch head and advances the branch ref; the current pointer
        and made-current history are untouched (readers of main see nothing
        until ``fast_forward("main", branch)``). Exclusive with
        ``stage_only``.
        ``meta_updates``: table-metadata fields changed by this commit (e.g.
        ``{"schema": ...}`` for add-column evolution); applied under the same
        optimistic-retry, so concurrent evolution commits serialize. A
        CALLABLE receives the refreshed metadata each attempt and returns
        the update dict — required whenever the update derives from current
        state (a precomputed schema string from a stale base would silently
        drop a concurrent writer's column on retry). Each snapshot records
        the schema CURRENT AS OF that snapshot, so pinned and time-travel
        reads use the schema their data was written under.
        """
        deleted_paths = deleted_paths or set()
        if to_ref is not None and stage_only:
            raise ValueError(
                "stage_only and to_ref are exclusive: a branch commit IS "
                "the isolation mechanism — stage on main or commit to the "
                "branch, not both"
            )

        def _parent_of(tt: "Table") -> dict | None:
            if to_ref is None:
                return tt.snapshot()
            ref = tt.meta.get("refs", {}).get(to_ref)
            if ref is None:
                raise KeyError(f"ref {to_ref!r} not found")
            if ref["type"] != "branch":
                raise ValueError(
                    f"ref {to_ref!r} is a tag; commits target branches"
                )
            return tt.snapshot(ref["snapshot_id"])

        def _delete_paths(snap: dict | None) -> set[str]:
            return {d["file_path"] for d in (snap or {}).get("delete_files") or []}

        base_parent = _parent_of(self)
        base_deletes = _delete_paths(base_parent)
        for attempt in range(max_retries):
            t = self.refresh() if attempt else self
            parent = _parent_of(t)
            if deleted_paths:
                new_deletes = _delete_paths(parent) - base_deletes
                if new_deletes:
                    raise CommitConflict(
                        f"{operation} rewrites files planned at snapshot "
                        f"{(base_parent or {}).get('snapshot_id')} but "
                        f"{len(new_deletes)} delete file(s) were added since "
                        f"(e.g. {sorted(new_deletes)[0]}); re-plan against "
                        "the current snapshot"
                    )
            if (
                attempt
                and carried_manifest_summaries is not None
                and (parent or {}).get("snapshot_id")
                != (base_parent or {}).get("snapshot_id")
            ):
                # an EXPLICIT carried list was computed against the original
                # parent; replaying it over a moved parent would drop the
                # concurrent committer's files from the table (the default
                # carry path re-derives from the refreshed parent instead)
                raise CommitConflict(
                    f"{operation} commit computed its manifest carry-over "
                    f"against snapshot {(base_parent or {}).get('snapshot_id')} "
                    f"but the table advanced to "
                    f"{(parent or {}).get('snapshot_id')} — re-plan against "
                    "the current snapshot"
                )
            # max+1, NOT parent+1: after a rollback the current snapshot is
            # no longer the newest, and reusing an abandoned branch's id
            # would corrupt time travel
            existing = [s["snapshot_id"] for s in t.meta["snapshots"]]
            snapshot_id = (max(existing) + 1) if existing else 1

            manifests: list[dict] = []
            if carried_manifest_summaries is not None:
                manifests.extend(carried_manifest_summaries)
            elif parent is not None and not deleted_paths:
                # nothing to filter out: the parent's manifests carry
                # forward as they are, unopened
                manifests.extend(
                    pq.read_table(
                        os.path.join(t.root, parent["manifest_list"])
                    ).to_pylist()
                )
            elif parent is not None:
                prior = pq.read_table(os.path.join(t.root, parent["manifest_list"]))
                found: set[str] = set()
                for row in prior.to_pylist():
                    mpath = os.path.join(t.root, row["manifest_path"])
                    entries = pq.read_table(mpath, schema=FILE_ENTRY_SCHEMA)
                    paths_in = set(entries.column("file_path").to_pylist())
                    hit = paths_in & deleted_paths
                    found |= hit
                    if not hit:
                        manifests.append(row)
                        continue
                    keep = entries.filter(
                        pa.compute.invert(
                            pa.compute.is_in(
                                entries.column("file_path"), value_set=pa.array(deleted_paths)
                            )
                        )
                    )
                    if keep.num_rows:
                        _, msum = t.write_manifest(keep, tag=f"s{snapshot_id}-rw")
                        manifests.append(msum)
                gone = deleted_paths - found
                if gone:
                    # a concurrent commit already removed a file this one
                    # rewrites: carrying on would re-add its rows beside
                    # that commit's version of them. Retrying cannot help,
                    # the caller re-plans on the current snapshot
                    raise CommitConflict(
                        f"{operation} deletes {len(gone)} file(s) no longer "
                        f"live at snapshot {parent['snapshot_id']} (e.g. "
                        f"{sorted(gone)[0]}); re-plan against the current "
                        "snapshot"
                    )

            if added is not None and added.num_rows:
                added = added.set_column(
                    added.schema.get_field_index("added_snapshot_id"),
                    "added_snapshot_id",
                    pa.array([snapshot_id] * added.num_rows, pa.int64()),
                )
                # stamp the field-id schema version the files were written
                # under (= current at write; schema-change commits never add
                # data files). Pre-stamped NON-NULL values are preserved —
                # replication copies files byte-for-byte from a source table
                # and must keep the source's version
                from nessie_spark.lakehouse.fields import current_schema_id

                sid = current_schema_id(t.meta)
                if "schema_id" in added.schema.names:
                    import pyarrow.compute as _pc

                    added = added.set_column(
                        added.schema.get_field_index("schema_id"),
                        "schema_id",
                        _pc.fill_null(
                            added.column("schema_id").cast(pa.int64()), sid
                        ),
                    )
                else:
                    added = added.append_column(
                        "schema_id", pa.array([sid] * added.num_rows, pa.int64())
                    )
                _, msum = t.write_manifest(added, tag=f"s{snapshot_id}-add")
                manifests.append(msum)

            # UNIQUE path per ATTEMPT, not per snapshot id: two racing
            # committers compute the same next id, and a fixed
            # snap-{id}-manifest-list.parquet lets the LOSER overwrite the
            # winner's list after the winner's O_EXCL version create — the
            # winner's rows silently vanish from its own snapshot. With a
            # uuid suffix the loser's list is just an orphan (gc sweeps
            # unreachable metadata); atomicity lives solely in v{N}.json.
            mlist_rel = (
                f"metadata/snap-{snapshot_id}-manifest-list-"
                f"{uuid.uuid4().hex[:12]}.parquet"
            )
            pq.write_table(
                pa.Table.from_pylist(manifests, schema=MANIFEST_LIST_SCHEMA),
                os.path.join(t.root, mlist_rel),
            )

            updates = meta_updates(t.meta) if callable(meta_updates) else meta_updates
            meta = dict(t.meta, **(updates or {}))
            if delete_files_override is not None:
                dfs = list(delete_files_override)
            else:
                dfs = list((parent or {}).get("delete_files") or [])
            if new_delete_entries:
                dfs = dfs + [
                    dict(e, snapshot_id=snapshot_id) for e in new_delete_entries
                ]
            snap = {
                "snapshot_id": snapshot_id,
                "parent_id": parent["snapshot_id"] if parent else None,
                "ts_millis": int(time.time() * 1000),
                "operation": operation,
                "manifest_list": mlist_rel,
                "schema": meta.get("schema"),
                # field-id schema version as of THIS commit (post-update:
                # a schema-change commit's snapshot records the new version)
                "schema_id": int(meta.get("current_schema_id", 0)),
                "delete_files": dfs,
                "summary": dict(
                    summary or {},
                    added_files=int(added.num_rows if added is not None else 0),
                    deleted_files=len(deleted_paths),
                ),
            }
            if stage_only:
                snap["staged"] = True
            meta["snapshots"] = list(t.meta["snapshots"]) + [snap]
            if to_ref is not None:
                # branch commit: advance the branch head, never the current
                # pointer or the made-current log (main readers and AS OF
                # time travel stay on main's line until a fast_forward)
                meta["refs"] = dict(
                    meta.get("refs", {}),
                    **{to_ref: {"snapshot_id": snapshot_id, "type": "branch",
                                "ts_millis": snap["ts_millis"]}},
                )
            elif not stage_only:
                # staged snapshots never become current here, so they also
                # add no made-current history event — publish_snapshot does
                meta["current_snapshot_id"] = snapshot_id
                meta["history"] = _history_base(t.meta) + [
                    {
                        "ts_millis": snap["ts_millis"],
                        "snapshot_id": snapshot_id,
                        "action": operation,
                    }
                ]
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                continue  # optimistic retry against a concurrent commit
            self.meta, self.version = meta, t.version + 1
            return snapshot_id
        raise CommitConflict(f"could not commit after {max_retries} retries")
