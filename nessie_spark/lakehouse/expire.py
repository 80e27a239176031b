"""Snapshot expiry (BFS over the snapshot DAG) + orphan-file GC.

north_star (BASELINE.json:6): "snapshot expiry via BFS reachability over the
snapshot DAG with orphan-file GC".

- The DAG walk runs on the driver: snapshots are metadata (thousands at
  most), never data.
- File reachability (``_unreferenced``) is sized from the manifest lists'
  ``n_entries`` before any manifest is read, and ``scan.on_driver`` picks
  where it runs. On the driver it is a set difference over pyarrow reads
  of the manifests' ``file_path`` column: a Spark job would cost more
  than the work. Otherwise the manifests are read by Spark and the
  delete-set is a LEFT ANTI join (SURVEY.md §2.6) — at 10^12-image scale
  the file inventory is far too big for the driver.
- ``dry_run`` reports without deleting (golden DAG fixtures, FIXTURES.md §3).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from nessie_spark.lakehouse import scan as _scan
from nessie_spark.lakehouse.table import Table


@dataclass
class ExpiryReport:
    retained_snapshots: list[int]
    expired_snapshots: list[int]
    deleted_data_files: list[str] = field(default_factory=list)
    deleted_orphans: list[str] = field(default_factory=list)
    dry_run: bool = False


def reachable_snapshots(table: Table, heads: list[int]) -> set[int]:
    """BFS from the given head snapshot ids over parent pointers. A parent
    id that no longer exists in the snapshot list (trimmed by an earlier
    retention-policy expiry — retain_last/older_than leave parent-chain
    holes below the retained suffix) terminates the walk rather than
    entering the result."""
    parents = {s["snapshot_id"]: s["parent_id"] for s in table.meta["snapshots"]}
    seen: set[int] = set()
    frontier = [h for h in heads if h in parents]
    while frontier:
        sid = frontier.pop()
        if sid in seen:
            continue
        seen.add(sid)
        p = parents.get(sid)
        if p is not None and p not in seen and p in parents:
            frontier.append(p)
    return seen


def _unreferenced(
    spark: SparkSession,
    table: Table,
    keep_ids: set[int],
    lists: dict[int, list[dict]],
    paths: list[str] | None = None,
) -> list[str]:
    """Which of ``paths`` (relative to the table root) does no snapshot in
    ``keep_ids`` reference? With ``paths=None`` the candidates are every
    file referenced by the table's snapshots outside ``keep_ids``: the
    files expiry may delete. Returned sorted.

    A snapshot references the data files its manifests list plus its
    merge-on-read delete files (deletes.py), so expiry deletes a delete
    file only when no retained snapshot still needs it and gc_orphans
    never sees a live one as an orphan.

    ``lists`` maps snapshot id -> manifest-list rows. Every snapshot of
    ``table`` missing from it is read into it here, so each manifest list
    is read once per caller, who reuses ``lists`` for manifest-level
    reachability. ``scan.on_driver`` puts the manifests' ``n_entries``
    total on the driver or the Spark path."""
    by_id = {s["snapshot_id"]: s for s in table.meta["snapshots"]}
    for sid, snap in by_id.items():
        if sid not in lists:
            lists[sid] = pq.read_table(
                os.path.join(table.root, snap["manifest_list"])
            ).to_pylist()
    if paths is not None and not paths:
        return []
    drop_ids = set() if paths is not None else by_id.keys() - keep_ids

    def manifests(ids) -> dict[str, int]:
        return {
            m["manifest_path"]: m["n_entries"] or 0 for sid in ids for m in lists[sid]
        }

    def deletes(ids) -> set[str]:
        return {
            d["file_path"]
            for sid in ids
            for d in (by_id.get(sid, {}).get("delete_files") or [])
        }

    keep_m, drop_m = manifests(keep_ids), manifests(drop_ids)
    if _scan.on_driver(spark, entries=sum({**drop_m, **keep_m}.values())):
        def files(mans) -> set[str]:
            out: set[str] = set()
            for m in mans:
                col = pq.read_table(
                    os.path.join(table.root, m), columns=["file_path"]
                ).column("file_path")
                out.update(col.to_pylist())
            return out

        keep = files(keep_m) | deletes(keep_ids)
        # a manifest shared with a kept snapshot holds only kept files
        cand = set(paths) if paths is not None else (
            files(drop_m.keys() - keep_m.keys()) | deletes(drop_ids)
        )
        return sorted(cand - keep)

    def paths_df(mans, dpaths):
        ddf = (
            spark.createDataFrame([(p,) for p in sorted(dpaths)], "file_path string")
            if dpaths
            else None
        )
        if not mans:
            return ddf or spark.createDataFrame([], "file_path string")
        mdf = spark.read.parquet(
            *sorted(os.path.join(table.root, m) for m in mans)
        ).select("file_path")
        return (mdf.unionByName(ddf) if ddf is not None else mdf).distinct()

    keep_df = paths_df(keep_m, deletes(keep_ids))
    cand_df = (
        spark.createDataFrame([(p,) for p in paths], "file_path string")
        if paths is not None
        else paths_df(drop_m, deletes(drop_ids))
    )
    return sorted(
        r.file_path for r in cand_df.join(keep_df, "file_path", "left_anti").collect()
    )


def _manifest_files(table: Table, lists: dict[int, list[dict]], ids) -> set[str]:
    return {
        os.path.join(table.root, m["manifest_path"]) for sid in ids for m in lists[sid]
    }


def _retained_with_policy(
    table: Table,
    heads: list[int],
    retain_last: int | None,
    older_than_millis: int | None,
) -> set[int]:
    """Ancestors of ``heads`` surviving the retention policy. A chain
    snapshot expires iff it is not a head, is beyond ``retain_last``
    positions from its nearest head, AND (when ``older_than_millis`` is
    set) was committed before the cutoff — Iceberg's
    ``expire_snapshots(older_than, retain_last)`` rule. ts is monotone
    along any parent chain, so each head's retained ancestors form a
    contiguous suffix ending at that head; with multiple heads (e.g. a tag
    far below current) the UNION can have gaps between suffixes — parent
    pointers at a gap dangle, which every chain walker tolerates
    (reachable_snapshots, Table._current_ancestors) and scan_incremental
    reports as an expired-ancestry error."""
    parents = {s["snapshot_id"]: s["parent_id"] for s in table.meta["snapshots"]}
    ts = {s["snapshot_id"]: s["ts_millis"] for s in table.meta["snapshots"]}
    keep: set[int] = set()
    for h in heads:
        depth, sid = 0, h
        while sid is not None and sid in parents:
            expirable = (
                depth > 0
                and (retain_last is None or depth >= retain_last)
                and (older_than_millis is None or ts[sid] < older_than_millis)
            )
            if not expirable:
                keep.add(sid)
            sid = parents[sid]
            depth += 1
    return keep


def expire_snapshots(
    spark: SparkSession,
    table: Table,
    keep_heads: list[int] | None = None,
    dry_run: bool = False,
    retain_last: int | None = None,
    older_than_millis: int | None = None,
) -> ExpiryReport:
    """Retain ``keep_heads`` (default: current + every named ref) and their
    ancestors' *metadata* under the retention policy; expire every other
    snapshot and delete data files referenced only by expired snapshots.

    ``retain_last`` / ``older_than_millis`` trim ancestor HISTORY too
    (Iceberg's expiry knobs): with ``retain_last=K`` only the K most recent
    snapshots of each head's lineage stay time-travelable; with
    ``older_than_millis`` only snapshots committed at/after the cutoff
    stay (heads always survive; when both are given a snapshot must fail
    both to expire). Files still live in a retained snapshot are never
    deleted — the keep-set subtraction is unchanged. Incremental reads whose
    range crosses a trimmed snapshot raise (scan.py), never silently skip.
    With neither knob set, all ancestors are retained (pure
    abandoned-branch expiry — the pre-policy behavior).

    Note on semantics: ancestors of a retained head stay readable (time
    travel along the retained lineage); snapshots on abandoned branches — not
    reachable from any head — are expired together with their unique files.
    """
    # default heads: current snapshot + every named ref (tags are retention
    # anchors — a tagged snapshot and its ancestry survive routine expiry)
    # + snapshots still staged for write-audit-publish (a pending audit must
    # not lose its files to routine expiry; drop_staged/publish retire the
    # marker and return the branch to ordinary retention rules)
    heads = keep_heads or (
        ([table.current_snapshot_id] if table.current_snapshot_id else [])
        + [r["snapshot_id"] for r in table.meta.get("refs", {}).values()]
        + [s["snapshot_id"] for s in table.meta["snapshots"] if s.get("staged")]
    )
    if retain_last is None and older_than_millis is None:
        retained = reachable_snapshots(table, heads)
    else:
        retained = _retained_with_policy(table, heads, retain_last, older_than_millis)
    all_ids = {s["snapshot_id"] for s in table.meta["snapshots"]}
    expired = sorted(all_ids - retained)

    # files referenced by an expired snapshot but by NO retained snapshot
    lists: dict[int, list[dict]] = {}
    doomed = _unreferenced(spark, table, retained, lists)

    report = ExpiryReport(sorted(retained), expired, doomed, [], dry_run)
    if not dry_run:
        # manifest-file reachability, same rule as data files: manifests
        # referenced ONLY by expired snapshots are deleted too (r1 leaked
        # them forever — gc_orphans only scans data/). Computed BEFORE the
        # metadata write (expired snapshots are unreadable after it);
        # retry rescues below only ever SHRINK the doomed sets.
        kept_manifests = _manifest_files(table, lists, retained)
        doomed_manifests = _manifest_files(table, lists, expired)

        # metadata update FIRST, through the same optimistic-retry
        # discipline as Table.commit — a concurrent commit between our load
        # and write must neither be clobbered nor crash us with
        # FileExistsError (r1 ADVICE); file deletions only run after the
        # new version is durable, so a crash mid-expiry never leaves live
        # metadata pointing at deleted files.
        t = table
        mlists: list[str] = []
        retained_grew = False
        for _ in range(5):
            meta = dict(t.meta)
            kept_snaps = [s for s in meta["snapshots"] if s["snapshot_id"] in retained]
            mlists = [
                os.path.join(t.root, s["manifest_list"])
                for s in meta["snapshots"]
                if s["snapshot_id"] not in retained
            ]
            meta["snapshots"] = kept_snaps
            # explicit keep_heads may expire a tagged snapshot: drop the
            # now-dangling refs rather than leave pointers to nothing
            if meta.get("refs"):
                meta["refs"] = {
                    k: v for k, v in meta["refs"].items() if v["snapshot_id"] in retained
                }
            try:
                t._write_version(t.version + 1, meta)
            except FileExistsError:
                base_ids = {x["snapshot_id"] for x in table.meta["snapshots"]}
                t = t.refresh()
                # snapshots committed concurrently are implicitly retained,
                # and so is anything a concurrent rollback / replace_tag /
                # staged commit made a HEAD of (plus its ancestry) — the
                # stale retained set would otherwise drop the new current
                # pointer's snapshot and delete its files
                retained.update(
                    s["snapshot_id"] for s in t.meta["snapshots"]
                    if s["snapshot_id"] not in base_ids
                )
                new_heads = (
                    ({t.current_snapshot_id} if t.current_snapshot_id else set())
                    | {r["snapshot_id"] for r in t.meta.get("refs", {}).values()}
                    | {s["snapshot_id"] for s in t.meta["snapshots"] if s.get("staged")}
                )
                missing = new_heads - retained
                if missing:
                    retained.update(reachable_snapshots(t, sorted(missing)))
                    retained_grew = True
                continue
            table.meta, table.version = meta, t.version + 1
            break
        else:
            raise RuntimeError("expire_snapshots: metadata update lost 5 races")

        if retained_grew:
            # a snapshot rescued by the retry (concurrent rollback /
            # replace_tag / staged commit made it reachable again) must
            # keep its files and manifests: subtract everything the FINAL
            # retained set can reach. Rescued snapshots live in the kept
            # metadata, so the reads below resolve post-write.
            doomed = _unreferenced(spark, table, retained, lists, doomed)
            kept_manifests |= _manifest_files(table, lists, retained)
            report = ExpiryReport(
                sorted(retained),
                sorted(all_ids - retained),
                doomed, [], dry_run,
            )

        for rel in doomed:
            p = os.path.join(table.root, rel)
            if os.path.exists(p):
                os.remove(p)
        for mp in sorted(doomed_manifests - kept_manifests):
            if os.path.exists(mp):
                os.remove(mp)
        for ml in mlists:
            if os.path.exists(ml):
                os.remove(ml)
        # metadata version-log retention (Iceberg's
        # write.metadata.previous-versions-max): commits append v{N}.json
        # forever; a table with the property set truncates the log here,
        # alongside the snapshot expiry it belongs with
        prev_max = (table.meta.get("properties") or {}).get(
            "write.metadata.previous-versions-max"
        )
        if prev_max is not None:
            table.expire_metadata_versions(keep_last=int(prev_max) + 1)
    return report


def gc_orphans(
    spark: SparkSession, table: Table, dry_run: bool = False,
    older_than_millis: int = 0,
) -> list[str]:
    """Delete data AND metadata files not referenced by ANY snapshot.

    Filesystem listing minus the reachable-file set (``_unreferenced``: a
    driver set difference for small metadata, else a LEFT ANTI JOIN). The
    listing is produced driver-side here (local fs); on object storage this
    becomes a distributed listing DataFrame — the join shape is unchanged.

    Metadata orphans exist by design: a commit attempt that loses the
    optimistic race leaves its freshly-written manifest and manifest-list
    parquet unreferenced (table.py commit loop); only gc reclaims them.
    Reachable metadata = every snapshot's manifest list + every manifest
    those lists name; version JSONs are the table itself and never swept.

    ``older_than_millis``: skip files younger than this (mtime) — on a
    table with LIVE writers an in-flight commit's files are unreferenced
    until its version file lands, so production sweeps should pass hours
    (Iceberg's orphan GC defaults to days); 0 suits quiesced maintenance
    windows and tests."""
    import time

    data_dir = os.path.join(table.root, "data")
    meta_dir = os.path.join(table.root, "metadata")
    listing = [
        os.path.join("data", f) for f in os.listdir(data_dir)
    ] if os.path.isdir(data_dir) else []
    meta_listing = [
        os.path.join("metadata", f)
        for f in (os.listdir(meta_dir) if os.path.isdir(meta_dir) else [])
        if f.endswith(".parquet")
    ]
    if not listing and not meta_listing:
        return []
    if older_than_millis > 0:
        cutoff = time.time() - older_than_millis / 1000.0
        keep_young = lambda rel: os.path.getmtime(  # noqa: E731
            os.path.join(table.root, rel)
        ) >= cutoff
        listing = [p for p in listing if not keep_young(p)]
        meta_listing = [p for p in meta_listing if not keep_young(p)]
    # outputs of UNCOMMITTED resumable jobs are referenced only by their
    # lineage units until the commit lands — deleting them would break the
    # resume contract (the same reason sweep_committed_stage_dirs keeps
    # uncommitted stage dirs), so they join the reachable set
    pending: set[str] = set()
    lin_root = os.path.join(table.root, "_lineage")
    if os.path.isdir(lin_root):
        from nessie_spark.lakehouse import lineage as _lineage

        for job in os.listdir(lin_root):
            jdir = os.path.join(lin_root, job)
            if not os.path.isdir(jdir) or os.path.exists(
                os.path.join(jdir, "COMMITTED")
            ):
                continue
            for phase in os.listdir(jdir):
                if not os.path.isdir(os.path.join(jdir, phase)):
                    continue
                for u in _lineage.read_phase(table.root, job, phase).to_pylist():
                    pending.update(u["output_files"])
    lists: dict[int, list[dict]] = {}
    orphans = _unreferenced(
        spark, table, {s["snapshot_id"] for s in table.meta["snapshots"]}, lists,
        [p for p in listing if ".tmp-" not in p and p not in pending],
    )
    if meta_listing:
        reachable_meta = {s["manifest_list"] for s in table.meta["snapshots"]} | {
            m["manifest_path"] for ms in lists.values() for m in ms
        }
        orphans += [p for p in meta_listing if p not in reachable_meta]
    if not dry_run:
        for rel in orphans:
            os.remove(os.path.join(table.root, rel))
        sweep_committed_stage_dirs(table.root)
    return sorted(orphans)


def sweep_committed_stage_dirs(root: str) -> list[str]:
    """Remove ``_stage/{job_id}`` staging shards left behind by jobs whose
    snapshot is already committed (a crash between mark_committed and the
    in-job cleanup). Uncommitted stage dirs are kept — they may belong to a
    resumable in-flight job."""
    import shutil

    from nessie_spark.lakehouse import lineage

    stage_root = os.path.join(root, "_stage")
    if not os.path.isdir(stage_root):
        return []
    swept = []
    for job_id in sorted(os.listdir(stage_root)):
        d = os.path.join(stage_root, job_id)
        if os.path.isdir(d) and lineage.committed_snapshot(root, job_id) is not None:
            shutil.rmtree(d, ignore_errors=True)
            swept.append(job_id)
    return swept
