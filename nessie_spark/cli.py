"""spark-submit entrypoint (north_rule: "run via spark-submit --py-files").

Usage:
    spark-submit --py-files nessie_spark.zip nessie_spark/cli.py \
        --table /path/to/images \
        --job compact|zorder|hilbert|expire|gc|rewrite-manifests|merge|add-column|incremental|changelog|rollback|inspect|delete-where|purge-deletes \
        [--target-bytes 134217728] [--job-id resumable-id]

    # synthesize a table first:
    spark-submit ... --table /path --job synth --rows 100000

On a cluster the master/executors come from spark-submit; locally the
session factory picks local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python nessie_spark/cli.py` puts the package dir itself on sys.path[0];
# the import root is one level up (spark-submit --py-files ships the zip,
# which lands on the path on its own).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_partition_by(spec_str: str) -> list[dict]:
    """CLI shorthand → partition spec: 'fmt' | 'bucket(phash,16)' |
    'truncate(image_id,4)'; comma between fields at the top level is not
    supported (one field per flag keeps the grammar trivial)."""
    import re as _re

    m = _re.fullmatch(r"bucket\((\w+),(\d+)\)", spec_str)
    if m:
        return [{"source": m.group(1), "transform": "bucket", "n": int(m.group(2))}]
    m = _re.fullmatch(r"truncate\((\w+),(\d+)\)", spec_str)
    if m:
        return [
            {"source": m.group(1), "transform": "truncate", "width": int(m.group(2))}
        ]
    if _re.fullmatch(r"\w+", spec_str):
        return [{"source": spec_str, "transform": "identity"}]
    raise SystemExit(f"cannot parse --partition-by {spec_str!r}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument(
        "--job",
        required=True,
        choices=[
            "synth", "compact", "zorder", "hilbert", "zorder-delta",
            "expire", "gc",
            "rewrite-manifests", "merge", "add-column", "rename-column",
            "drop-column", "widen-column", "incremental",
            "rollback", "inspect", "tag", "drop-tag", "branch",
            "branch-append", "fast-forward", "delete-where", "update-where",
            "purge-deletes", "stage-append", "publish", "cherry-pick",
            "drop-staged", "audit",
            "changelog", "dedup-pipeline", "refresh-matview", "sync-replica",
            "maintain",
        ],
    )
    ap.add_argument(
        "--where", default=None,
        help="delete-where: SQL predicate over the images schema "
        "(e.g. \"phash % 100 = 0\")",
    )
    ap.add_argument("--ref", default=None, help="tag/drop-tag/branch/branch-append/fast-forward: reference name")
    ap.add_argument("--force", action="store_true",
                    help="drop-tag: allow deleting a BRANCH ref (its unpublished snapshots become expire/GC-eligible)")
    ap.add_argument(
        "--set", action="append", default=None, dest="set_exprs",
        help="update-where: 'col=SQL-expr' assignment (repeatable)",
    )
    ap.add_argument("--retain-last", type=int, default=None, help="expire: keep only the N newest ancestors per head")
    ap.add_argument("--older-than-ms", type=int, default=None, help="expire: expire ancestors committed before this epoch-millis cutoff")
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    ap.add_argument("--job-id", default=None)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--small-files", action="store_true", help="synth: lognormal small-file layout")
    ap.add_argument("--sort-order", default=None, help="synth: set the write.sort-order table property (zorder|hilbert)")
    ap.add_argument(
        "--partition-by", default=None,
        help="synth: hidden-partition spec for a NEW table — 'fmt' "
        "(identity), 'bucket(phash,N)', or 'truncate(image_id,W)'",
    )
    ap.add_argument(
        "--column", default=None,
        help="add-column: 'name:type' (e.g. quality:long); "
        "rename-column: 'old:new'; drop-column: 'name'",
    )
    ap.add_argument("--from-snapshot", type=int, default=None, help="incremental/changelog: exclusive range start")
    ap.add_argument("--to-snapshot", type=int, default=None, help="incremental/changelog: inclusive range end")
    ap.add_argument("--net-changes", action="store_true", help="changelog: collapse the window to net per-row effects")
    ap.add_argument("--hamming-max", type=int, default=3, help="dedup-pipeline: max phash Hamming distance for near-dups")
    ap.add_argument("--view-root", default=None, help="refresh-matview: directory holding the view state")
    ap.add_argument("--view-name", default="view", help="refresh-matview: view name (also tags the anchor snapshot)")
    ap.add_argument("--group-cols", default="fmt", help="refresh-matview: comma-separated grouping columns")
    ap.add_argument("--sums", default="w,h", help="refresh-matview: comma-separated sum columns")
    ap.add_argument("--replica-root", default=None, help="sync-replica: replica table root (created if missing)")
    ap.add_argument("--dry-run", action="store_true", help="maintain: report health + plan without executing")
    args = ap.parse_args(argv)

    from nessie_spark.session import get_spark

    spark = get_spark(app_name=f"nessie-{args.job}")
    out: dict = {"job": args.job, "table": args.table}

    if args.job == "synth":
        import os as _os

        from nessie_spark import synth
        from nessie_spark.lakehouse import jobs
        from nessie_spark.lakehouse.table import Table

        # create-or-append: a second synth run appends a fresh batch (the
        # layout-decay fixture for zorder-delta / maintain demos) — vary
        # --seed or the batch duplicates image_ids
        if _os.path.exists(_os.path.join(args.table, "metadata")):
            if args.sort_order or args.partition_by:
                raise SystemExit(
                    "--sort-order/--partition-by only apply when synth "
                    "CREATES the table; they cannot be set on an existing "
                    "table"
                )
            t = Table.load(args.table)
        else:
            props: dict = {}
            if args.sort_order:
                props["write.sort-order"] = args.sort_order
            if args.partition_by:
                props["partition-spec"] = _parse_partition_by(args.partition_by)
            t = jobs.create_images_table(args.table, properties=props or None)
        df = synth.images_df(spark, args.rows, seed=args.seed)
        bounds = (
            synth.lognormal_file_boundaries(args.rows, seed=args.seed)
            if args.small_files
            else None
        )
        snap = jobs.append(spark, t, df, job_id=args.job_id, file_boundaries=bounds)
        out.update(rows=args.rows, snapshot_id=snap)
    else:
        from nessie_spark.lakehouse.table import Table

        t = Table.load(args.table)
        if args.job == "compact":
            from nessie_spark.lakehouse.compact import compact

            r = compact(
                spark, t, target_bytes=args.target_bytes, job_id=args.job_id, verify_psnr=True
            )
            out.update(vars(r))
        elif args.job in ("zorder", "hilbert"):
            from nessie_spark.lakehouse.zorder import cluster

            strategy = "morton" if args.job == "zorder" else "hilbert"
            r = cluster(
                spark, t, strategy=strategy, target_bytes=args.target_bytes, job_id=args.job_id
            )
            out.update(vars(r))
        elif args.job == "zorder-delta":
            from nessie_spark.lakehouse.zorder import cluster_incremental

            r = cluster_incremental(
                spark, t, target_bytes=args.target_bytes, job_id=args.job_id
            )
            out.update(vars(r))
        elif args.job == "expire":
            from nessie_spark.lakehouse.expire import expire_snapshots

            rep = expire_snapshots(
                spark, t,
                retain_last=args.retain_last,
                older_than_millis=args.older_than_ms,
            )
            out.update(
                retained=rep.retained_snapshots,
                expired=rep.expired_snapshots,
                deleted_files=len(rep.deleted_data_files),
            )
        elif args.job == "gc":
            from nessie_spark.lakehouse.expire import gc_orphans

            orphans = gc_orphans(spark, t)
            out.update(orphans_deleted=len(orphans))
        elif args.job == "rewrite-manifests":
            from nessie_spark.lakehouse.manifest import rewrite_manifests

            r = rewrite_manifests(spark, t)
            out.update(vars(r))
        elif args.job == "merge":
            # CoW MERGE INTO demo: source = a deterministic re-caption of
            # `--rows` existing images plus `--rows` brand-new ones (the
            # matched-files interval join + salted row join path end-to-end)
            from pyspark.sql import functions as F

            from nessie_spark import synth
            from nessie_spark.lakehouse.merge import merge_into
            from nessie_spark.lakehouse.scan import scan

            n_src = min(args.rows, 1000)
            updates = (
                scan(spark, t)
                .limit(n_src)
                .withColumn("caption", F.concat(F.col("caption"), F.lit(" [merged]")))
            )
            inserts = synth.images_df(spark, n_src, seed=args.seed + 1).withColumn(
                "image_id", F.concat(F.lit("merge-new-"), F.col("image_id"))
            )
            r = merge_into(
                spark, t, updates.unionByName(inserts), job_id=args.job_id
            )
            out.update(vars(r))
        elif args.job == "add-column":
            from nessie_spark.lakehouse import evolve

            if not args.column or ":" not in args.column:
                ap.error("--column name:type required for add-column")
            name, typ = args.column.split(":", 1)
            snap = evolve.add_column(t, name, typ)
            out.update(snapshot_id=snap, schema=t.refresh().meta["schema"])
        elif args.job == "rename-column":
            from nessie_spark.lakehouse import evolve

            if not args.column or ":" not in args.column:
                ap.error("--column old:new required for rename-column")
            old, new = args.column.split(":", 1)
            snap = evolve.rename_column(t, old, new)
            out.update(snapshot_id=snap, schema=t.refresh().meta["schema"])
        elif args.job == "drop-column":
            from nessie_spark.lakehouse import evolve

            if not args.column:
                ap.error("--column name required for drop-column")
            snap = evolve.drop_column(t, args.column)
            out.update(snapshot_id=snap, schema=t.refresh().meta["schema"])
        elif args.job == "widen-column":
            from nessie_spark.lakehouse import evolve

            if not args.column or ":" not in args.column:
                ap.error("--column name:new_type required for widen-column")
            name, typ = args.column.split(":", 1)
            snap = evolve.widen_column(t, name, typ)
            out.update(snapshot_id=snap, schema=t.refresh().meta["schema"])
        elif args.job == "rollback":
            if args.to_snapshot is None:
                ap.error("--to-snapshot required for rollback")
            t.rollback(args.to_snapshot)
            out.update(current_snapshot_id=t.current_snapshot_id)
        elif args.job == "tag":
            if not args.ref:
                ap.error("--ref required for tag")
            t.create_tag(args.ref, snapshot_id=args.to_snapshot)
            out.update(ref=args.ref, snapshot_id=t.resolve_ref(args.ref))
        elif args.job == "drop-tag":
            if not args.ref:
                ap.error("--ref required for drop-tag")
            t.drop_tag(args.ref, force=args.force)
            out.update(ref=args.ref, dropped=True)
        elif args.job == "branch":
            if not args.ref:
                ap.error("--ref required for branch")
            t.create_branch(args.ref, snapshot_id=args.to_snapshot)
            out.update(ref=args.ref, snapshot_id=t.resolve_ref(args.ref))
        elif args.job == "branch-append":
            # append --rows synthetic images onto a BRANCH: main readers
            # and AS OF time travel see nothing until fast-forward
            from pyspark.sql import functions as F

            from nessie_spark import synth
            from nessie_spark.lakehouse import jobs

            if not args.ref:
                ap.error("--ref required for branch-append")
            df = synth.images_df(spark, min(args.rows, 10_000), seed=args.seed).withColumn(
                "image_id", F.concat(F.lit(f"{args.ref}-"), F.col("image_id"))
            )
            sid = jobs.append(spark, t, df, job_id=args.job_id, to_ref=args.ref)
            out.update(
                ref=args.ref,
                branch_head=sid,
                current_snapshot_id=t.refresh().current_snapshot_id,
            )
        elif args.job == "fast-forward":
            if not args.ref:
                ap.error("--ref (source branch) required for fast-forward")
            new_head = t.fast_forward("main", args.ref)
            out.update(ref=args.ref, current_snapshot_id=new_head)
        elif args.job == "stage-append":
            # WAP staging demo: append --rows synthetic images as a STAGED
            # snapshot (current pointer unmoved until publish)
            from nessie_spark import synth
            from nessie_spark.lakehouse import jobs

            from pyspark.sql import functions as F

            df = synth.images_df(spark, min(args.rows, 10_000), seed=args.seed).withColumn(
                "image_id", F.concat(F.lit("staged-"), F.col("image_id"))
            )
            sid = jobs.append(spark, t, df, job_id=args.job_id, stage_only=True)
            out.update(
                staged_snapshot_id=sid,
                current_snapshot_id=t.refresh().current_snapshot_id,
            )
        elif args.job == "audit":
            # WAP audit: standard checks against a pinned (staged) snapshot
            from nessie_spark.lakehouse.verify import audit_snapshot

            if args.to_snapshot is None:
                ap.error("--to-snapshot required for audit")
            out.update(audit_snapshot(spark, t, args.to_snapshot))
        elif args.job == "publish":
            if args.to_snapshot is None:
                ap.error("--to-snapshot required for publish")
            t.publish_snapshot(args.to_snapshot)
            out.update(current_snapshot_id=t.current_snapshot_id)
        elif args.job == "cherry-pick":
            if args.to_snapshot is None:
                ap.error("--to-snapshot required for cherry-pick")
            new_id = t.cherrypick_snapshot(args.to_snapshot)
            out.update(
                source_snapshot_id=args.to_snapshot,
                current_snapshot_id=t.current_snapshot_id,
                fast_forwarded=(new_id == args.to_snapshot),
            )
        elif args.job == "drop-staged":
            if args.to_snapshot is None:
                ap.error("--to-snapshot required for drop-staged")
            t.drop_staged(args.to_snapshot)
            out.update(dropped=args.to_snapshot, current_snapshot_id=t.current_snapshot_id)
        elif args.job == "delete-where":
            from nessie_spark.lakehouse.deletes import delete_where

            if not args.where:
                ap.error("--where SQL-predicate required for delete-where")
            r = delete_where(spark, t, args.where, job_id=args.job_id)
            out.update(vars(r))
        elif args.job == "update-where":
            from nessie_spark.lakehouse.merge import update_where

            if not args.where:
                ap.error("--where SQL-predicate required for update-where")
            if not args.set_exprs:
                ap.error("--set col=expr required for update-where")
            assignments = {}
            for kv in args.set_exprs:
                col, _, expr = kv.partition("=")
                if not col or not expr:
                    ap.error(f"cannot parse --set {kv!r}; use col=expr")
                assignments[col.strip()] = expr
            r = update_where(spark, t, args.where, assignments, job_id=args.job_id)
            out.update(vars(r))
        elif args.job == "purge-deletes":
            from nessie_spark.lakehouse.deletes import purge_deletes

            r = purge_deletes(spark, t, job_id=args.job_id)
            out.update(vars(r))
        elif args.job == "inspect":
            # metadata tables ($snapshots/$history/$manifests/$files/$partitions)
            snaps = t.snapshots_df(spark)
            out.update(
                current_snapshot_id=t.current_snapshot_id,
                snapshots=snaps.count(),
                current_ancestors=t.history_df(spark)
                .where("is_current_ancestor")
                .select("snapshot_id")
                .distinct()
                .count(),
                refs={n: r["snapshot_id"] for n, r in t.refs.items()},
                manifests=t.manifests_df(spark).count(),
                live_files=t.files_df(spark).count(),
                partitions={
                    p.partition: p.file_count
                    for p in t.partitions_df(spark).collect()
                },
                live_rows=int(
                    snaps.where("is_current").select("total_record_count").first()[0]
                )
                if t.current_snapshot_id
                else 0,
            )
        elif args.job == "incremental":
            from nessie_spark.lakehouse.scan import scan_incremental

            df = scan_incremental(
                spark, t,
                from_snapshot_id=args.from_snapshot,
                to_snapshot_id=args.to_snapshot,
            )
            out.update(
                delta_rows=df.count(),
                from_snapshot=args.from_snapshot,
                to_snapshot=args.to_snapshot
                if args.to_snapshot is not None
                else t.current_snapshot_id,
            )
        elif args.job == "dedup-pipeline":
            from dataclasses import asdict

            from nessie_spark.lakehouse.pipeline import dedup_pipeline

            res = dedup_pipeline(
                spark, t,
                job_id=args.job_id,
                hamming_max=args.hamming_max,
                target_bytes=args.target_bytes,
            )
            out.update(asdict(res))
        elif args.job == "refresh-matview":
            from dataclasses import asdict

            from nessie_spark.lakehouse.matview import refresh_matview

            if not args.view_root:
                raise SystemExit("refresh-matview requires --view-root")
            res = refresh_matview(
                spark, t, args.view_root, name=args.view_name,
                group_cols=args.group_cols.split(","),
                sums=[c for c in args.sums.split(",") if c],
            )
            out.update(asdict(res))
        elif args.job == "maintain":
            from nessie_spark.lakehouse.maintain import (
                MaintenancePolicy, maintain, report_as_dict,
            )

            rep = maintain(
                spark, t,
                MaintenancePolicy(target_bytes=args.target_bytes),
                job_id=args.job_id, dry_run=args.dry_run,
            )
            out.update(report_as_dict(rep))
        elif args.job == "sync-replica":
            from dataclasses import asdict

            from nessie_spark.lakehouse.replicate import (
                create_replica, sync_replica, verify_replica,
            )
            from nessie_spark.lakehouse.table import Table as _T

            if not args.replica_root:
                raise SystemExit("sync-replica requires --replica-root")
            try:
                dst = _T.load(args.replica_root)
            except FileNotFoundError:
                dst = create_replica(t, args.replica_root)
            res = sync_replica(spark, t, dst, job_id=args.job_id)
            out.update(asdict(res))
            out["diff_rows"] = verify_replica(spark, t, dst.refresh())
        elif args.job == "changelog":
            from pyspark.sql import functions as F

            from nessie_spark.lakehouse.changelog import scan_changelog

            df = scan_changelog(
                spark, t,
                from_snapshot_id=args.from_snapshot,
                to_snapshot_id=args.to_snapshot,
                net_changes=args.net_changes,
            )
            counts = {
                r["_change_type"]: r["n"]
                for r in df.groupBy("_change_type")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            out.update(
                inserts=int(counts.get("insert", 0)),
                deletes=int(counts.get("delete", 0)),
                net_changes=args.net_changes,
                from_snapshot=args.from_snapshot,
                to_snapshot=args.to_snapshot
                if args.to_snapshot is not None
                else t.current_snapshot_id,
            )

    print(json.dumps(out, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
