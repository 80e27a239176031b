"""Copy-on-write MERGE INTO.

north_rule (BASELINE.json:14): "copy-on-write MERGE INTO built on a
broadcast-or-sort-merge matched-files join with salted repartitioning for
phash hot-key skew".

Phases (each lineage-checkpointed):
1. **matched-files join** — source keys against per-file ``[min_key,
   max_key]`` stats (an interval-containment join; the file-stats side is
   tiny → broadcast). Only files that *can* contain a source key are
   rewritten; everything else is carried forward untouched. This is the
   engine's graft of the reference's span-alignment interval join
   (/root/reference/nessie/task_support/span_labeling.py:65-114).
2. **row join** — target rows of matched files vs source on ``image_id``:
   broadcast when the source is under ``broadcast_threshold`` rows, else
   sort-merge (AQE skew backstop on; see plans/skew.py for the explicit
   salted path used on phash-keyed aggregations).
3. **rewrite + commit** — updated ∪ unchanged ∪ inserted rows repartitioned
   to target file size and written; matched files deleted, new files added,
   one atomic snapshot.
"""

from __future__ import annotations

import math
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse.scan import IMAGES_DDL
from nessie_spark.lakehouse.table import Table
from nessie_spark.lakehouse.writer import arrow_schema_from_ddl, write_partition_files

DEFAULT_TARGET = 8 * 1024 * 1024

# matched-files join switches from plain broadcast-interval to the bucketed
# equi-join once the manifest is big enough for a nested-loop scan per key
# to dominate (VERDICT r2 #6)
BUCKETED_STATS_THRESHOLD = 4096
STATS_BUCKETS = 256


def _bucket_udf(bounds: list):
    """Vectorized searchsorted over sampled key boundaries (strings or
    ints both supported by numpy object arrays)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    b = np.asarray(bounds, dtype=object)

    def _assign(keys):
        return pd.Series(
            np.searchsorted(b, keys.to_numpy(dtype=object), side="right").astype(
                "int32"
            )
        )

    return pandas_udf(_assign, "int")


def matched_files_df(
    src_keys: DataFrame, stats_df: DataFrame, n_files: int,
    n_buckets: int = STATS_BUCKETS,
) -> DataFrame:
    """Files whose ``[min_key, max_key]`` stats interval may contain a
    source key — the MERGE matched-files interval join (graft of the
    reference's span interval matching, span_labeling.py:65-114).

    Small manifests: one broadcast join with the BETWEEN condition — a
    BroadcastNestedLoopJoin, optimal at O(10^3) files. Large manifests
    (≥ BUCKETED_STATS_THRESHOLD entries): O(|keys|·|files|) nested-loop
    work dominates, so both sides are range-bucketed by sampled source-key
    boundaries — keys via searchsorted, files exploded over the buckets
    their interval overlaps — turning the plan into a HASH join on the
    bucket id with the interval check as residual. On a clustered table
    file ranges are narrow (≈1 bucket per file), so the explode is ~|files|
    rows; a key compares against only its bucket's files instead of all of
    them. ``n_files``: the row count of ``stats_df``, which callers build
    from a list they hold. Returns distinct ``file_path`` rows.
    """
    cond = (F.col("_k") >= F.col("min_key")) & (F.col("_k") <= F.col("max_key"))
    if n_files < BUCKETED_STATS_THRESHOLD:
        return (
            src_keys.join(F.broadcast(stats_df), cond)
            .select("file_path")
            .distinct()
        )
    # equi-depth boundaries from a seeded sample of the source keys
    frac = min(1.0, (n_buckets * 64) / max(1, src_keys.count()))
    sample = sorted(
        r._k for r in src_keys.sample(fraction=frac, seed=42).collect()
    )
    step = max(1, len(sample) // n_buckets)
    bounds = sample[step::step] or sample[-1:]
    bk = _bucket_udf(bounds)
    keys_b = src_keys.withColumn("_b", bk(F.col("_k")))
    files_b = (
        stats_df.withColumn("_blo", bk(F.col("min_key")))
        .withColumn("_bhi", bk(F.col("max_key")))
        .withColumn("_b", F.explode(F.sequence(F.col("_blo"), F.col("_bhi"))))
        .drop("_blo", "_bhi")
    )
    return (
        keys_b.join(files_b, on=[keys_b["_b"] == files_b["_b"], cond])
        .select("file_path")
        .distinct()
    )


def hot_delete_split(
    target: DataFrame, src: DataFrame, key: str, hot_keys: list, n_salts: int
):
    """The skew-aware huge-source plan for a delete-by-hot-key merge:
    hot target rows go through plans/skew.salted_join (shuffle key becomes
    (key, _salt) — each hot key spreads over n_salts reducers), rest keeps
    the sort-merge anti joins with the AQE backstop. Returns
    (matched_hot, unchanged_rows, inserted_rows, rest_key_frames)."""
    from nessie_spark.plans.skew import salted_join

    is_hot = F.col(key).isin(hot_keys)
    t_rest, s_rest = target.where(~is_hot), src.where(~is_hot)
    matched_hot = salted_join(
        target.where(is_hot), src.where(is_hot).select(key).distinct(), key, n_salts
    )
    unchanged_rows = t_rest.join(
        s_rest.select(key).distinct(), key, "left_anti"
    ).withColumn("_action", F.lit("unchanged"))
    inserted_rows = s_rest.join(
        t_rest.select(key).distinct(), key, "left_anti"
    ).withColumn("_action", F.lit("insert"))
    return matched_hot, unchanged_rows, inserted_rows, (t_rest.select(key), s_rest.select(key))


@dataclass
class MergeResult:
    snapshot_id: int | None
    job_id: str
    matched_files: int
    updated: int
    unchanged: int
    inserted: int
    deleted: int


def merge_into(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    job_id: str | None = None,
    when_matched: str = "update",  # update | delete
    when_not_matched: str = "insert",  # insert | ignore
    broadcast_threshold_rows: int = 1_000_000,
    target_bytes: int = DEFAULT_TARGET,
    key: str = "image_id",  # image_id (unique) | phash (multi-row, hot-key)
    n_salts: int = 16,
    hot_key_rows: int = 50_000,
) -> MergeResult:
    """Merge ``source`` (images schema) into the table by ``key``.

    ``key='image_id'`` is the primary-key merge (1:1, no key skew by
    construction). ``key='phash'`` merges by perceptual hash — the
    near-duplicate purge shape, where the synthetic table's planted hot
    phashes make the row join skewed; ``when_matched`` must be ``delete``
    there (updating a multi-row key would duplicate image_ids). The
    huge-source path runs a hot-key detector and routes hot keys through
    ``plans/skew.salted_join`` (north_rule: "salted repartitioning for
    phash hot-key skew"), with AQE skew-join as the backstop for the rest.
    """
    assert when_matched in ("update", "delete")
    assert when_not_matched in ("insert", "ignore")
    assert key in ("image_id", "phash")
    # the uniqueness property, stated ONCE: image_id is the table's unique
    # row key; every other supported key is multi-row. Downstream logic
    # (hot-key detection, delete-only restriction) keys off this flag, not
    # the column name.
    unique_key = key == "image_id"
    assert unique_key or when_matched == "delete", (
        "multi-row merge keys require when_matched='delete'"
    )
    job_id = job_id or f"merge-{uuid.uuid4().hex[:8]}"
    root = table.root

    prev = lineage.committed_snapshot(root, job_id)
    if prev is not None:
        return MergeResult(prev, job_id, 0, 0, 0, 0, 0)
    from nessie_spark.lakehouse.deletes import require_no_pending_deletes

    require_no_pending_deletes(table, "merge_into")

    # --- phase 1: matched-files interval join on the key's min/max stats
    # (column-pruned manifest read: no pixel-stats, no key blooms)
    entries = table.file_entries(
        columns=[
            "file_path", "file_size_bytes", "record_count",
            "min_key", "max_key", "min_phash", "max_phash",
            "added_snapshot_id", "schema_id",
        ]
    ).to_pylist()
    lo, hi = ("min_key", "max_key") if key == "image_id" else ("min_phash", "max_phash")
    kt = "string" if key == "image_id" else "long"
    stats_df = spark.createDataFrame(
        [(e["file_path"], e[lo], e[hi]) for e in entries],
        f"file_path string, min_key {kt}, max_key {kt}",
    )
    src_keys = source.select(F.col(key).alias("_k")).distinct()
    matched_paths = [
        r.file_path
        for r in matched_files_df(src_keys, stats_df, n_files=len(entries)).collect()
    ]
    matched_set = set(matched_paths)

    # --- phase 2: row-level join restricted to matched files.
    # Evolved tables: read with the CURRENT schema (old files NULL-backfill)
    # and require the source to carry the full schema — a narrower source
    # would silently null evolved columns on every rewritten row.
    from nessie_spark.lakehouse.writer import ddl_columns

    table_ddl = table.meta.get("schema", IMAGES_DDL)
    data_cols = ddl_columns(table_ddl)
    missing = [c for c in data_cols if c not in source.columns]
    if missing:
        raise ValueError(
            f"merge source lacks table columns {missing}; on an evolved "
            "table the source must carry the full schema"
        )
    if matched_paths:
        # field-id-aware read: matched files written before a rename/drop
        # project onto the current names (identity fast path otherwise)
        from nessie_spark.lakehouse.scan import _read_data_files, _target_fields

        target = _read_data_files(
            spark,
            table,
            [e for e in entries if e["file_path"] in matched_set],
            table_ddl,
            _target_fields(table, None, table_ddl),
        )
    else:
        target = spark.createDataFrame([], table_ddl)

    # Duplicate source ROWS (same image_id) would produce duplicate rows
    # in the rewritten table (r1 ADVICE); SQL MERGE makes them an error —
    # we dedupe deterministically instead (max row per image_id under a
    # total column order), one shuffle of the (small) source side. The
    # dedup is by the table's unique row key, NOT the merge key: under a
    # multi-row key (phash) two DISTINCT images sharing a hash are both
    # legitimate source rows and must both survive to insert.
    from pyspark.sql.window import Window

    wdup = Window.partitionBy("image_id").orderBy(
        *[F.desc(c) for c in data_cols if c != "image_id"]
    )
    source = (
        source.withColumn("_rn", F.row_number().over(wdup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    n_src = source.count()
    src = source.select(*data_cols)
    small_src = n_src <= broadcast_threshold_rows
    n_hot_matched = 0
    hot_keys: list = []
    hot_rest_keys = None  # (t_rest, s_rest) key frames when the hot split ran

    if small_src:
        # broadcast plan: a full-outer join is NOT broadcastable, so split
        # into three broadcast-able joins — the target (huge side) never
        # shuffles, which is what keeps CoW merge linear in matched bytes:
        #   update    = target ⋉ source   (left_semi, broadcast)
        #   unchanged = target ▷ source   (left_anti, broadcast)
        #   insert    = source ▷ target-keys (anti on the tiny side)
        srcb = F.broadcast(src)
        # broadcast-semi first (no target shuffle), THEN dedupe — the
        # distinct only shuffles matched keys (≤ |source|, small here) and
        # is required for multi-row keys, where duplicate overlap keys
        # would explode the tagging join below
        key_overlap = target.select(key).join(
            srcb.select(key), key, "left_semi"
        ).distinct()
        tagged_t = target.join(
            F.broadcast(key_overlap.withColumn("_m", F.lit(True))), key, "left"
        )
        updated_rows = srcb.join(
            F.broadcast(key_overlap), key, "left_semi"
        ).withColumn("_action", F.lit("update"))
        unchanged_rows = tagged_t.where(F.col("_m").isNull()).drop("_m").withColumn(
            "_action", F.lit("unchanged")
        )
        inserted_rows = src.join(
            F.broadcast(key_overlap), key, "left_anti"
        ).withColumn("_action", F.lit("insert"))
    else:
        # huge-source plan. Hot-key detector first (keys-only scan of the
        # matched scope): target keys with ≥ hot_key_rows rows that also
        # occur in the source get the EXPLICIT salted treatment the
        # north_rule mandates for phash hot keys; everything else keeps
        # the sort-merge plan with AQE skew-join as backstop. Unique-key
        # merges (image_id) can never trip the detector.
        hot_keys = (
            []  # unique key ⇒ no per-key fan-out possible; skip the scan
            if unique_key
            else [
                r[key]
                for r in target.groupBy(key)
                .agg(F.count(F.lit(1)).alias("_c"))
                .where(F.col("_c") >= hot_key_rows)
                .join(src.select(key).distinct(), key, "left_semi")
                .limit(10_000)
                .collect()
            ]
        )
        if hot_keys:
            # multi-row key ⇒ when_matched == 'delete' (asserted above):
            # every hot target row is matched, so it leaves the table. The
            # matched scope is materialized through the salted join and
            # consumed for the deleted-row accounting.
            matched_hot, unchanged_rows, inserted_rows, hot_rest_keys = (
                hot_delete_split(target, src, key, hot_keys, n_salts)
            )
            n_hot_matched = matched_hot.count()
            updated_rows = None  # delete semantics: matched rows vanish
        else:
            # one sort-merge full-outer (AQE skew backstop on)
            tagged = target.alias("t").join(
                src.alias("s"), on=F.col(f"t.{key}") == F.col(f"s.{key}"), how="full_outer"
            )
            t_id, s_id = F.col(f"t.{key}"), F.col(f"s.{key}")
            action = (
                F.when(t_id.isNotNull() & s_id.isNotNull(), F.lit("update"))
                .when(t_id.isNotNull(), F.lit("unchanged"))
                .otherwise(F.lit("insert"))
            )
            tagged = tagged.withColumn("_action", action)
            pick = lambda a: tagged.where(F.col("_action") == a)  # noqa: E731
            side = lambda df, s: df.select(  # noqa: E731
                *[F.col(f"{s}.{c}").alias(c) for c in data_cols], "_action"
            )
            updated_rows = side(pick("update"), "s")
            unchanged_rows = side(pick("unchanged"), "t")
            inserted_rows = side(pick("insert"), "s")

    parts = [unchanged_rows]
    if when_matched == "update":
        parts.append(updated_rows)
    if when_not_matched == "insert":
        parts.append(inserted_rows)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)

    new_rows = merged.select(*data_cols)

    # --- phase 3: rewrite matched scope + commit
    # Output sizing: matched bytes + an estimate for inserts. bytes/row
    # comes from the matched files, falling back to the whole-table average
    # so an insert-only merge (matched_bytes = 0, r1 funneled it through ONE
    # file) still fans out. n_src bounds the insert count (exact counting
    # would execute the join twice — see histogram note below).
    matched_bytes = sum(e["file_size_bytes"] for e in entries if e["file_path"] in matched_set)
    matched_rows = sum(e["record_count"] for e in entries if e["file_path"] in matched_set)
    tot_bytes = sum(e["file_size_bytes"] for e in entries)
    tot_rows = sum(e["record_count"] for e in entries)
    bytes_per_row = (
        matched_bytes / matched_rows
        if matched_rows
        else (tot_bytes / tot_rows if tot_rows else 256 * 1024)
    )
    est_bytes = matched_bytes + bytes_per_row * n_src
    n_files = max(1, math.ceil(est_bytes / target_bytes))
    from nessie_spark.lakehouse.partition import PVAL_COL, stamp_pval, table_spec

    spec = table_spec(table)
    if spec:
        # hidden-partitioned table: merged rows re-derive their partition
        # value and range-partition on (pval, key) so rewritten files stay
        # partition-pure and prunable (writer splits boundary tasks)
        new_rows = stamp_pval(new_rows, spec).repartitionByRange(
            n_files, F.col(PVAL_COL), F.col("image_id")
        )
    else:
        new_rows = new_rows.repartition(n_files, "image_id")

    stats = write_partition_files(
        new_rows, root, job_id, "merge", arrow_schema_from_ddl(table_ddl)
    ).toArrow()
    total_written = int(sum(stats.column("record_count").to_pylist() or [0]))

    # Action histogram DERIVED from already-known counts — the r1 version
    # ran the merge join twice (once for groupBy(_action).count(), once for
    # the rewrite), a 2× tax on the dominant stage at scale. With
    # when_matched='update': written = matched_rows + inserted, and
    # updated + inserted = n_src, so all three follow from the write stats.
    # With when_matched='delete' the updated rows are absent from the
    # output: deleted = matched_rows − unchanged = matched_rows −
    # (written − inserted); one slim count on source keys ⋉ target keys
    # resolves it (ids only — not the full row join).
    n_deleted = 0
    if when_matched == "update" and when_not_matched == "insert":
        n_inserted = max(0, total_written - matched_rows)
        n_updated = n_src - n_inserted
        n_unchanged = matched_rows - n_updated
    else:
        # keys-only joins (never full rows). n_src is post-dedup = distinct
        # source keys; for multi-row keys matched TARGET rows ≠ matched
        # source keys, and the hot split already counted its share through
        # the salted join.
        n_src_matched = (
            src.select(key).join(target.select(key), key, "left_semi").count()
        )
        if key == "image_id":
            n_tgt_matched = n_src_matched
        elif hot_rest_keys is not None:
            t_rest_k, s_rest_k = hot_rest_keys
            n_tgt_matched = (
                n_hot_matched
                + t_rest_k.join(s_rest_k.distinct(), key, "left_semi").count()
            )
        else:
            n_tgt_matched = (
                target.select(key).join(src.select(key), key, "left_semi").count()
            )
        # a delete-merge DELETES its matched target rows — recording them
        # as "updated" would double-count deletes as updates in permanent
        # snapshot summaries
        if when_matched == "delete":
            n_deleted, n_updated = n_tgt_matched, 0
        else:
            n_updated = n_tgt_matched
        n_inserted = (n_src - n_src_matched) if when_not_matched == "insert" else 0
        n_unchanged = matched_rows - n_tgt_matched

    if not matched_set and total_written == 0:
        # nothing matched, nothing written: committing an (empty) 'merge'
        # snapshot would permanently poison incremental reads over the
        # window (scan_incremental refuses to cross row-changing ops)
        return MergeResult(None, job_id, 0, 0, 0, 0, 0)

    lineage.write_unit(
        root, job_id, "merge", 0,
        input_files=matched_paths,
        output_files=stats.column("file_path").to_pylist(),
        rows=total_written,
        nbytes=int(sum(stats.column("file_size_bytes").to_pylist() or [0])),
        metrics={
            "updated": float(n_updated),
            "unchanged": float(n_unchanged),
            "inserted": float(n_inserted),
            "hot_keys_salted": float(len(hot_keys)),
        },
    )
    snap = table.commit(
        "merge",
        added=stats if stats.num_rows else None,
        deleted_paths=matched_set,
        summary={"job_id": job_id, "updated": n_updated,
                 "inserted": n_inserted, "deleted": n_deleted},
    )
    lineage.mark_committed(root, job_id, snap)
    return MergeResult(
        snap, job_id, len(matched_paths), n_updated, n_unchanged, n_inserted, n_deleted
    )


def update_where(
    spark: SparkSession,
    table: Table,
    predicate: str,
    set_exprs: dict[str, str],
    job_id: str | None = None,
    target_bytes: int = DEFAULT_TARGET,
) -> MergeResult:
    """``UPDATE table SET ... WHERE ...`` as a copy-on-write MERGE.

    ``predicate`` is a SQL boolean over the images schema;``set_exprs``
    maps column → SQL expression evaluated on the matching row (e.g.
    ``{"fmt": "'png'"}`` or ``{"w": "w * 2"}``). The source is the
    table's own matching rows with the assignments applied, merged back
    by image_id with ``when_matched='update'`` — so the whole machinery
    (matched-files pruning via stats, broadcast-vs-range join, PSNR-safe
    rewrite, snapshot isolation, idempotent job_id) is inherited rather
    than re-implemented. Matching-file discovery pushes the predicate into
    the pinned scan; files with no matching row are never rewritten.

    The row key cannot be assigned (rewriting identity under CoW MERGE
    would insert-and-orphan instead of update); evolve/add-column handles
    schema changes, not this."""
    if "image_id" in set_exprs:
        raise ValueError("update_where cannot assign image_id (the row key)")
    from nessie_spark.lakehouse.scan import scan
    from nessie_spark.lakehouse.writer import ddl_columns

    bad = [c for c in set_exprs
           if c not in ddl_columns(table.meta.get("schema", IMAGES_DDL))]
    if bad:
        raise ValueError(f"update_where: {bad} not in table schema")
    src = scan(spark, table).where(predicate)
    # All assignments evaluate against the ORIGINAL row (SQL UPDATE
    # semantics): a single select, not chained withColumn — otherwise
    # {"w": "h", "h": "w"} would read the already-updated w.
    src = src.select(*[
        F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(c)
        for c in src.columns
    ])
    return merge_into(
        spark, table, src,
        job_id=job_id or f"update-{uuid.uuid4().hex[:8]}",
        when_matched="update",
        when_not_matched="ignore",  # the source IS table rows; never insert
        target_bytes=target_bytes,
    )
