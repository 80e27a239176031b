"""Regression tests for the round-3 adversarial-review fixes: purge
resume plan pinning, made-current time travel, merge dedup/count/empty
semantics, gc protection of uncommitted resumable outputs, and expire's
concurrent-head rescue."""

import os
import time

import pandas as pd
import pyspark.sql.functions as F
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import deletes, expire, jobs, lineage, merge
from nessie_spark.lakehouse.scan import scan
from nessie_spark.lakehouse.table import Table
from tests.conftest import crash_after, make_table, on_spark, spark_jobs


def test_purge_resume_refuses_changed_delete_set(spark, tmp_path):
    """A delete committed between a purge crash and its resume must not be
    silently wiped (its keys were never folded): the resume raises and a
    NEW purge folds everything."""
    t, _ = make_table(spark, str(tmp_path / "tb"), n=64)
    deletes.delete_where(spark, t, F.col("image_id") < "img_000000000008",
                         job_id="pr-d1")
    t = t.refresh()
    # simulate "crashed after planning": write only the plan by running a
    # purge whose first unit we pre-mark... simplest faithful simulation:
    # plan is written by a real purge we let finish planning, then a second
    # delete lands before the (re)run.
    # Plan-pin directly via the same lineage record purge_deletes writes.
    lineage.write_unit(
        t.root, "pr-purge", "plan", 0,
        input_files=["data/whatever.parquet"],
        output_files=[d["file_path"] for d in t.delete_files()],
        rows=0, nbytes=0,
    )
    deletes.delete_where(spark, t, F.col("image_id") >= "img_000000000056",
                         job_id="pr-d2")
    t = t.refresh()
    with pytest.raises(ValueError, match="NEW job_id"):
        deletes.purge_deletes(spark, t, job_id="pr-purge")
    # a fresh job id folds both deletes and leaves nothing pending
    res = deletes.purge_deletes(spark, t, job_id="pr-purge-2")
    t = t.refresh()
    assert res.snapshot_id and not t.delete_files()
    assert scan(spark, t).count() == 64 - 8 - 8


def test_as_of_never_exposes_staged_or_abandoned(spark, tmp_path):
    t, s1 = make_table(spark, str(tmp_path / "tb"), n=32)
    rows_before = scan(spark, t).count()
    batch = synth.images_df(spark, 8, seed=3).withColumn(
        "image_id", F.concat(F.lit("w-"), "image_id")
    )
    staged = jobs.append(spark, t, batch, job_id="aof-stage", stage_only=True)
    t = t.refresh()
    now = int(time.time() * 1000) + 1
    # a staged (unpublished) snapshot is newer but must NOT be exposed
    assert t.snapshot_as_of(now)["snapshot_id"] == s1
    assert scan(spark, t, as_of_ts_millis=now).count() == rows_before
    t.publish_snapshot(staged)
    t = t.refresh()
    after_publish = int(time.time() * 1000) + 1
    assert t.snapshot_as_of(after_publish)["snapshot_id"] == staged

    # rollback: times after it resolve to the rolled-back-to snapshot,
    # times before it to the branch that was current then
    time.sleep(0.01)
    t.rollback(s1)
    t = t.refresh()
    assert t.snapshot_as_of(int(time.time() * 1000) + 1)["snapshot_id"] == s1
    assert t.snapshot_as_of(after_publish)["snapshot_id"] == staged


def test_merge_keeps_distinct_images_sharing_phash(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=32)
    r1 = synth.row_for(42, 900)
    r2 = synth.row_for(42, 901)
    r1["phash"] = r2["phash"] = 1234567  # absent from the table
    src = spark.createDataFrame(pd.DataFrame([r1, r2]), schema=synth.IMAGES_SCHEMA)
    res = merge.merge_into(
        spark, t, src, job_id="mp-2", key="phash",
        when_matched="delete", when_not_matched="insert",
    )
    t = t.refresh()
    assert res.inserted == 2 and res.deleted == 0 and res.updated == 0
    assert scan(spark, t).where(F.col("phash") == 1234567).count() == 2


def test_empty_merge_commits_nothing(spark, tmp_path):
    from nessie_spark.lakehouse.scan import scan_incremental

    t, s1 = make_table(spark, str(tmp_path / "tb"), n=32)
    empty = spark.createDataFrame([], synth.IMAGES_SCHEMA)
    res = merge.merge_into(spark, t, empty, job_id="m-empty")
    t = t.refresh()
    assert res.snapshot_id is None
    assert t.current_snapshot_id == s1
    # the window stays incrementally readable (no poison 'merge' snapshot)
    batch = synth.images_df(spark, 4, seed=5).withColumn(
        "image_id", F.concat(F.lit("em-"), "image_id")
    )
    jobs.append(spark, t, batch, job_id="m-after")
    t = t.refresh()
    assert scan_incremental(spark, t, from_snapshot_id=s1).count() == 4


def test_gc_keeps_uncommitted_resumable_outputs(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=32)
    # an uncommitted job's unit output: unreferenced by any snapshot but
    # recorded in lineage — the resume contract depends on it surviving gc
    rel = "data/halfdone-purge-f00000.parquet"
    src = os.path.join(t.root, t.file_entries().to_pylist()[0]["file_path"])
    with open(src, "rb") as f, open(os.path.join(t.root, rel), "wb") as g:
        g.write(f.read())
    lineage.write_unit(
        t.root, "halfdone", "purge", 0,
        input_files=[], output_files=[rel], rows=1, nbytes=1,
    )
    # plus a true orphan that must still be reclaimed
    orphan = os.path.join(t.root, "data", "junk.parquet")
    with open(orphan, "wb") as g:
        g.write(b"junk")
    removed = expire.gc_orphans(spark, t, dry_run=False)
    assert "data/junk.parquet" in removed
    assert rel not in removed and os.path.exists(os.path.join(t.root, rel))
    # once the job is marked committed, its outputs follow snapshot
    # reachability like everything else
    lineage.mark_committed(t.root, "halfdone", 999)
    removed2 = expire.gc_orphans(spark, t, dry_run=False)
    assert rel in removed2


def test_expire_rescues_concurrent_rollback_target(spark, tmp_path):
    t, s1 = make_table(spark, str(tmp_path / "tb"), n=32)
    for k in range(3):
        batch = synth.images_df(spark, 4, seed=20 + k).withColumn(
            "image_id", F.concat(F.lit(f"x{k}-"), "image_id")
        )
        jobs.append(spark, t, batch, job_id=f"xr-{k}")
        t = t.refresh()
    # stale handle for the expirer; a "concurrent" rollback wins the race
    stale = Table.load(t.root)
    other = Table.load(t.root)
    other.rollback(s1)
    rep = expire.expire_snapshots(spark, stale, retain_last=1)
    t = Table.load(t.root)
    # the rollback target is current, present, and readable with its files
    assert t.current_snapshot_id == s1
    assert t.snapshot(s1) is not None
    assert s1 in rep.retained_snapshots
    assert scan(spark, t).count() == 32


def test_compact_resume_refuses_changed_table(spark, tmp_path):
    """A compact resume must replay the pinned plan; if another job
    rewrote a planned input in between, a safe resume is impossible."""
    from nessie_spark.lakehouse import compact, zorder

    t, _ = make_table(spark, str(tmp_path / "tb"), n=96, mean_rows=8)
    with crash_after(1), pytest.raises(RuntimeError, match="injected"):
        compact.compact(spark, t, target_bytes=256 * 1024, job_id="cr")
    assert lineage.completed_units(t.root, "cr", "compact") == {0}
    # another job rewrites the table before the resume
    zorder.cluster(spark, t, target_bytes=256 * 1024, job_id="cr-z")
    t = t.refresh()
    with pytest.raises(ValueError, match="NEW job_id"):
        compact.compact(spark, t, target_bytes=256 * 1024, job_id="cr")


def test_zorder_resume_refuses_changed_table(spark, tmp_path):
    from nessie_spark.lakehouse import compact, zorder

    t, _ = make_table(spark, str(tmp_path / "tb"), n=96, mean_rows=8)
    # fabricate a crashed staged attempt: pin a plan whose inputs are the
    # current live set, then mutate the table before the "resume"
    import json

    stage = os.path.join(t.root, "_stage", "zr")
    os.makedirs(stage, exist_ok=True)
    live = sorted(
        e["file_path"] for e in t.file_entries(columns=["file_path"]).to_pylist()
    )
    with open(os.path.join(stage, "PLAN.json"), "w") as fh:
        json.dump({"bounds": [], "n_files": 1, "n_groups": 1,
                   "sbins": [live]}, fh)
    compact.compact(spark, t, target_bytes=256 * 1024, job_id="zr-c")
    t = t.refresh()
    with pytest.raises(ValueError, match="NEW job_id"):
        zorder.cluster(spark, t, target_bytes=256 * 1024, job_id="zr")


def test_commit_with_stale_explicit_carry_raises(spark, tmp_path):
    from nessie_spark.lakehouse.table import CommitConflict

    t, _ = make_table(spark, str(tmp_path / "tb"), n=16)
    stale = Table.load(t.root)
    batch = synth.images_df(spark, 4, seed=2).withColumn(
        "image_id", F.concat(F.lit("cc-"), "image_id")
    )
    jobs.append(spark, t.refresh(), batch, job_id="cc-win")
    with pytest.raises(CommitConflict, match="re-plan"):
        stale.commit(
            "zorder", added=None,
            deleted_paths={
                e["file_path"]
                for e in stale.file_entries(columns=["file_path"]).to_pylist()
            },
            carried_manifest_summaries=[],
        )


def test_truncated_version_file_never_selected(spark, tmp_path):
    """_write_version is crash-atomic: a kill mid-write leaves only a .tmp
    that load() ignores."""
    t, _ = make_table(spark, str(tmp_path / "tb"), n=8)
    mdir = os.path.join(t.root, "metadata")
    v = t.version
    # simulate the old failure mode artifact: a tmp left behind mid-crash
    with open(os.path.join(mdir, f"v{v+1}.json.tmp-dead"), "w") as fh:
        fh.write('{"trunc')
    t2 = Table.load(t.root)
    assert t2.version == v  # tmp ignored, table loads fine
    t2.create_tag("ok", t2.current_snapshot_id)  # next commit still works


def test_wap_only_history_not_exposed_by_time_travel(spark, tmp_path):
    """A table whose only commit so far is STAGED must not leak it through
    the synthesized made-current log."""
    from nessie_spark.lakehouse import jobs as J

    root = str(tmp_path / "tw" / "images")
    t = J.create_images_table(root)
    df = synth.images_df(spark, 8, seed=4)
    J.append(spark, t, df, job_id="w0", stage_only=True)
    t = t.refresh()
    t.meta.pop("history", None)  # force the synthesis fallback
    assert t.snapshot_as_of(int(time.time() * 1000) + 1) is None


def test_huge_image_dimensions_fit_stats(spark, tmp_path):
    """w*h beyond int32 must not crash the manifest build."""
    import pyarrow as pa

    from nessie_spark.lakehouse.writer import stats_entry_for

    tbl = pa.table({
        "image_id": ["big"], "w": pa.array([47000], pa.int32()),
        "h": pa.array([47000], pa.int32()), "phash": pa.array([7], pa.int64()),
    })
    e = stats_entry_for(tbl, "data/x.parquet", 1)
    assert e["min_wh"] == 47000 * 47000
    from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA

    pa.Table.from_pylist([e], schema=FILE_ENTRY_SCHEMA)  # must not raise


def test_caption_flags_null_safe(spark, tmp_path):
    from nessie_spark.lakehouse import evolve, verify

    t, s1 = make_table(spark, str(tmp_path / "tb"), n=16)
    # second snapshot where one caption becomes NULL (merge with evolved
    # source is overkill: write the corruption directly via merge update)
    r = synth.row_for(42, 3)
    r["caption"] = None
    src = spark.createDataFrame(
        pd.DataFrame([r]), schema=synth.IMAGES_SCHEMA
    )
    merge.merge_into(spark, t, src, job_id="nc-m")
    t = t.refresh()
    flags = verify.caption_flags(spark, t, s1, t.current_snapshot_id)
    flagged = {x.image_id for x in flags.where("flag").collect()}
    assert flagged == {"img_000000000003"}


def test_pixel_verify_lossless_requires_exactness(spark, tmp_path):
    """A large PNG with one flipped sample has PSNR > 99 dB but is NOT
    exact — the lossless gate must fail it."""
    import numpy as np

    from nessie_spark.lakehouse import kernels as K

    px = np.zeros((256, 256, 3), dtype=np.uint8)
    corrupt = px.copy()
    corrupt[0, 0, 0] = 1
    assert K.psnr(px, corrupt) > 99.0  # the old gate would pass it
    # drive through pixel_verify via two snapshots differing in one sample
    t, s1 = make_table(spark, str(tmp_path / "tb"), n=4)
    from nessie_spark.lakehouse import verify

    row = scan(spark, t).where("fmt = 'png'").select("image_id", "bytes", "fmt").first()
    pix = K.decode(bytes(row.bytes), row.fmt)
    bad = pix.copy()
    bad[0, 0, 0] = np.uint8(int(bad[0, 0, 0]) ^ 1)
    r = synth.row_for(42, int(row.image_id[4:]))
    r["bytes"] = bytearray(K.encode(bad, "png"))
    src = spark.createDataFrame(pd.DataFrame([r]), schema=synth.IMAGES_SCHEMA)
    merge.merge_into(spark, t, src, job_id="pv-m")
    t = t.refresh()
    res = verify.pixel_verify(spark, t, s1, t.current_snapshot_id)
    bad_rows = {x.image_id for x in res.where("NOT ok").collect()}
    assert row.image_id in bad_rows


def test_add_column_rejects_case_variant(spark, tmp_path):
    from nessie_spark.lakehouse import evolve

    t, _ = make_table(spark, str(tmp_path / "tb"), n=4)
    with pytest.raises(ValueError, match="already exists"):
        evolve.add_column(t, "Caption", "string")


def test_bloom_adaptive_sizing_keeps_pruning_power(spark):
    from nessie_spark.lakehouse.bloom import (
        bloom_bits_for, bloom_from_keys, bloom_might_contain,
    )

    keys = [f"img_{i:012d}" for i in range(20_000)]
    b = bloom_from_keys(keys)
    assert len(b) * 8 == bloom_bits_for(20_000) > 2048
    assert all(bloom_might_contain(b, k) for k in keys[:100])
    misses = sum(
        bloom_might_contain(b, f"zzz_{i}") for i in range(2_000)
    )
    assert misses < 200  # ~1-2% FP, not the saturated 100%
    # mixed sizes coexist: a small filter still answers correctly
    small = bloom_from_keys(keys[:10])
    assert len(small) * 8 == 2048
    assert bloom_might_contain(small, keys[0])


def test_bloom_omitted_past_capacity_not_saturated():
    """Past capacity the filter is OMITTED (None = unknown, scan the file)
    rather than stored saturated: a 300k-key file at the 2^18-bit cap would
    carry 32 KB of ~98%-FP filter that prunes nothing (r4 review)."""
    from nessie_spark.lakehouse.bloom import (
        BLOOM_MAX_KEYS, bloom_bits_for, bloom_from_keys, bloom_might_contain,
    )

    assert bloom_bits_for(300_000) is None
    assert bloom_from_keys((f"img_{i}" for i in range(BLOOM_MAX_KEYS + 1))) is None
    assert bloom_might_contain(None, "anything")  # unknown → must read
    # at capacity the filter still exists and still prunes (≲ ~10% FP)
    m = bloom_bits_for(BLOOM_MAX_KEYS)
    assert m is not None
    b = bloom_from_keys([f"img_{i:012d}" for i in range(BLOOM_MAX_KEYS)], m=m)
    misses = sum(bloom_might_contain(b, f"zzz_{i}") for i in range(2_000))
    assert misses < 400  # prunes ≥80% of absent keys even at capacity


def test_trigger_seconds_selects_continuous_mode(spark, tmp_path):
    """An explicit cadence must not silently drain-and-stop."""
    import nessie_spark.streaming.ingest as ing

    captured = {}

    class _W:
        def foreachBatch(self, fn):
            return self

        def option(self, *a):
            return self

        def trigger(self, **kw):
            captured.update(kw)
            return self

        def start(self):
            return None

    class _DF:
        writeStream = _W()

    ing.start_auto_ingest(_DF(), str(tmp_path), str(tmp_path / "ck"),
                          trigger_seconds=7.0)
    assert captured == {"processingTime": "7.0 seconds"}


def test_pii_counts_match_applied_redactions(spark):
    """Chained replacements: counts reflect what was ACTUALLY redacted."""
    from nessie_spark.operators.hygiene import pii_scrub

    import tempfile

    d = tempfile.mkdtemp(prefix="pii-")
    spark.createDataFrame(
        [
            (1, "contact 123-45-6789@x.co today", "en", "s"),
            (2, "ssn 123-45-6789 and ip 10.0.0.1", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in pii_scrub(spark, d).collect()}
    # the email consumed the SSN shape: ONE redaction, not two
    assert rows[1].clean_text == "contact <EMAIL> today"
    assert rows[1].n_redactions == 1
    assert rows[2].clean_text == "ssn <SSN> and ip <IP>"
    assert rows[2].n_redactions == 2


def test_api_null_label_rows_survive(spark):
    from nessie_spark.api import ClassificationUncertainty, LabelAggregation

    df = spark.createDataFrame(
        [
            ("a", [0.7, 0.3], [0, 0, 1]),
            ("b", None, None),
        ],
        "label string, probabilities array<double>, ensemble_predictions array<int>",
    ).withColumn("label", F.when(F.col("label") == "b", None).otherwise("a"))
    cu = ClassificationUncertainty(classes=["a", "z"]).score(df)
    got = {r.label: r.score for r in cu.collect()}
    assert got["a"] is not None and got[None] is None

    la = LabelAggregation(n_classes=2, label_col="lbl")
    df2 = spark.createDataFrame(
        [(0, [0, 0, 1]), (1, [1, 1, 1]), (0, None)],
        "lbl int, ensemble_predictions array<int>",
    )
    out = la.score(df2).collect()
    null_rows = [r for r in out if r.ensemble_predictions is None]
    assert len(null_rows) == 1 and null_rows[0].flag is None
    assert all(r.flag is not None for r in out if r.ensemble_predictions)


def test_lof_singleton_class_keeps_row_with_null(spark, tmp_path):
    import tempfile

    import numpy as np

    from nessie_spark.operators.probability import (
        mean_distance_lof_scores,
        mean_distance_lof_scores_dense,
    )

    d = tempfile.mkdtemp(prefix="lof-")
    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.rand(64)], int(0 if i < 19 else 5))
        for i in range(20)  # label 5 is a singleton class
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r.vec_id: r.score for r in mean_distance_lof_scores(spark, d).collect()}
    assert len(out) == 20  # the singleton row SURVIVES
    assert out[19] is None
    dense = {
        r.vec_id: r.score
        for r in mean_distance_lof_scores_dense(spark, d).collect()
    }
    assert len(dense) == 20 and dense[19] is None


def test_tokenizer_dialect_parity_on_hostile_whitespace(spark, tmp_path):
    """Planted tabs/newlines/unicode-ws: engine and DuckDB oracle must
    agree byte-for-byte (the \\s dialect divergence the review flagged)."""
    import tempfile

    import duckdb

    import __spark_entry__ as E

    d = tempfile.mkdtemp(prefix="ws-")
    texts = [
        "\tred fox jumps over the lazy dog and runs home fast",
        "red fox jumps over the lazy dog and runs home fast\n",
        "red fox\x0bjumps over the lazy dog and runs home fast",
        "red fox jumps over the lazy dog and runs home fast",
        "  red fox jumps over the lazy dog and runs home fast  ",
        "plain words here with no tricks at all in sight today",
    ]
    spark.createDataFrame(
        [(i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    qs, sqls = E.queries(), E.oracle_sql()
    for name in ("dedup_minhash_signatures", "dedup_simhash", "token_counts",
                 "doc_fingerprints", "contamination_report"):
        got = sorted(map(str, map(tuple, qs[name](spark, d).collect())))
        want = sorted(map(str, map(tuple, con.execute(sqls[name]).fetchall())))
        assert got == want, f"{name} diverges on hostile whitespace"


def test_changelog_reads_legacy_manifests_without_schema_id(spark, tmp_path):
    """r4 review: the changelog's overwrite-diff path read manifests with a
    bare columns= select, which raises ArrowInvalid on manifests written
    before the field-id model. Strip schema_id from every manifest on disk
    (what a pre-model table looks like), then diff across a CoW merge."""
    import glob

    import pyarrow.parquet as pq

    from nessie_spark.lakehouse.changelog import scan_changelog

    t, snap0 = make_table(spark, str(tmp_path / "tb"), n=64)
    for mp in glob.glob(os.path.join(t.root, "metadata", "**", "*.parquet"),
                        recursive=True):
        tb = pq.read_table(mp)
        if "schema_id" in tb.column_names:
            pq.write_table(tb.drop_columns(["schema_id"]), mp)
    t = t.refresh()
    upd = (
        synth.images_df(spark, 4, seed=42)
        .withColumn("caption", F.concat(F.lit("edited: "), F.col("caption")))
    )
    merge.merge_into(spark, t, upd, job_id="legacy-m1")
    t = t.refresh()
    cl = scan_changelog(spark, t, from_snapshot_id=snap0)
    got = {(r.image_id, r._change_type) for r in cl.collect()}
    upd_ids = {f"img_{i:012d}" for i in range(4)}
    assert got == {(i, "delete") for i in upd_ids} | {
        (i, "insert") for i in upd_ids
    }


def test_distributed_planner_keeps_stamped_schema_id(spark, tmp_path):
    """r4 review: _plan_files_distributed dropped schema_id from its
    survivor select, so cherry-picked entries (stamped with their ORIGINAL
    schema id, added_snapshot_id pointing at the replay snapshot) resolved
    to the head schema and read the renamed column as NULL. Stage under
    schema A, rename to schema B, cherry-pick, then force the distributed
    planner and demand parity with the driver planner."""
    from nessie_spark.lakehouse import evolve

    t, _ = make_table(spark, str(tmp_path / "tb"), n=32)
    staged = jobs.append(
        spark, t,
        synth.images_df(spark, 40, seed=9).where(
            F.col("image_id") >= "img_000000000032"
        ).withColumn("image_id", F.concat(F.lit("wap-"), F.col("image_id"))),
        job_id="sidstamp-stage", stage_only=True,
    )
    t = t.refresh()
    evolve.rename_column(t, "caption", "title")
    t = t.refresh()
    t.cherrypick_snapshot(staged)
    t = t.refresh()
    group = f"sidstamp-{id(tmp_path)}"
    with spark_jobs(spark, f"{group}-drv") as drv_jobs:
        drv = {
            r.image_id: r.title
            for r in scan(spark, t).select("image_id", "title").collect()
        }
    with on_spark(spark):
        with spark_jobs(spark, f"{group}-dist") as plan_jobs:
            df = scan(spark, t)
        dist = {r.image_id: r.title for r in df.select("image_id", "title").collect()}
    assert drv_jobs == [], "the driver plan and read started a Spark job"
    assert plan_jobs, "the forced plan started no Spark job"
    assert dist == drv
    wap = {k: v for k, v in dist.items() if k.startswith("wap-")}
    assert len(wap) == 8 and all(v is not None for v in wap.values())
