"""MERGE INTO (CoW) goldens + snapshot expiry/orphan-GC DAG fixture
(FIXTURES.md §3/§4)."""

import pytest
import os

import pyspark.sql.functions as F

from nessie_spark import synth
from nessie_spark.lakehouse import expire, jobs, manifest, merge
from nessie_spark.lakehouse.scan import scan
from tests.conftest import make_table


def _merge_source(spark, n=256, seed=42):
    """2% caption edits, 1% pixel updates, 0.5%+ inserts (FIXTURES.md §4),
    scaled up so the smoke table gets non-trivial counts."""
    rows = []
    for i in range(0, n, 10):  # 10%: caption edits
        r = synth.row_for(seed, i)
        r["caption"] = r["caption"] + " (edited)"
        rows.append(r)
    for i in range(5, n, 20):  # 5%: pixel updates (different salt)
        r = synth.row_for(seed + 1000, i)
        r["image_id"] = f"img_{i:012d}"
        rows.append(r)
    for i in range(n, n + 8):  # inserts: brand-new ids
        rows.append(synth.row_for(seed, i))
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGES_SCHEMA)


def test_merge_golden_counts(spark, tmp_path):
    t, snap0 = make_table(spark, str(tmp_path / "tb"), n=256)
    src = _merge_source(spark, 256)
    n_caption_edits = len(range(0, 256, 10))
    n_pixel_updates = len(range(5, 256, 20))  # disjoint from the edit ids
    res = merge.merge_into(spark, t, src, job_id="m1")
    assert res.inserted == 8
    assert res.updated == n_caption_edits + n_pixel_updates
    t = t.refresh()
    after = scan(spark, t)
    assert after.count() == 256 + 8
    # caption edits visible
    edited = after.where(F.col("caption").endswith("(edited)")).count()
    assert edited == n_caption_edits
    # pre-merge snapshot untouched (snapshot isolation)
    assert scan(spark, t, snapshot_id=snap0).count() == 256
    assert (
        scan(spark, t, snapshot_id=snap0)
        .where(F.col("caption").endswith("(edited)"))
        .count()
        == 0
    )


def test_merge_only_rewrites_matched_files(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=256)
    before = {e["file_path"] for e in t.file_entries().to_pylist()}
    # source touching a single image
    import pandas as pd

    r = synth.row_for(42, 7)
    r["caption"] = "solo edit"
    src = spark.createDataFrame(pd.DataFrame([r]), schema=synth.IMAGES_SCHEMA)
    res = merge.merge_into(spark, t, src, job_id="m2")
    t = t.refresh()
    after = {e["file_path"] for e in t.file_entries().to_pylist()}
    carried = before & after
    # most files untouched: only matched files (by key-range) were rewritten
    assert res.matched_files < len(before)
    assert len(carried) == len(before) - res.matched_files


def test_merge_idempotent_rerun(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=128)
    src = _merge_source(spark, 128)
    r1 = merge.merge_into(spark, t, src, job_id="mj")
    t = t.refresh()
    r2 = merge.merge_into(spark, t, src, job_id="mj")
    assert r2.snapshot_id == r1.snapshot_id


def test_expire_dag_and_orphan_gc(spark, tmp_path):
    """Chain + abandoned work: expire keeps the current lineage, GC removes
    unreferenced files (FIXTURES.md §3 golden shape)."""
    t, s1 = make_table(spark, str(tmp_path / "tb"), n=128)
    # build a chain: append twice more
    df2 = synth.images_df(spark, 32, seed=7).withColumn(
        "image_id", F.concat(F.lit("x2_"), F.col("image_id"))
    )
    s2 = jobs.append(spark, t, df2, job_id="a2")
    t = t.refresh()
    df3 = synth.images_df(spark, 32, seed=8).withColumn(
        "image_id", F.concat(F.lit("x3_"), F.col("image_id"))
    )
    s3 = jobs.append(spark, t, df3, job_id="a3")
    t = t.refresh()
    # compaction rewrites → old small files referenced only by s1..s3
    from nessie_spark.lakehouse import compact

    r = compact.compact(spark, t, target_bytes=512 * 1024, job_id="c")
    s4 = r.snapshot_id
    t = t.refresh()

    # orphans: plant 3 unreferenced files
    for i in range(3):
        p = os.path.join(t.root, "data", f"orphan-{i}.parquet")
        with open(p, "wb") as fh:
            fh.write(b"PAR1 junk")

    # dry-run first: reports, deletes nothing
    rep = expire.expire_snapshots(spark, t, keep_heads=[s4], dry_run=True)
    assert rep.retained_snapshots == [s1, s2, s3, s4]
    assert rep.expired_snapshots == []

    orphans = expire.gc_orphans(spark, t, dry_run=True)
    assert orphans == [f"data/orphan-{i}.parquet" for i in range(3)]
    orphans = expire.gc_orphans(spark, t, dry_run=False)
    assert all(not os.path.exists(os.path.join(t.root, p)) for p in orphans)

    # now retain only the head — ancestors stay (reachable); nothing expired
    # in a pure chain. Simulate an abandoned branch by removing the head's
    # parent linkage via keep_heads=[s2]: s3/s4 become unreachable.
    rep2 = expire.expire_snapshots(spark, t, keep_heads=[s2], dry_run=False)
    assert rep2.expired_snapshots == [s3, s4]
    t = t.refresh()
    ids = {s["snapshot_id"] for s in t.meta["snapshots"]}
    assert ids == {s1, s2}
    # files added by s3/s4 and not referenced by s1/s2 are gone
    for rel in rep2.deleted_data_files:
        assert not os.path.exists(os.path.join(t.root, rel))
    # the retained snapshots still scan completely
    assert scan(spark, t, snapshot_id=s2).count() == 128 + 32


def test_manifest_rewrite_preserves_entries(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=128)
    before = sorted(e["file_path"] for e in t.file_entries().to_pylist())
    n_manifests_before = len(t.manifest_paths())
    res = manifest.rewrite_manifests(spark, t, target_manifests=2)
    assert res.snapshot_id is not None
    t = t.refresh()
    after = sorted(e["file_path"] for e in t.file_entries().to_pylist())
    assert before == after
    assert len(t.manifest_paths()) == 2
    assert res.manifests_before == n_manifests_before
    assert scan(spark, t).count() == 128


# --- skew-aware MERGE (north_rule: salted repartitioning for phash hot keys)


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_merge_delete_by_hot_phash_salted(spark, tmp_path):
    """Planted-hot-key merge: the synthetic table plants hot phashes over
    ~5% of rows (FIXTURES.md §1); a delete-by-phash merge with a low
    detector threshold must route them through the salted join and still
    produce exact counts."""
    t, snap0 = make_table(spark, str(tmp_path / "tb"), n=256)
    live = scan(spark, t)
    hot = [
        r.phash
        for r in live.groupBy("phash")
        .count()
        .where(F.col("count") >= 3)
        .orderBy(F.desc("count"), F.asc("phash"))
        .limit(2)
        .collect()
    ]
    assert len(hot) == 2
    n_hot_rows = live.where(F.col("phash").isin(hot)).count()
    total = live.count()

    import pandas as pd

    rows = []
    for j, ph in enumerate(hot):
        r = synth.row_for(42, 1000 + j)
        r["phash"] = int(ph)
        rows.append(r)
    rows.append(synth.row_for(42, 5007))  # fresh phash -> insert
    src = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGES_SCHEMA)

    res = merge.merge_into(
        spark, t, src, job_id="mhot", key="phash",
        when_matched="delete", when_not_matched="insert",
        broadcast_threshold_rows=0, hot_key_rows=3,
    )
    assert res.deleted == n_hot_rows
    assert res.inserted == 1
    t = t.refresh()
    after = scan(spark, t)
    assert after.where(F.col("phash").isin(hot)).count() == 0
    assert after.count() == total - n_hot_rows + 1
    # wiring proof: the detector fired and the salted path ran
    from nessie_spark.lakehouse import lineage

    u = lineage.read_phase(t.root, "mhot", "merge").to_pylist()[0]
    assert dict(u["metrics"])["hot_keys_salted"] >= 1
    # snapshot isolation
    assert scan(spark, t, snapshot_id=snap0).count() == total


def test_hot_delete_split_has_salted_shuffle(spark):
    """The matched-hot join's shuffle key must be (phash, _salt) — the
    plan shape the north_rule mandates."""
    tgt = synth.images_df(spark, 64)
    hot_val = (
        tgt.groupBy("phash").count().orderBy(F.desc("count"), F.asc("phash"))
        .first().phash
    )
    matched_hot, _u, _i, _k = merge.hot_delete_split(
        tgt, tgt.limit(8), "phash", [hot_val], 16
    )
    # When the exploded key set fits the broadcast threshold Spark
    # broadcasts it (no shuffle at all — the ideal skew treatment); the
    # salted (key, _salt) exchange is the shape for the at-scale case, so
    # pin it with broadcast off.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(matched_hot)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "_salt" in plan
    assert "hashpartitioning(phash" in plan


def test_matched_files_bucketed_no_bnlj(spark):
    """At >=10^4 manifest entries the interval join must be a hash join on
    the range bucket (VERDICT r2 #6), not a BroadcastNestedLoopJoin, with
    identical matches."""
    n_files = 12000
    entries = [
        (f"f{i}", f"k{i * 10:08d}", f"k{i * 10 + 9:08d}") for i in range(n_files)
    ]
    stats_df = spark.createDataFrame(
        entries, "file_path string, min_key string, max_key string"
    )
    keys = [f"k{i:08d}" for i in range(0, n_files * 10, 997)]
    src_keys = spark.createDataFrame([(k,) for k in keys], "_k string")
    out = merge.matched_files_df(src_keys, stats_df, n_files=n_files)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    got = sorted(r.file_path for r in out.collect())
    exp = sorted({f for (f, lo, hi) in entries for k in keys if lo <= k <= hi})
    assert got == exp


def test_gc_sweeps_committed_stage_dirs(spark, tmp_path):
    """Orphan-GC removes _stage/{job_id} shards left by a crash after
    commit (r2 ADVICE); in-flight (uncommitted) stage dirs are preserved
    for resume."""
    from nessie_spark.lakehouse import zorder

    t, _ = make_table(spark, str(tmp_path / "tb"), n=64, mean_rows=16)
    zorder.cluster(spark, t, target_bytes=128 * 1024, job_id="zg")
    t = t.refresh()
    # simulate the crash window: committed job left its staging shards
    committed = os.path.join(t.root, "_stage", "zg")
    os.makedirs(committed, exist_ok=True)
    open(os.path.join(committed, "g0000.parquet"), "wb").close()
    inflight = os.path.join(t.root, "_stage", "zq-notcommitted")
    os.makedirs(inflight, exist_ok=True)
    expire.gc_orphans(spark, t)
    assert not os.path.exists(committed)
    assert os.path.exists(inflight)


# ------------------------------------------------------------- update_where


def test_update_where_rewrites_only_matching_rows(spark, tmp_path):
    from nessie_spark.lakehouse.merge import update_where

    t, s1 = make_table(spark, str(tmp_path / "images"), n=60, mean_rows=12)
    r = update_where(spark, t, "phash % 2 = 0", {"fmt": "'png'"}, job_id="u1")
    t = t.refresh()
    cur = scan(spark, t)
    assert cur.count() == 60  # row count preserved
    n_even = cur.where("phash % 2 = 0").count()
    assert cur.where("fmt = 'png' AND phash % 2 = 0").count() == n_even
    # MERGE semantics: every matched row counts as updated (even if the
    # assignment was a no-op for rows already 'png')
    assert r.updated == n_even
    # snapshot isolation: the pre-update snapshot still reads old values
    # (the seed-42 fixture has even-phash rows that were not 'png')
    old = scan(spark, t, snapshot_id=s1)
    assert old.where("fmt = 'png' AND phash % 2 = 0").count() < n_even

    # idempotent job_id: replay is a metadata no-op
    r2 = update_where(spark, t.refresh(), "phash % 2 = 0", {"fmt": "'png'"},
                      job_id="u1")
    assert r2.snapshot_id == r.snapshot_id


def test_update_where_refuses_key_and_unknown_columns(spark, tmp_path):
    from nessie_spark.lakehouse.merge import update_where

    t, _ = make_table(spark, str(tmp_path / "images"), n=20, mean_rows=10)
    with pytest.raises(ValueError, match="image_id"):
        update_where(spark, t, "true", {"image_id": "'x'"})
    with pytest.raises(ValueError, match="schema"):
        update_where(spark, t, "true", {"nope": "1"})


def test_update_where_expression_uses_row_values(spark, tmp_path):
    from nessie_spark.lakehouse.merge import update_where

    t, _ = make_table(spark, str(tmp_path / "images"), n=30, mean_rows=10)
    before = {r.image_id: r.w for r in scan(spark, t).select("image_id", "w").collect()}
    update_where(spark, t, "w > 0", {"w": "w * 2"}, job_id="u2")
    t = t.refresh()
    after = {r.image_id: r.w for r in scan(spark, t).select("image_id", "w").collect()}
    assert all(after[k] == 2 * v for k, v in before.items())


def test_update_where_multi_assignment_reads_original_row(spark, tmp_path):
    """SQL UPDATE semantics: every RHS evaluates against the ORIGINAL row,
    so {"w": "h", "h": "w"} is a swap — not two sequential rewrites where
    the second reads the first's output."""
    from nessie_spark.lakehouse.merge import update_where

    t, _ = make_table(spark, str(tmp_path / "images"), n=30, mean_rows=10)
    before = {
        r.image_id: (r.w, r.h)
        for r in scan(spark, t).select("image_id", "w", "h").collect()
    }
    assert any(w != h for w, h in before.values())  # fixture has non-squares
    update_where(spark, t, "true", {"w": "h", "h": "w"}, job_id="u-swap")
    t = t.refresh()
    after = {
        r.image_id: (r.w, r.h)
        for r in scan(spark, t).select("image_id", "w", "h").collect()
    }
    assert all(after[k] == (v[1], v[0]) for k, v in before.items())
