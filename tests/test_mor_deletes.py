"""Merge-on-read equality deletes (lakehouse/deletes.py): write-cheap
delete_where + scan-time key subtraction, re-insert visibility (snapshot-id
applicability), copy-on-write purge_deletes, the rewrite guards, and
reachability through expiry/GC."""

import contextlib
import io
import os

import pyspark.sql.functions as F
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import compact, deletes, expire, jobs, merge, zorder
from nessie_spark.lakehouse.scan import scan, scan_incremental
from tests.conftest import make_table, on_spark, spark_jobs


def _ids(df):
    return {r.image_id for r in df.select("image_id").collect()}


def test_delete_where_is_metadata_only_and_scan_subtracts(spark, tmp_path):
    t, snap0 = make_table(spark, str(tmp_path / "tb"))
    files_before = {e["file_path"] for e in t.file_entries().to_pylist()}
    res = deletes.delete_where(
        spark, t, F.col("image_id") < "img_000000000050", job_id="d1"
    )
    t = t.refresh()
    assert res.n_keys == 50 and res.n_delete_files >= 1
    # no data file was touched — the delete is metadata + key files only
    assert {e["file_path"] for e in t.file_entries().to_pylist()} == files_before
    assert len(t.delete_files()) == res.n_delete_files
    # current scan subtracts; the pinned pre-delete snapshot is untouched
    assert scan(spark, t).count() == 256 - 50
    assert min(_ids(scan(spark, t))) == "img_000000000050"
    assert scan(spark, t, snapshot_id=snap0).count() == 256
    # predicate pushdown survives the anti-join (filters below the join) on
    # the Spark read; the table is small enough for the driver read, so
    # force the Spark one
    rng = ("img_000000000100", "img_000000000200")
    buf = io.StringIO()
    with on_spark(spark), contextlib.redirect_stdout(buf):
        scan(spark, t, key_range=rng).explain("formatted")
        spark_rows = sorted(scan(spark, t, key_range=rng).collect())
    assert "PushedFilters" in buf.getvalue()
    # the driver read returns the same rows and its collect starts no job
    with spark_jobs(spark, f"mor-driver-{id(tmp_path)}") as job_ids:
        driver_rows = sorted(scan(spark, t, key_range=rng).collect())
    assert job_ids == []
    assert driver_rows == spark_rows and len(driver_rows) == 101


def test_empty_match_delete_is_a_noop(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    res = deletes.delete_where(spark, t, F.col("image_id") == "nope", job_id="d0")
    assert res.snapshot_id is None and res.n_keys == 0
    assert t.refresh().delete_files() == []


def test_reinsert_after_delete_is_visible(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(spark, t, F.col("image_id") == "img_000000000007", job_id="d1")
    t = t.refresh()
    assert "img_000000000007" not in _ids(scan(spark, t))
    # re-insert the same key: the new file's added_snapshot_id is NEWER than
    # the delete, so the delete must not shadow it
    row = synth.images_df(spark, 8, seed=42).where(
        F.col("image_id") == "img_000000000007"
    ).withColumn("caption", F.lit("reborn"))
    jobs.append(spark, t, row, job_id="reinsert")
    t = t.refresh()
    vis = scan(spark, t).where(F.col("image_id") == "img_000000000007")
    assert [r.caption for r in vis.collect()] == ["reborn"]
    # a SECOND delete now removes the re-inserted row too
    deletes.delete_where(spark, t, F.col("image_id") == "img_000000000007", job_id="d2")
    t = t.refresh()
    assert len(t.delete_files()) == 2
    assert "img_000000000007" not in _ids(scan(spark, t))


def test_rewrites_refuse_pending_deletes(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(spark, t, F.col("image_id") < "img_000000000010", job_id="d1")
    t = t.refresh()
    with pytest.raises(ValueError, match="purge_deletes"):
        compact.compact(spark, t, job_id="c1")
    with pytest.raises(ValueError, match="purge_deletes"):
        zorder.cluster(spark, t, job_id="z1")
    src = synth.images_df(spark, 4, seed=1)
    with pytest.raises(ValueError, match="purge_deletes"):
        merge.merge_into(spark, t, src, job_id="m1")


def test_purge_roundtrip_then_compact(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(
        spark, t, F.col("image_id").between("img_000000000040", "img_000000000079"),
        job_id="d1",
    )
    t = t.refresh()
    before = _ids(scan(spark, t))
    untouched = {
        e["file_path"]
        for e in t.file_entries().to_pylist()
        if e["max_key"] < "img_000000000040" or e["min_key"] > "img_000000000079"
    }
    res = deletes.purge_deletes(spark, t, job_id="p1")
    t = t.refresh()
    assert res.dropped_delete_files == 1 and res.rewritten_files >= 1
    assert t.delete_files() == []
    # row set identical to the merge-on-read view it replaced
    assert _ids(scan(spark, t)) == before
    # only candidate files were rewritten (stats-pruned CoW)
    after_paths = {e["file_path"] for e in t.file_entries().to_pylist()}
    assert untouched <= after_paths
    # rewrites are unblocked now
    r = compact.compact(spark, t, job_id="c-after")
    assert r.snapshot_id is not None
    assert _ids(scan(spark, t.refresh())) == before


def test_purge_is_idempotent_and_rerun_safe(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(spark, t, F.col("image_id") < "img_000000000020", job_id="d1")
    t = t.refresh()
    r1 = deletes.purge_deletes(spark, t, job_id="p1")
    t = t.refresh()
    r2 = deletes.purge_deletes(spark, t, job_id="p1")  # committed — no-op
    assert r2.snapshot_id == r1.snapshot_id and r2.rewritten_files == 0
    r3 = deletes.purge_deletes(spark, t, job_id="p2")  # nothing pending
    assert r3.snapshot_id is None


def test_delete_files_survive_gc_and_expire_with_history(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(spark, t, F.col("image_id") < "img_000000000010", job_id="d1")
    t = t.refresh()
    dpath = t.delete_files()[0]["file_path"]
    assert os.path.exists(os.path.join(t.root, dpath))
    # live delete file is never an orphan
    assert dpath not in expire.gc_orphans(spark, t, dry_run=True)
    # purge, then trim history: once no retained snapshot references the
    # delete file, expiry removes it like any other dead data file
    deletes.purge_deletes(spark, t, job_id="p1")
    t = t.refresh()
    expire.expire_snapshots(spark, t, retain_last=1)
    t = t.refresh()
    assert not os.path.exists(os.path.join(t.root, dpath))
    assert scan(spark, t).count() == 256 - 10


def test_incremental_scan_rules(spark, tmp_path):
    t, snap0 = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(spark, t, F.col("image_id") < "img_000000000010", job_id="d1")
    t = t.refresh()
    sdel = t.current_snapshot_id
    # crossing the delete raises — a delete is not an append delta
    with pytest.raises(ValueError, match="row-changing"):
        scan_incremental(spark, t, from_snapshot_id=snap0, to_snapshot_id=sdel).count()
    deletes.purge_deletes(spark, t, job_id="p1")
    t = t.refresh()
    jobs.append(
        spark, t,
        synth.images_df(spark, 8, seed=5).withColumn(
            "image_id", F.concat(F.lit("new-"), F.col("image_id"))
        ),
        job_id="a2",
    )
    t = t.refresh()
    # purge-deletes is a pure rewrite: an append-only range crossing it is fine
    delta = scan_incremental(spark, t, from_snapshot_id=sdel)
    assert delta.count() == 8
