"""Optimistic-commit serialization: two writers holding the same base
version must both land, in order, via the FileExistsError retry loop —
unless one deletes a file the other already removed, or rewrites files
while the other added a delete file, which must raise CommitConflict
rather than re-add rows the other commit replaced or deleted."""

import pytest
from pyspark.sql import functions as F

from nessie_spark import synth
from nessie_spark.lakehouse import jobs
from nessie_spark.lakehouse.compact import compact
from nessie_spark.lakehouse.deletes import (
    delete_positions_where,
    delete_where,
    purge_deletes,
)
from nessie_spark.lakehouse.merge import merge_into
from nessie_spark.lakehouse.scan import scan
from nessie_spark.lakehouse.table import CommitConflict, Table
from tests.conftest import make_table


def test_stale_writer_retries_and_serializes(spark, tmp_path):
    root = str(tmp_path / "images")
    t, snap0 = make_table(spark, root, n=48, mean_rows=12)
    rows_before = scan(spark, t).count()

    t1 = Table.load(root)
    t2 = Table.load(root)  # same base version as t1 — a stale writer
    s1 = t1.commit("expire", summary={"who": "t1"})
    # t2's first attempt targets the version file t1 just created
    # (O_CREAT|O_EXCL fails) and must refresh + retry, not clobber
    s2 = t2.commit("expire", summary={"who": "t2"})
    assert (s1, s2) == (snap0 + 1, snap0 + 2)

    t = Table.load(root)
    assert t.current_snapshot_id == s2
    whos = [s["summary"].get("who") for s in t.meta["snapshots"]]
    assert whos[-2:] == ["t1", "t2"]
    # carried manifests: the live row set is untouched by either commit
    assert scan(spark, t).count() == rows_before


def test_stale_evolution_commit_serializes(spark, tmp_path):
    from nessie_spark.lakehouse import evolve

    root = str(tmp_path / "images")
    make_table(spark, root, n=48, mean_rows=12)
    t1 = Table.load(root)
    t2 = Table.load(root)
    evolve.add_column(t1, "a_col", "long")
    evolve.add_column(t2, "b_col", "string")  # stale base: retry path
    t = Table.load(root)
    ddl = t.meta["schema"]
    assert "a_col long" in ddl and "b_col string" in ddl
    df = scan(spark, t)
    assert {"a_col", "b_col"} <= set(df.columns)


def _eight_file_table(spark, root):
    """64 rows in 8 files of 8 rows each."""
    t = jobs.create_images_table(root)
    jobs.append(spark, t, synth.images_df(spark, 64, seed=42), job_id="ingest",
                file_boundaries=list(range(8, 65, 8)))
    return t.refresh()


def _update_one(spark, t, image_id, caption, job_id):
    src = scan(spark, t).filter(F.col("image_id") == image_id).withColumn(
        "caption", F.lit(caption)
    )
    return merge_into(spark, t, src, job_id=job_id)


def _captions(spark, root):
    rows = scan(spark, Table.load(root)).select("image_id", "caption").collect()
    return [(r.image_id, r.caption) for r in rows]


def test_stale_compaction_after_merge_conflicts(spark, tmp_path):
    """A compaction planned on a stale handle must not commit over a merge
    that rewrote one of its input files: that would add back the file's
    pre-merge rows beside the merge's update."""
    root = str(tmp_path / "images")
    _eight_file_table(spark, root)
    stale = Table.load(root)
    _update_one(spark, Table.load(root), "img_000000000005", "updated", "m1")
    with pytest.raises(CommitConflict):
        compact(spark, stale, target_bytes=1 << 20, job_id="c1")
    rows = _captions(spark, root)
    assert len(rows) == 64 and len({i for i, _ in rows}) == 64
    assert dict(rows)["img_000000000005"] == "updated"


def test_stale_merge_after_merge_conflicts(spark, tmp_path):
    """Two merges that rewrite the same file: the one planned on the stale
    handle raises, and the table keeps the first merge's row set."""
    root = str(tmp_path / "images")
    _eight_file_table(spark, root)
    stale = Table.load(root)
    _update_one(spark, Table.load(root), "img_000000000005", "first", "m1")
    with pytest.raises(CommitConflict):
        _update_one(spark, stale, "img_000000000006", "second", "m2")
    rows = _captions(spark, root)
    assert len(rows) == 64 and len({i for i, _ in rows}) == 64
    got = dict(rows)
    assert got["img_000000000005"] == "first"
    assert got["img_000000000006"] != "second"


def _ids(spark, root):
    return [r.image_id for r in scan(spark, Table.load(root)).select("image_id").collect()]


def _assert_deleted(spark, root, n_rows, *gone):
    ids = _ids(spark, root)
    assert len(ids) == n_rows and len(set(ids)) == n_rows
    assert not set(gone) & set(ids)


DELETES = {"equality": delete_where, "positional": delete_positions_where}


@pytest.mark.parametrize("kind", sorted(DELETES))
def test_stale_compaction_after_delete_conflicts(spark, tmp_path, kind):
    """A compaction planned before a delete must not commit over it: its
    rewritten file has a new path and a new added_snapshot_id, so neither
    a positional nor an equality delete would still apply to the row."""
    root = str(tmp_path / "images")
    _eight_file_table(spark, root)
    stale = Table.load(root)
    DELETES[kind](spark, Table.load(root), F.col("image_id") == "img_000000000005",
                  job_id="d1")
    with pytest.raises(CommitConflict):
        compact(spark, stale, target_bytes=1 << 20, job_id="c1")
    _assert_deleted(spark, root, 63, "img_000000000005")


def test_stale_merge_after_delete_conflicts(spark, tmp_path):
    """A merge that rewrites the file holding a concurrently deleted row
    would copy the row into its new file, out of the delete's reach."""
    root = str(tmp_path / "images")
    _eight_file_table(spark, root)
    stale = Table.load(root)
    delete_positions_where(spark, Table.load(root),
                           F.col("image_id") == "img_000000000005", job_id="d1")
    with pytest.raises(CommitConflict):
        _update_one(spark, stale, "img_000000000006", "updated", "m1")
    _assert_deleted(spark, root, 63, "img_000000000005")
    assert dict(_captions(spark, root))["img_000000000006"] != "updated"


def test_stale_purge_after_delete_conflicts(spark, tmp_path):
    """A purge folds the delete files it planned and drops them; one that
    commits over a later delete file would drop that file unapplied."""
    root = str(tmp_path / "images")
    t = _eight_file_table(spark, root)
    delete_where(spark, t, F.col("image_id") == "img_000000000003", job_id="d0")
    stale = Table.load(root)
    delete_where(spark, Table.load(root), F.col("image_id") == "img_000000000005",
                 job_id="d1")
    with pytest.raises(CommitConflict):
        purge_deletes(spark, stale, job_id="p1")
    _assert_deleted(spark, root, 62, "img_000000000003", "img_000000000005")
