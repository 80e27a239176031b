"""Merge-on-read POSITIONAL deletes (lakehouse/deletes.py): (file, pos)
pairs from the parquet reader's row_index, scan-time anti-join, file-path
self-scoping (re-inserts and rewrites are never shadowed), purge folding,
mixed equality+positional pending sets, and CDC delete rows."""

import pyspark.sql.functions as F
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import changelog, compact, deletes, jobs
from nessie_spark.lakehouse.scan import scan
from tests.conftest import PLACEMENTS, assert_same_on_every_placement, make_table, placed


def _ids(df):
    return {r.image_id for r in df.select("image_id").collect()}


def test_delete_positions_where_subtracts_exactly(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    files_before = {e["file_path"] for e in t.file_entries().to_pylist()}
    res = deletes.delete_positions_where(
        spark, t, F.col("image_id") < "img_000000000050", job_id="p1"
    )
    t = t.refresh()
    assert res.n_keys == 50 and res.n_delete_files >= 1
    # metadata-only: no data file touched
    assert {e["file_path"] for e in t.file_entries().to_pylist()} == files_before
    got = _ids(scan(spark, t))
    assert len(got) == 206 and not any(i < "img_000000000050" for i in got)
    # idempotent job_id rerun
    res2 = deletes.delete_positions_where(
        spark, t, F.col("image_id") < "img_000000000050", job_id="p1"
    )
    assert res2.snapshot_id == res.snapshot_id and res2.n_keys == 0


def test_reinsert_after_pos_delete_stays_visible(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_positions_where(
        spark, t, F.col("image_id") == "img_000000000007", job_id="p2"
    )
    t = t.refresh()
    assert "img_000000000007" not in _ids(scan(spark, t))
    # re-insert the same key: lands in a NEW file the pairs never name
    row = synth.images_df(spark, 8, seed=42).where(
        F.col("image_id") == "img_000000000007"
    )
    jobs.append(spark, t, row, job_id="reinsert")
    t = t.refresh()
    assert "img_000000000007" in _ids(scan(spark, t))
    assert scan(spark, t).where(F.col("image_id") == "img_000000000007").count() == 1


def test_pos_delete_targets_single_copy_of_duplicate_key(spark, tmp_path):
    """The positional-delete superpower: keys need not be unique — only the
    addressed copy goes."""
    t, _ = make_table(spark, str(tmp_path / "tb"))
    dup = synth.images_df(spark, 4, seed=42).where(
        F.col("image_id") == "img_000000000003"
    ).withColumn("caption", F.lit("the duplicate copy"))
    jobs.append(spark, t, dup, job_id="dup")
    t = t.refresh()
    assert scan(spark, t).where(F.col("image_id") == "img_000000000003").count() == 2
    deletes.delete_positions_where(
        spark, t, F.col("caption") == "the duplicate copy", job_id="p3"
    )
    t = t.refresh()
    left = scan(spark, t).where(F.col("image_id") == "img_000000000003")
    assert left.count() == 1
    assert left.collect()[0].caption != "the duplicate copy"


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_purge_folds_positional_deletes(spark, tmp_path, placement):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_positions_where(
        spark, t, F.col("image_id").between("img_000000000010", "img_000000000029"),
        job_id="p4",
    )
    t = t.refresh()
    before = _ids(scan(spark, t))
    with placed(spark, placement):
        res = deletes.purge_deletes(spark, t, job_id="purge4")
    t = t.refresh()
    assert res.dropped_delete_files >= 1 and t.delete_files() == []
    assert _ids(scan(spark, t)) == before
    assert_same_on_every_placement("pos-purge", t)
    # maintenance unblocked after purge
    compact.compact(spark, t, target_bytes=256 * 1024, job_id="c4")
    t = t.refresh()
    assert _ids(scan(spark, t)) == before


def test_mixed_equality_and_positional_pending(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(
        spark, t, F.col("image_id") < "img_000000000010", job_id="e5"
    )
    t = t.refresh()
    deletes.delete_positions_where(
        spark, t, F.col("image_id").between("img_000000000010", "img_000000000019"),
        job_id="p5",
    )
    t = t.refresh()
    got = _ids(scan(spark, t))
    assert len(got) == 236 and min(got) == "img_000000000020"
    # rewrites refuse while either kind is pending
    with pytest.raises(ValueError, match="pending merge-on-read"):
        compact.compact(spark, t, target_bytes=256 * 1024, job_id="c5")
    before = set(got)
    deletes.purge_deletes(spark, t, job_id="purge5")
    t = t.refresh()
    assert t.delete_files() == [] and _ids(scan(spark, t)) == before


def test_changelog_emits_pos_delete_rows(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    base = t.current_snapshot_id
    deletes.delete_positions_where(
        spark, t, F.col("image_id") < "img_000000000005", job_id="p6"
    )
    t = t.refresh()
    ch = changelog.scan_changelog(spark, t, from_snapshot_id=base)
    dels = ch.where(F.col("_change_type") == "delete")
    assert dels.count() == 5
    assert _ids(dels) == {f"img_{i:012d}" for i in range(5)}


def test_purge_survives_table_root_ending_in_data(spark, tmp_path):
    """Provenance-path regression: with a root ending in ``/data`` the data
    files live at ``.../data/data/f.parquet``; a URI split on ``/data/``
    mis-derived the relative path, purge matched zero files, and the
    positionally deleted rows silently RESURRECTED after the delete files
    were dropped. The relative path now derives from the basename alone."""
    t, _ = make_table(spark, str(tmp_path / "data"))
    deletes.delete_positions_where(
        spark, t, F.col("image_id") < "img_000000000008", job_id="pr1"
    )
    t = t.refresh()
    before = _ids(scan(spark, t))
    assert len(before) == 248
    res = deletes.purge_deletes(spark, t, job_id="pr1-purge")
    t = t.refresh()
    assert res.rewritten_files > 0
    assert t.delete_files() == []
    assert _ids(scan(spark, t)) == before


def test_pos_delete_on_empty_plan_is_noop(spark, tmp_path):
    """delete_positions_where over a predicate whose scan plans zero files
    (fresh empty table) returns a graceful zero-key no-op like the
    equality twin — not an unresolved-__fp crash."""
    t = jobs.create_images_table(str(tmp_path / "tb"))
    res = deletes.delete_positions_where(
        spark, t, F.col("image_id") < "img_zzz", job_id="pe1"
    )
    assert res.n_keys == 0 and res.snapshot_id is None


def test_scan_file_paths_prunes_to_named_files(spark, tmp_path):
    from nessie_spark.lakehouse.scan import plan_files

    t, _ = make_table(spark, str(tmp_path / "tb"))
    ents = plan_files(t)
    one = ents[0]
    df = scan(spark, t, with_pos=True, file_paths={one["file_path"]})
    got = {r["__fp"] for r in df.select("__fp").distinct().collect()}
    assert got == {one["file_path"]}
    assert df.count() == one["record_count"]
