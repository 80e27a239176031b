"""Rename/drop schema evolution through the field-id model (fields.py):
metadata-only commits, id-based reads, no-resurrection on re-add, and every
maintenance rewrite preserving (and normalizing) renamed columns.

Reference parity note: the reference engine has no table format at all;
this mirrors the Iceberg spec's schema-evolution guarantees (immutable
field ids, fresh id on re-add) the way the rest of lakehouse/ mirrors its
snapshot/manifest model.
"""

import pytest
from pyspark.sql import functions as F

from nessie_spark import synth
from nessie_spark.lakehouse import compact, evolve, jobs, merge, zorder
from nessie_spark.lakehouse.deletes import delete_where, purge_deletes
from nessie_spark.lakehouse.changelog import scan_changelog
from nessie_spark.lakehouse.fields import live_projection_maps
from nessie_spark.lakehouse.scan import scan, scan_incremental
from tests.conftest import PLACEMENTS, assert_same_on_every_placement, make_table, placed


def _renamed_table(spark, root, n=96):
    """Table with pre-rename files, a rename, then post-rename appends."""
    t, s1 = make_table(spark, root, n=n, mean_rows=12)
    captions = {
        r.image_id: r.caption
        for r in scan(spark, t).select("image_id", "caption").collect()
    }
    evolve.rename_column(t, "caption", "description")
    t = t.refresh()
    new = (
        synth.images_df(spark, 32, seed=9)
        .withColumnRenamed("caption", "description")
        .withColumn("image_id", F.concat(F.lit("n-"), "image_id"))
    )
    jobs.append(spark, t, new, job_id="post-rename")
    t = t.refresh()
    captions.update(
        {r.image_id: r.description for r in new.select("image_id", "description").collect()}
    )
    return t, s1, captions


def _descriptions(spark, t, **scan_kw):
    return {
        r.image_id: r.description
        for r in scan(spark, t, **scan_kw).select("image_id", "description").collect()
    }


def test_rename_reads_old_files_under_new_name(spark, tmp_path):
    t, s1, expected = _renamed_table(spark, str(tmp_path / "t"))
    assert _descriptions(spark, t) == expected
    # time travel to the pre-rename snapshot presents the OLD name
    old = scan(spark, t, snapshot_id=s1)
    assert "caption" in old.columns and "description" not in old.columns


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t, _, _ = _renamed_table(spark, str(tmp_path / "t"))
    evolve.drop_column(t, "description")
    t = t.refresh()
    assert "description" not in scan(spark, t).columns
    evolve.add_column(t, "description", "string")
    t = t.refresh()
    df = scan(spark, t)
    # every file physically stores old description bytes; the fresh field
    # id must see NONE of them
    assert df.where("description is not null").count() == 0
    assert df.count() == 128


def test_guards(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "t"), n=24, mean_rows=12)
    for col in ("image_id", "bytes", "phash"):
        with pytest.raises(ValueError, match="reserved"):
            evolve.rename_column(t.refresh(), col, "x")
        with pytest.raises(ValueError, match="reserved"):
            evolve.drop_column(t.refresh(), col)
    with pytest.raises(ValueError, match="does not exist"):
        evolve.rename_column(t.refresh(), "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        evolve.rename_column(t.refresh(), "caption", "phash")
    # partition-spec source refusal (caption: evolvable but spec-active)
    evolve.set_partition_spec(
        t.refresh(), [{"source": "caption", "transform": "identity"}]
    )
    t = t.refresh()
    with pytest.raises(ValueError, match="partition-spec"):
        evolve.drop_column(t, "caption")
    with pytest.raises(ValueError, match="partition-spec"):
        evolve.rename_column(t.refresh(), "caption", "desc")


def test_compact_preserves_and_normalizes(spark, tmp_path):
    t, _, expected = _renamed_table(spark, str(tmp_path / "t"))
    r = compact.compact(spark, t, target_bytes=1 << 20, job_id="c1")
    assert r.snapshot_id is not None
    t = t.refresh()
    assert _descriptions(spark, t) == expected
    # normalization: every rewritten file now carries current names, so no
    # live file needs a remap anymore (evolution debt amortized to zero)
    assert live_projection_maps(t) == {}


def test_zorder_preserves_renamed_column(spark, tmp_path):
    t, _, expected = _renamed_table(spark, str(tmp_path / "t"))
    r = zorder.cluster(spark, t, target_bytes=1 << 20, job_id="z1")
    assert r.snapshot_id is not None
    t = t.refresh()
    assert _descriptions(spark, t) == expected
    assert live_projection_maps(t) == {}


def test_merge_after_rename(spark, tmp_path):
    t, _, expected = _renamed_table(spark, str(tmp_path / "t"))
    victims = sorted(expected)[:4]
    src = (
        scan(spark, t)
        .where(F.col("image_id").isin(victims))
        .withColumn("description", F.concat(F.lit("UPD:"), "description"))
    )
    r = merge.merge_into(spark, t, src, job_id="m1")
    assert r.snapshot_id is not None
    t = t.refresh()
    got = _descriptions(spark, t)
    for v in victims:
        assert got[v] == "UPD:" + expected[v]
    for k in set(expected) - set(victims):
        assert got[k] == expected[k]


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_purge_deletes_after_rename(spark, tmp_path, placement):
    t, _, expected = _renamed_table(spark, str(tmp_path / "t"))
    victims = sorted(expected)[:6]
    delete_where(spark, t, F.col("image_id").isin(victims), job_id="d1")
    t = t.refresh()
    with placed(spark, placement):
        r = purge_deletes(spark, t, job_id="p1")
    assert r.snapshot_id is not None
    t = t.refresh()
    got = _descriptions(spark, t)
    assert set(got) == set(expected) - set(victims)
    for k, v in got.items():
        assert v == expected[k]
    assert_same_on_every_placement("rename-purge", t)


def test_changelog_and_incremental_across_rename(spark, tmp_path):
    t, s1, expected = _renamed_table(spark, str(tmp_path / "t"))
    inc = scan_incremental(spark, t, from_snapshot_id=s1)
    assert "description" in inc.columns
    assert inc.count() == 32 and inc.where("description is null").count() == 0
    ch = scan_changelog(spark, t, from_snapshot_id=s1)
    ins = ch.where("_change_type = 'insert'")
    assert ins.count() == 32
    assert ins.where("description is null").count() == 0


def test_snapshot_isolation_row_sets_across_evolution(spark, tmp_path):
    """north_rule invariant: pure maintenance after evolution keeps the
    pinned snapshot's row set byte-identical under ITS schema."""
    t, s1, _ = _renamed_table(spark, str(tmp_path / "t"))
    pre = {
        (r.image_id, r.caption)
        for r in scan(spark, t, snapshot_id=s1).select("image_id", "caption").collect()
    }
    compact.compact(spark, t, target_bytes=1 << 20, job_id="c1")
    t = t.refresh()
    post = {
        (r.image_id, r.caption)
        for r in scan(spark, t, snapshot_id=s1).select("image_id", "caption").collect()
    }
    assert pre == post


def test_widen_column_int_to_long(spark, tmp_path):
    """Widening reads old int32 files as long (per-group cast) and keeps
    every stored value; illegal changes are refused."""
    t, _ = make_table(spark, str(tmp_path / "t"), n=48, mean_rows=12)
    evolve.add_column(t, "quality", "int")
    t = t.refresh()
    a = (
        synth.images_df(spark, 16, seed=5)
        .withColumn("image_id", F.concat(F.lit("a-"), "image_id"))
        .withColumn("quality", F.length("caption").cast("int"))
    )
    jobs.append(spark, t, a, job_id="wa")
    t = t.refresh()
    expected = {r.image_id: r.quality for r in a.select("image_id", "quality").collect()}
    evolve.widen_column(t, "quality", "long")
    t = t.refresh()
    df = scan(spark, t)
    assert dict(df.dtypes)["quality"] == "bigint"
    got = {r.image_id: r.quality for r in df.where("quality is not null").collect()}
    assert got == expected
    # post-widen appends store long; mixed-width file set reads uniformly
    b = (
        synth.images_df(spark, 8, seed=6)
        .withColumn("image_id", F.concat(F.lit("b-"), "image_id"))
        .withColumn("quality", (F.length("caption") + F.lit(3_000_000_000)).cast("long"))
    )
    jobs.append(spark, t, b, job_id="wb")
    t = t.refresh()
    expected.update({r.image_id: r.quality for r in b.select("image_id", "quality").collect()})
    got = {
        r.image_id: r.quality
        for r in scan(spark, t).where("quality is not null").collect()
    }
    assert got == expected
    # compaction normalizes the int32 files to long
    compact.compact(spark, t, target_bytes=1 << 20, job_id="wc")
    t = t.refresh()
    got = {
        r.image_id: r.quality
        for r in scan(spark, t).where("quality is not null").collect()
    }
    assert got == expected
    assert live_projection_maps(t) == {}
    # refusals: narrowing, cross-family, reserved
    with pytest.raises(ValueError, match="legal widenings"):
        evolve.widen_column(t.refresh(), "quality", "int")
    with pytest.raises(ValueError, match="legal widenings"):
        evolve.widen_column(t.refresh(), "description" if "description" in scan(spark, t).columns else "caption", "long")
    with pytest.raises(ValueError, match="reserved"):
        evolve.widen_column(t.refresh(), "w", "long")
