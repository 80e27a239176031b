"""Add-column schema evolution: metadata-only commit, NULL-backfill reads,
snapshot-pinned schemas, and maintenance rewrites over mixed-schema files."""

import pytest
from pyspark.sql import functions as F

from nessie_spark import synth
from nessie_spark.lakehouse import compact, evolve, jobs, zorder
from nessie_spark.lakehouse.scan import scan
from tests.conftest import make_table


def _evolved_table(spark, root):
    t, s1 = make_table(spark, root, n=96, mean_rows=12)
    evolve.add_column(t, "quality", "long")
    t = t.refresh()
    newdf = (
        synth.images_df(spark, 32, seed=9)
        .withColumn("image_id", F.concat(F.lit("q-"), "image_id"))
        .withColumn("quality", F.length("caption").cast("long"))
    )
    jobs.append(spark, t, newdf, job_id="q-append")
    expected = {
        r["image_id"]: r["quality"]
        for r in newdf.select("image_id", "quality").collect()
    }
    return t.refresh(), s1, expected


def _assert_quality(spark, t, expected):
    df = scan(spark, t)
    assert df.count() == 128
    got = {
        r["image_id"]: r["quality"]
        for r in df.where("quality is not null").collect()
    }
    assert got == expected


def test_add_column_is_metadata_only_and_backfills(spark, tmp_path):
    t, s1, _ = _evolved_table(spark, str(tmp_path / "images"))
    df = scan(spark, t)
    assert "quality" in df.columns
    assert df.where("quality is not null").count() == 32  # only the new append
    # pinned pre-evolution read keeps the old schema (snapshot-recorded)
    assert "quality" not in scan(spark, t, snapshot_id=s1).columns
    ops = [s["operation"] for s in t.meta["snapshots"]]
    assert "set-schema" in ops


def test_add_column_validation(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "images"), n=24, mean_rows=12)
    with pytest.raises(ValueError, match="already exists"):
        evolve.add_column(t, "phash", "long")
    with pytest.raises(ValueError, match="unsupported type"):
        evolve.add_column(t, "embedding", "array<float>")
    with pytest.raises(ValueError, match="not in table schema"):
        jobs.append(
            spark, t, synth.images_df(spark, 4, seed=1).withColumn("oops", F.lit(1))
        )


def test_compact_preserves_evolved_column(spark, tmp_path):
    t, _, expected = _evolved_table(spark, str(tmp_path / "images"))
    res = compact.compact(spark, t, target_bytes=1 << 20, job_id="qc")
    assert res.snapshot_id is not None
    _assert_quality(spark, t.refresh(), expected)


def test_zorder_preserves_evolved_column(spark, tmp_path):
    t, _, expected = _evolved_table(spark, str(tmp_path / "images"))
    zorder.cluster(spark, t, target_bytes=1 << 20, job_id="qz")
    _assert_quality(spark, t.refresh(), expected)


def test_merge_on_evolved_table_requires_full_schema(spark, tmp_path):
    from nessie_spark.lakehouse import merge

    t, _, expected = _evolved_table(spark, str(tmp_path / "images"))
    narrow = scan(spark, t).limit(4).drop("quality")
    with pytest.raises(ValueError, match="lacks table columns"):
        merge.merge_into(spark, t, narrow, job_id="qm-narrow")
    ids = [f"q-img_{i:012d}" for i in range(4)]
    src = (
        scan(spark, t)
        .where(F.col("image_id").isin(ids))
        .withColumn("caption", F.concat("caption", F.lit(" (edited)")))
        .withColumn("quality", F.col("quality") + 1000)
    )
    src_expect = {
        r["image_id"]: r["quality"] + 1000
        for r in scan(spark, t).where(F.col("image_id").isin(ids)).collect()
    }
    res = merge.merge_into(spark, t, src, job_id="qm-full")
    assert res.updated == 4
    t = t.refresh()
    got = {
        r["image_id"]: r["quality"]
        for r in scan(spark, t)
        .where(F.col("caption").endswith("(edited)"))
        .collect()
    }
    assert got == src_expect
    # non-merged rows keep their original quality (or null)
    assert scan(spark, t).where("quality is not null").count() == 32
