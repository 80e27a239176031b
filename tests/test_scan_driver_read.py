"""The driver read of ``scan()`` against its Spark read.

Plans whose data files total at most
``spark.sql.execution.arrow.localRelationThreshold`` (the byte limit of
``scan.on_driver``) are read with pyarrow on the driver and become a
``LocalRelation``; ``tests.conftest.on_spark`` sets both limits of the
rule to 0 and so forces the distributed plan and the Spark parquet read.
Both must return the same rows under the same schema. One small table
carries every read-side feature: an equality delete (and a key re-inserted
after it), a positional delete, a rename and a drop-then-re-add (so
pre-rename files store the old names), a tagged older snapshot and a
hidden-partition spec set after the first files were written.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nessie_spark import synth
from nessie_spark.lakehouse import deletes, evolve, jobs
from nessie_spark.lakehouse.scan import scan
from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA
from nessie_spark.lakehouse.writer import arrow_schema_from_ddl, stats_entry_for
from tests.conftest import make_table, on_spark, spark_jobs


def _renamed(df, label: str):
    return df.withColumnRenamed("caption", "description").withColumn(
        "label", F.lit(label)
    )


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    t, _ = make_table(
        spark, str(tmp_path_factory.mktemp("drv") / "images"), n=48, mean_rows=8
    )
    t.create_tag("v1")
    evolve.add_column(t, "label", "string")
    t = t.refresh()
    jobs.append(
        spark, t,
        synth.images_df(spark, 16, seed=7, partitions=2)
        .withColumn("image_id", F.concat(F.lit("x-"), "image_id"))
        .withColumn("label", F.lit("old")),
        job_id="x",
    )
    t = t.refresh()
    evolve.rename_column(t, "caption", "description")
    evolve.drop_column(t.refresh(), "label")
    evolve.add_column(t.refresh(), "label", "string")
    evolve.set_partition_spec(t.refresh(), [{"source": "fmt", "transform": "identity"}])
    t = t.refresh()
    deletes.delete_where(spark, t, F.col("image_id") < "img_000000000006", job_id="eq")
    t = t.refresh()
    s_eq = t.current_snapshot_id
    reborn = synth.images_df(spark, 8, seed=42).where(
        F.col("image_id") == "img_000000000003"
    ).withColumn("caption", F.lit("reborn"))
    jobs.append(
        spark, t,
        _renamed(
            synth.images_df(spark, 16, seed=9, partitions=2)
            .withColumn("image_id", F.concat(F.lit("y-"), "image_id"))
            .unionByName(reborn),
            "new",
        ),
        job_id="y",
    )
    t = t.refresh()
    deletes.delete_positions_where(
        spark, t, F.col("image_id") == "img_000000000020", job_id="pos"
    )
    return {"table": t.refresh(), "s_eq": s_eq}


CASES = {
    "full": lambda fx: {},
    "columns": lambda fx: {"columns": ["image_id", "description", "label"]},
    "key_eq_hit": lambda fx: {"key_eq": "img_000000000003", "columns": ["image_id", "description"]},
    "key_eq_miss": lambda fx: {"key_eq": "img_000000000999"},
    "key_range": lambda fx: {"key_range": ("img_000000000002", "img_000000000030")},
    "phash_range": lambda fx: {"phash_range": (-(1 << 62), 1 << 62), "columns": ["image_id"]},
    "wh_range": lambda fx: {"wh_range": (256, 1600), "columns": ["image_id", "w", "h"]},
    "source_eq": lambda fx: {"source_eq": {"fmt": "png"}, "columns": ["image_id", "label"]},
    "ref": lambda fx: {"ref": "v1"},
    "snapshot_id": lambda fx: {"snapshot_id": fx["s_eq"], "columns": ["description", "label"]},
}


def _both(spark, t, kw, group: str):
    """(rows, schema) from the driver read and from the forced Spark read;
    asserts that the driver read's collect() started no Spark job."""
    with spark_jobs(spark, group) as job_ids:
        df = scan(spark, t, **kw)
        driver = (sorted(df.collect(), key=repr), [(f.name, f.dataType) for f in df.schema])
    assert job_ids == [], "the driver read started a Spark job"
    with on_spark(spark):
        df = scan(spark, t, **kw)
        forced = (sorted(df.collect(), key=repr), [(f.name, f.dataType) for f in df.schema])
    return driver, forced


@pytest.mark.parametrize("case", list(CASES))
def test_driver_read_equals_spark_read(spark, fx, case):
    driver, forced = _both(spark, fx["table"], CASES[case](fx), f"drv-{case}-{id(fx)}")
    assert driver[1] == forced[1]
    assert driver[0] == forced[0]
    if case != "key_eq_miss":
        assert driver[0], "the case reads no row; it checks nothing"


def test_driver_read_semantics(spark, fx):
    """Spot checks that the shared rows are the right ones."""
    t = fx["table"]
    ids = {r.image_id for r in scan(spark, t, columns=["image_id"]).collect()}
    # 48 + 16 + 16 + 1 re-insert, minus 6 equality-deleted and 1 positional
    assert len(ids) == 74
    assert "img_000000000003" in ids and "img_000000000004" not in ids
    assert "img_000000000020" not in ids
    assert [tuple(r) for r in scan(
        spark, t, key_eq="img_000000000003", columns=["image_id", "description"]
    ).collect()] == [("img_000000000003", "reborn")]
    # the re-added label never shows the dropped column's data
    labels = {r.label for r in scan(spark, t, columns=["label"]).collect()}
    assert labels == {None, "new"}
    old = scan(spark, t, ref="v1")
    assert "caption" in old.columns and "label" not in old.columns
    assert old.count() == 48


def test_forced_spark_read_starts_jobs(spark, fx):
    kw = CASES["key_eq_hit"](fx)
    group = f"drv-forced-{id(fx)}"
    with on_spark(spark):
        with spark_jobs(spark, f"{group}-plan") as plan_jobs:
            df = scan(spark, fx["table"], **kw)
        assert df.inputFiles(), "the forced read is not a parquet scan"
        with spark_jobs(spark, f"{group}-read") as read_jobs:
            assert len(df.collect()) == 1
    assert plan_jobs, "the forced plan started no Spark job"
    assert read_jobs, "the forced Spark read started no Spark job"


def test_filter_emptying_a_row_group_keeps_later_rows(spark, tmp_path):
    """A pushed filter that empties a file's middle row group (its min/max
    span the range, none of its rows fall inside) leaves an empty Arrow
    chunk; createDataFrame stops at an empty batch that follows rows, so
    the driver read must drop it or lose every row after it."""
    t = jobs.create_images_table(str(tmp_path / "t"))
    ids = ["img_4", "img_5", "img_50", "img_6",  # all in range
           "img_0", "img_9", "img_1", "img_8",  # spans it, none in it
           "img_60", "img_61", "img_65", "img_7"]  # all in range
    rows = pa.Table.from_pylist(
        [
            {"image_id": k, "bytes": b"x", "w": 1, "h": 1, "fmt": "png",
             "caption": k, "phash": i}
            for i, k in enumerate(ids)
        ],
        schema=arrow_schema_from_ddl(t.meta["schema"]),
    )
    rel = "data/three-groups.parquet"
    pq.write_table(rows, os.path.join(t.root, rel), row_group_size=4)
    size = os.path.getsize(os.path.join(t.root, rel))
    t.commit("append", added=pa.Table.from_pylist(
        [stats_entry_for(rows, rel, size)], schema=FILE_ENTRY_SCHEMA))
    got = scan(spark, t.refresh(), key_range=("img_4", "img_7"), columns=["image_id"])
    want = sorted(ids[:4] + ids[8:])
    assert sorted(r.image_id for r in got.collect()) == want
