"""Python Data Source API binding (sources/spark_datasource.py):
format("nessie") batch read parity + pushdown pruning + MoR subtraction,
append-only write through the manifest commit protocol, and the
snapshot-log streaming source (exactly-once, rewrite-skip, change-commit
guard)."""

import os

import pyspark.sql.functions as F
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import compact, deletes, evolve, jobs
from nessie_spark.lakehouse.scan import scan
from nessie_spark.sources import spark_datasource as DS
from nessie_spark.sources.spark_datasource import NessieBatchReader
from tests.conftest import make_table


def _ids(df):
    return {r.image_id for r in df.select("image_id").collect()}


@pytest.fixture()
def registered(spark):
    DS.register(spark)
    return spark


def test_batch_read_parity_with_scan(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    df = spark.read.format("nessie").load(t.root)
    assert _ids(df) == _ids(scan(spark, t))
    assert df.columns == scan(spark, t).columns


def test_batch_read_subtracts_mor_deletes(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(
        spark, t, F.col("image_id") < "img_000000000010", job_id="e1"
    )
    t = t.refresh()
    deletes.delete_positions_where(
        spark, t, F.col("image_id") == "img_000000000050", job_id="p1"
    )
    t = t.refresh()
    df = spark.read.format("nessie").load(t.root)
    assert _ids(df) == _ids(scan(spark, t))
    assert df.count() == 256 - 10 - 1


def test_pushdown_prunes_partitions(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    # engine-level check: a pushed point lookup plans fewer file partitions
    full = NessieBatchReader({"path": t.root})
    n_all = len(full.partitions())
    pruned = NessieBatchReader({"path": t.root})
    from pyspark.sql.datasource import EqualTo

    unhandled = list(
        pruned.pushFilters([EqualTo(("image_id",), "img_000000000005")])
    )
    assert len(unhandled) == 1  # every filter re-applied by Spark
    assert len(pruned.partitions()) < n_all
    # end-to-end: the lookup still returns exactly its row
    row = (
        spark.read.format("nessie").load(t.root)
        .where(F.col("image_id") == "img_000000000005")
    )
    assert row.count() == 1


def test_read_after_rename_projects_old_files(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    evolve.rename_column(t, "caption", "description")
    t = t.refresh()
    df = spark.read.format("nessie").load(t.root)
    assert "description" in df.columns and "caption" not in df.columns
    assert df.where(F.col("description").isNotNull()).count() == 256


def test_write_appends_through_commit_protocol(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    extra = synth.images_df(spark, 8, seed=9).withColumn(
        "image_id", F.concat(F.lit("w-"), F.col("image_id"))
    )
    extra.write.format("nessie").mode("append").option("job_id", "w1").save(t.root)
    t = t.refresh()
    assert scan(spark, t).count() == 264
    # snapshot log records an ordinary append (usable by every engine op)
    assert t.snapshot()["operation"] == "append"
    # committed job_id re-run is a metadata no-op
    extra.write.format("nessie").mode("append").option("job_id", "w1").save(t.root)
    assert scan(spark, t.refresh()).count() == 264


def test_write_rejects_overwrite_and_unknown_columns(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    extra = synth.images_df(spark, 4, seed=9)
    with pytest.raises(Exception, match="append-only"):
        extra.write.format("nessie").mode("overwrite").save(t.root)
    with pytest.raises(Exception, match="not in table schema"):
        extra.withColumn("rogue", F.lit(1)).write.format("nessie").mode(
            "append"
        ).save(t.root)
    assert scan(spark, t.refresh()).count() == 256


def test_write_rejects_frame_missing_stats_or_spec_columns(registered, tmp_path):
    """A frame without a column the file stats or the partition spec read
    is refused before any task writes a file."""
    spark = registered
    t = jobs.create_images_table(
        str(tmp_path / "tb" / "images"),
        properties={"partition-spec": [{"source": "fmt", "transform": "identity"}]},
    )
    df = synth.images_df(spark, 8, seed=9)
    for col in ("phash", "fmt"):
        with pytest.raises(Exception, match=rf"lacks columns \['{col}'\]"):
            df.drop(col).write.format("nessie").mode("append").save(t.root)
    data = os.path.join(t.root, "data")
    assert not os.path.isdir(data) or os.listdir(data) == []


def _drain(spark, root, out, ckpt, **opts):
    reader = spark.readStream.format("nessie")
    for k, v in opts.items():
        reader = reader.option(k, v)
    sdf = reader.load(root).select("image_id")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_source_exactly_once_and_rewrite_skip(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, t.root, out, ckpt, startingSnapshot="earliest")
    assert spark.read.parquet(out).count() == 256
    extra = synth.images_df(spark, 20, seed=9).withColumn(
        "image_id", F.concat(F.lit("n-"), F.col("image_id"))
    )
    jobs.append(spark, t.refresh(), extra, job_id="i2")
    # a pure rewrite between appends must contribute ZERO stream rows
    compact.compact(spark, t.refresh(), target_bytes=1 << 20, job_id="c1")
    _drain(spark, t.root, out, ckpt, startingSnapshot="earliest")
    got = spark.read.parquet(out)
    assert got.count() == 276 and got.distinct().count() == 276
    # replay with no new snapshot drains nothing
    _drain(spark, t.root, out, ckpt, startingSnapshot="earliest")
    assert spark.read.parquet(out).count() == 276


def test_stream_source_guards_row_changing_commits(registered, tmp_path):
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    deletes.delete_where(
        spark, t, F.col("image_id") < "img_000000000005", job_id="d1"
    )
    with pytest.raises(Exception, match="row-changing"):
        _drain(
            spark, t.root, str(tmp_path / "o1"), str(tmp_path / "c1"),
            startingSnapshot="earliest",
        )
    # skipChangeCommits crosses it, emitting only the append snapshots
    _drain(
        spark, t.root, str(tmp_path / "o2"), str(tmp_path / "c2"),
        startingSnapshot="earliest", skipChangeCommits="true",
    )
    assert spark.read.parquet(str(tmp_path / "o2")).count() == 256


def test_stream_sink_nessie_to_nessie_exactly_once(registered, tmp_path):
    """writeStream.format("nessie"): source table → sink table pipeline;
    each micro-batch commits one atomic snapshot, replays drain nothing."""
    spark = registered
    ts, _ = make_table(spark, str(tmp_path / "src"))
    td = jobs.create_images_table(str(tmp_path / "dst" / "images"))
    ckpt = str(tmp_path / "ckpt")

    def pump():
        sdf = (
            spark.readStream.format("nessie")
            .option("startingSnapshot", "earliest")
            .load(ts.root)
        )
        q = (
            sdf.writeStream.format("nessie")
            .option("path", td.root)
            .option("job_id", "repl")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    pump()
    assert scan(spark, td.refresh()).count() == 256
    extra = synth.images_df(spark, 15, seed=9).withColumn(
        "image_id", F.concat(F.lit("n-"), F.col("image_id"))
    )
    jobs.append(spark, ts.refresh(), extra, job_id="i2")
    pump()
    assert scan(spark, td.refresh()).count() == 271
    pump()  # nothing new: replay must be a no-op
    td = td.refresh()
    assert scan(spark, td).count() == 271
    assert _ids(scan(spark, td)) == _ids(scan(spark, ts.refresh()))


def test_stream_sink_commit_replay_short_circuits(registered, tmp_path):
    """A re-delivered commit(batchId) (sink-commit crash before the
    checkpoint recorded it) must not double the rows."""
    spark = registered
    td = jobs.create_images_table(str(tmp_path / "dst" / "images"))
    w = DS.NessieStreamArrowWriter(
        {"path": td.root, "job_id": "s1"}, td.meta["schema"], None
    )
    tbl = synth.images_df(spark, 6, seed=3).toArrow()
    from nessie_spark.lakehouse.writer import arrow_schema_from_ddl, write_slices
    from nessie_spark.sources.spark_datasource import _CommitMsg

    msg = _CommitMsg(entries=write_slices(
        tbl, td.root, "s1-sw-test-p00000", schema=arrow_schema_from_ddl(td.meta["schema"])
    ))
    w.commit([msg], 0)
    assert scan(spark, td.refresh()).count() == 6
    w.commit([msg], 0)  # replay
    td = td.refresh()
    assert scan(spark, td).count() == 6
    assert len(td.meta["snapshots"]) == 1


def test_batch_read_time_travel_options(registered, tmp_path):
    spark = registered
    t, snap1 = make_table(spark, str(tmp_path / "tb"))
    t.create_tag("v1", snap1)
    extra = synth.images_df(spark, 10, seed=9).withColumn(
        "image_id", F.concat(F.lit("n-"), F.col("image_id"))
    )
    jobs.append(spark, t.refresh(), extra, job_id="i2")
    assert (
        spark.read.format("nessie")
        .option("snapshotId", snap1)
        .load(t.root)
        .count()
        == 256
    )
    assert (
        spark.read.format("nessie").option("ref", "v1").load(t.root).count() == 256
    )
    assert spark.read.format("nessie").load(t.root).count() == 266


def test_batch_read_of_empty_table(registered, tmp_path):
    """Zero planned files: Spark probes one default None partition — the
    reader must yield nothing, not crash."""
    spark = registered
    t = jobs.create_images_table(str(tmp_path / "tb" / "images"))
    df = spark.read.format("nessie").load(t.root)
    assert df.count() == 0 and len(df.columns) == 7


def test_sql_using_nessie_view(registered, tmp_path):
    """SQL-only users: CREATE TEMPORARY VIEW ... USING nessie resolves the
    registered Python data source, with pushdown intact."""
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW nessie_imgs USING nessie "
        f"OPTIONS (path '{t.root}')"
    )
    assert spark.sql("SELECT count(*) c FROM nessie_imgs").collect()[0].c == 256
    assert (
        spark.sql(
            "SELECT caption FROM nessie_imgs "
            "WHERE image_id = 'img_000000000003'"
        ).count()
        == 1
    )
    spark.catalog.dropTempView("nessie_imgs")


def test_write_committed_job_id_never_rewrites_files(registered, tmp_path):
    """Re-running a committed job_id with DIFFERENT data must not touch
    the table: no file writes launch (pre-write marker check), no rows
    change, and the committed files' bytes stay what the first run wrote."""
    import os as _os

    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    d1 = synth.images_df(spark, 8, seed=9).withColumn(
        "image_id", F.concat(F.lit("w-"), F.col("image_id"))
    )
    d1.write.format("nessie").mode("append").option("job_id", "w1").save(t.root)
    t = t.refresh()
    files_before = {
        e["file_path"]: _os.path.getsize(_os.path.join(t.root, e["file_path"]))
        for e in t.file_entries().to_pylist()
    }
    d2 = synth.images_df(spark, 30, seed=77).withColumn(
        "image_id", F.concat(F.lit("other-"), F.col("image_id"))
    )
    d2.write.format("nessie").mode("append").option("job_id", "w1").save(t.root)
    t = t.refresh()
    assert scan(spark, t).count() == 264  # unchanged
    files_after = {
        e["file_path"]: _os.path.getsize(_os.path.join(t.root, e["file_path"]))
        for e in t.file_entries().to_pylist()
    }
    assert files_after == files_before


def test_write_honors_partition_spec(registered, tmp_path):
    """Datasource writes on a spec'd table keep the engine invariant: one
    file per partition value, pval stamped in the manifest entry."""
    spark = registered
    t = jobs.create_images_table(
        str(tmp_path / "tb" / "images"),
        properties={"partition-spec": [{"source": "fmt", "transform": "identity"}]},
    )
    df = synth.images_df(spark, 48, seed=42)
    df.write.format("nessie").mode("append").option("job_id", "w1").save(t.root)
    t = t.refresh()
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    assert ents and all(e["partition"].startswith("fmt=") for e in ents)
    # partition-pinned scan prunes to the png files only and stays correct
    png_native = scan(spark, t).where(F.col("fmt") == "png")
    png_pruned = scan(spark, t, source_eq={"fmt": "png"})
    assert _ids(png_pruned) == _ids(png_native)


def test_stream_sink_requires_job_id(registered, tmp_path):
    spark = registered
    ts, _ = make_table(spark, str(tmp_path / "src"))
    td = jobs.create_images_table(str(tmp_path / "dst" / "images"))
    sdf = (
        spark.readStream.format("nessie")
        .option("startingSnapshot", "earliest")
        .load(ts.root)
    )
    with pytest.raises(Exception, match="job_id"):
        q = (
            sdf.writeStream.format("nessie")
            .option("path", td.root)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_stream_source_numeric_starting_snapshot_is_inclusive(
    registered, tmp_path
):
    """option("startingSnapshot", <id>) streams FROM that snapshot
    inclusive — the same boundary convention as "earliest"."""
    spark = registered
    t, snap1 = make_table(spark, str(tmp_path / "tb"))
    extra = synth.images_df(spark, 10, seed=9).withColumn(
        "image_id", F.concat(F.lit("n-"), F.col("image_id"))
    )
    jobs.append(spark, t.refresh(), extra, job_id="i2")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, t.root, out, ckpt, startingSnapshot=str(snap1))
    # includes snap1's 256 rows AND the later append
    assert spark.read.parquet(out).count() == 266


def test_stream_source_projects_pre_rename_appends(registered, tmp_path):
    """Appends that predate a rename must stream under the NEW name
    (field-id projection at the batch-end snapshot)."""
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    evolve.rename_column(t, "caption", "description")
    t = t.refresh()
    extra = (
        synth.images_df(spark, 10, seed=9)
        .withColumn("image_id", F.concat(F.lit("n-"), F.col("image_id")))
        .withColumnRenamed("caption", "description")
    )
    jobs.append(spark, t, extra, job_id="i2")
    sdf = (
        spark.readStream.format("nessie")
        .option("startingSnapshot", "earliest")
        .load(t.root)
        .select("image_id", "description")
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 266
    assert got.where(F.col("description").isNotNull()).count() == 266


def test_pushed_filters_correct_with_and_without_pos_deletes(
    registered, tmp_path
):
    """Pushed predicates reach the pyarrow read (row-group skipping) only
    on files with no positional deletes; results are identical either
    way because Spark re-applies every filter."""
    spark = registered
    t, _ = make_table(spark, str(tmp_path / "tb"))
    pred = F.col("image_id").between("img_000000000020", "img_000000000080")
    before = _ids(spark.read.format("nessie").load(t.root).where(pred))
    assert len(before) == 61
    deletes.delete_positions_where(
        spark, t, F.col("image_id") == "img_000000000030", job_id="p1"
    )
    t = t.refresh()
    after = _ids(spark.read.format("nessie").load(t.root).where(pred))
    assert after == before - {"img_000000000030"}
