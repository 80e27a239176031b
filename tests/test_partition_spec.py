"""Hidden partitioning (lakehouse/partition.py): spec-driven write split,
tier-0 partition pruning in scan planning (driver + distributed planners),
and partition preservation through compaction and clustering.

Contract under test: data files never span partition values; pruning never
drops a matching row (pre-spec "" files always survive); maintenance
rewrites stamp partition values so pruning keeps working after them.
"""

import collections
import os

import pyarrow.parquet as pq
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import jobs
from nessie_spark.lakehouse.compact import compact
from nessie_spark.lakehouse.partition import (
    entry_matches, expected_segments, transform_py, validate_spec,
)
from nessie_spark.lakehouse.scan import plan_files, scan
from nessie_spark.lakehouse.zorder import cluster, cluster_incremental
from nessie_spark.plans import ffd
from nessie_spark.plans.ffd import ffd_pack_distributed
from tests.conftest import (
    PLACEMENTS,
    assert_same_on_every_placement,
    crash_after,
    on_spark,
    placed,
    spark_jobs,
)

FMT_SPEC = [{"source": "fmt", "transform": "identity"}]


def _make(spark, root, spec, n=400, seed=7, job_id="a1"):
    t = jobs.create_images_table(root, properties={"partition-spec": spec})
    df = synth.images_df(spark, n, seed=seed)
    jobs.append(spark, t, df, job_id=job_id)
    return t.refresh(), df


def _file_fmts(t, path):
    return set(
        pq.read_table(os.path.join(t.root, path), columns=["fmt"])
        .column("fmt").to_pylist()
    )


def test_spec_validation_rejects_bad_fields():
    with pytest.raises(ValueError, match="transform"):
        validate_spec([{"source": "fmt", "transform": "year"}])
    with pytest.raises(ValueError, match="bucket"):
        validate_spec([{"source": "phash", "transform": "bucket", "n": 0}])
    with pytest.raises(ValueError, match="duplicate"):
        validate_spec([
            {"source": "fmt", "transform": "identity"},
            {"source": "fmt", "transform": "truncate", "width": 2},
        ])


def test_partitioned_append_files_never_span_values(spark, tmp_path):
    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC)
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    vals = collections.Counter(e["partition"] for e in ents)
    assert set(vals) == {"fmt=png", "fmt=jpeg"}
    for e in ents:
        fmts = _file_fmts(t, e["file_path"])
        assert len(fmts) == 1
        assert e["partition"] == f"fmt={next(iter(fmts))}"

    # $partitions metadata table reconciles with the manifest entries
    parts = {p.partition: p for p in t.partitions_df(spark).collect()}
    assert set(parts) == {"fmt=png", "fmt=jpeg"}
    for val, p in parts.items():
        assert p.file_count == vals[val]
    assert sum(p.record_count for p in parts.values()) == 400


def test_partition_pruning_drops_files_and_keeps_rows(spark, tmp_path):
    t, df = _make(spark, str(tmp_path / "tb"), FMT_SPEC)
    all_ents = t.file_entries(columns=["file_path"]).num_rows
    group = f"part-plan-{id(tmp_path)}"
    with spark_jobs(spark, f"{group}-drv") as drv_jobs:
        pruned = plan_files(t, source_eq={"fmt": "png"}, spark=spark)
    assert 0 < len(pruned) < all_ents and drv_jobs == []
    got = scan(spark, t, source_eq={"fmt": "png"}).count()
    assert got == df.where("fmt = 'png'").count()
    # distributed planner agrees file-for-file with the driver planner
    with on_spark(spark), spark_jobs(spark, f"{group}-dist") as dist_jobs:
        dist = plan_files(t, source_eq={"fmt": "png"}, spark=spark)
    assert dist_jobs
    assert sorted(e["file_path"] for e in dist) == sorted(
        e["file_path"] for e in pruned
    )


def test_file_boundaries_append_keeps_the_spec(spark, tmp_path):
    """The small-file fixture layout on a spec'd table: a group of rows
    that spans values is one file per value, every entry names its value,
    and ``source_eq`` plans only the matching files."""
    t = jobs.create_images_table(
        str(tmp_path / "tb"), properties={"partition-spec": FMT_SPEC}
    )
    df = synth.images_df(spark, 120, seed=7)
    jobs.append(spark, t, df, job_id="ingest", file_boundaries=list(range(12, 121, 12)))
    t = t.refresh()
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    assert len(ents) > 10  # some of the 10 groups held both formats
    for e in ents:
        assert e["partition"] in ("fmt=png", "fmt=jpeg")
        assert _file_fmts(t, e["file_path"]) == {e["partition"][len("fmt="):]}
    png = sorted(e["file_path"] for e in ents if e["partition"] == "fmt=png")
    pruned = plan_files(t, source_eq={"fmt": "png"}, spark=spark)
    assert sorted(e["file_path"] for e in pruned) == png
    assert 0 < len(png) < len(ents)
    assert scan(spark, t).count() == 120
    got = scan(spark, t, source_eq={"fmt": "png"}).count()
    assert got == df.where("fmt = 'png'").count()


def test_bucket_transform_spark_python_twins_agree(spark, tmp_path):
    spec = [{"source": "phash", "transform": "bucket", "n": 8}]
    t, df = _make(spark, str(tmp_path / "tb"), spec)
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    # every file's rows hash to exactly the bucket its entry claims
    for e in ents:
        ph = pq.read_table(
            os.path.join(t.root, e["file_path"]), columns=["phash"]
        ).column("phash").to_pylist()
        buckets = {transform_py(spec[0], v) for v in ph}
        assert e["partition"] == f"phash_bucket={buckets.pop()}" and not buckets
    # point lookup through the transform prunes to one bucket's files
    some = df.select("phash").head(1)[0].phash
    pruned = plan_files(t, source_eq={"phash": some}, spark=spark)
    want_seg = expected_segments(spec, {"phash": some})
    assert all(entry_matches(e["partition"], want_seg) for e in pruned)
    assert len(pruned) < len(ents)
    rows = scan(spark, t, source_eq={"phash": some}).count()
    assert rows == df.where(df.phash == some).count() >= 1


def test_prespec_files_are_never_pruned(spark, tmp_path):
    # table created WITHOUT a spec, then the spec is added to properties:
    # old "" files must survive every partition-pruned plan
    root = str(tmp_path / "tb")
    t = jobs.create_images_table(root)
    jobs.append(spark, t, synth.images_df(spark, 120, seed=3), job_id="old")
    t = t.refresh()
    props = dict(t.meta.get("properties") or {})
    props["partition-spec"] = FMT_SPEC
    t.meta["properties"] = props
    t._write_version(t.version + 1, t.meta)
    t = t.refresh()
    jobs.append(spark, t, synth.images_df(spark, 120, seed=4), job_id="new")
    t = t.refresh()
    pruned = plan_files(t, source_eq={"fmt": "png"}, spark=spark)
    prespec = [e for e in pruned if e["partition"] == ""]
    assert prespec, "pre-spec files must survive partition pruning"
    got = scan(spark, t, source_eq={"fmt": "png"}).count()
    want = (
        synth.images_df(spark, 120, seed=3).union(synth.images_df(spark, 120, seed=4))
        .where("fmt = 'png'").count()
    )
    assert got == want


def test_compact_respects_partitions(spark, tmp_path):
    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=600)
    before = sorted(r.image_id for r in scan(spark, t).select("image_id").collect())
    r = compact(spark, t, target_bytes=1 << 22, job_id="c1")
    assert r.output_files >= 2  # at least one bin per partition value
    t = t.refresh()
    for e in t.file_entries(columns=["file_path", "partition"]).to_pylist():
        fmts = _file_fmts(t, e["file_path"])
        assert len(fmts) == 1 and e["partition"] == f"fmt={next(iter(fmts))}"
    after = sorted(r.image_id for r in scan(spark, t).select("image_id").collect())
    assert before == after


def test_cluster_full_and_incremental_respect_partitions(spark, tmp_path):
    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=500, seed=5)
    before = sorted(r.image_id for r in scan(spark, t).select("image_id").collect())
    r = cluster(spark, t, job_id="z1", target_bytes=1 << 21)
    t = t.refresh()
    ents = t.file_entries(
        columns=["file_path", "partition", "zorder_lo"]
    ).to_pylist()
    assert all(e["zorder_lo"] is not None for e in ents)
    assert all(e["partition"].startswith("fmt=") for e in ents)
    for e in ents:
        assert len(_file_fmts(t, e["file_path"])) == 1
    # idempotent rerun returns the committed snapshot
    assert cluster(spark, t, job_id="z1").snapshot_id == r.snapshot_id

    # fresh partitioned appends → incremental run clusters ONLY the delta
    jobs.append(spark, t, synth.images_df(spark, 150, seed=9), job_id="a2")
    t = t.refresh()
    ri = cluster_incremental(spark, t, job_id="zd1", target_bytes=1 << 21)
    assert 0 < ri.input_files < len(t.refresh().file_entries().to_pylist()) + ri.input_files
    t = t.refresh()
    ents2 = t.file_entries(columns=["file_path", "partition", "zorder_lo"]).to_pylist()
    assert all(e["zorder_lo"] is not None for e in ents2)
    assert all(e["partition"].startswith("fmt=") for e in ents2)
    after = sorted(r2.image_id for r2 in scan(spark, t).select("image_id").collect())
    want = sorted(
        before
        + [r3.image_id for r3 in synth.images_df(spark, 150, seed=9).select("image_id").collect()]
    )
    assert after == want
    # pruning still works post-maintenance
    pruned = plan_files(t, source_eq={"fmt": "jpeg"}, spark=spark)
    assert 0 < len(pruned) < len(ents2)


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_merge_and_purge_preserve_partitions(spark, tmp_path, placement):
    """MERGE INTO re-derives partition values for rewritten rows;
    purge_deletes' 1:1 rewrites inherit the input file's value — a
    partitioned table stays fully prunable through its DML lifecycle."""
    import pandas as pd

    from nessie_spark.lakehouse import merge
    from nessie_spark.lakehouse.deletes import delete_where, purge_deletes

    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=300, seed=11)
    rows = [synth.row_for(11, i) for i in range(0, 300, 15)]
    for r in rows:
        r["caption"] = r["caption"] + " (edited)"
    src = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGES_SCHEMA)
    merge.merge_into(spark, t, src, job_id="m1")
    t = t.refresh()
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    assert all(e["partition"].startswith("fmt=") for e in ents)
    for e in ents:
        fmts = _file_fmts(t, e["file_path"])
        assert len(fmts) == 1 and e["partition"] == f"fmt={next(iter(fmts))}"

    victim = scan(spark, t).select("image_id").head(3)
    ids = ", ".join(f"'{r.image_id}'" for r in victim)
    delete_where(spark, t, f"image_id IN ({ids})", job_id="d1")
    t = t.refresh()
    with placed(spark, placement):
        purge_deletes(spark, t, job_id="p1")
    t = t.refresh()
    ents2 = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    assert all(e["partition"].startswith("fmt=") for e in ents2)
    for e in ents2:
        fmts = _file_fmts(t, e["file_path"])
        assert len(fmts) == 1 and e["partition"] == f"fmt={next(iter(fmts))}"
    assert scan(spark, t).count() == 300 - 3
    assert_same_on_every_placement("partitioned-purge", t)


def test_health_signals_are_per_partition(spark, tmp_path):
    """A freshly-clustered partitioned table must read as ONE sorted run
    and ~zero overlap, not one run per partition value — otherwise maintain
    escalates to a pointless major rewrite right after clustering."""
    from nessie_spark.lakehouse.maintain import table_health

    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=500, seed=5)
    cluster(spark, t, job_id="z1", target_bytes=1 << 20)
    t = t.refresh()
    h = table_health(t)
    assert h.sorted_runs == 1
    assert h.zorder_overlap_pct == 0.0


def test_manifest_rewrite_groups_by_partition_and_tier1_prunes(spark, tmp_path):
    """rewrite_manifests on a spec'd table leads the range key with the
    partition value, so output manifests get single-value labels and a
    pinned scan drops them at tier 1 — before reading any entries."""
    from nessie_spark.lakehouse.manifest import rewrite_manifests
    from nessie_spark.lakehouse.scan import prune_manifest_summaries

    t, df = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=500, seed=13)
    rewrite_manifests(spark, t, target_manifests=8)  # bucket width 12.5% < jpeg share, so at least one jpeg-pure manifest forms
    t = t.refresh()
    mans = t.manifest_summaries()
    labeled = [m for m in mans if m.get("partition")]
    assert labeled, "partition-led range bucketing must label some manifests"
    from nessie_spark.lakehouse.partition import expected_segments

    expected = expected_segments(FMT_SPEC, {"fmt": "png"})
    kept = prune_manifest_summaries(mans, expected_partition=expected)
    dropped = len(mans) - len(kept)
    assert dropped >= 1, "a jpeg-only manifest must be dropped at tier 1"
    # row-level result still exact through the pruned plan
    got = scan(spark, t, source_eq={"fmt": "png"}).count()
    assert got == df.where("fmt = 'png'").count()


def test_multi_field_spec_and_spec_evolution(spark, tmp_path):
    """Multi-field specs compose (fmt identity + phash bucket); spec
    evolution via evolve.set_partition_spec re-partitions NEW writes only,
    keeps old files correct (never wrongly pruned), and clustering under
    the new spec regroups everything."""
    from nessie_spark.lakehouse.evolve import set_partition_spec

    spec2 = [
        {"source": "fmt", "transform": "identity"},
        {"source": "phash", "transform": "bucket", "n": 4},
    ]
    t, df = _make(spark, str(tmp_path / "tb"), spec2, n=300, seed=21)
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    assert all(
        e["partition"].startswith("fmt=") and "/phash_bucket=" in e["partition"]
        for e in ents
    )
    # pinning BOTH sources prunes deeper than pinning one
    one = plan_files(t, source_eq={"fmt": "png"}, spark=spark)
    some_phash = df.where("fmt = 'png'").select("phash").head(1)[0].phash
    both = plan_files(t, source_eq={"fmt": "png", "phash": some_phash}, spark=spark)
    assert 0 < len(both) <= len(one) < len(ents)
    got = scan(spark, t, source_eq={"fmt": "png", "phash": some_phash}).count()
    assert got == df.where((df.fmt == "png") & (df.phash == some_phash)).count() >= 1

    # evolve: replace with a single-field spec; old files keep old values
    set_partition_spec(t, FMT_SPEC)
    t = t.refresh()
    jobs.append(spark, t, synth.images_df(spark, 100, seed=22), job_id="a2")
    t = t.refresh()
    vals = {e["partition"] for e in t.file_entries(columns=["partition"]).to_pylist()}
    assert any("/phash_bucket=" in v for v in vals)  # old-spec files intact
    assert any(v.startswith("fmt=") and "/" not in v for v in vals)  # new spec
    want = (
        df.where("fmt = 'png'").count()
        + synth.images_df(spark, 100, seed=22).where("fmt = 'png'").count()
    )
    assert scan(spark, t, source_eq={"fmt": "png"}).count() == want
    # a full cluster regroups every file under the CURRENT spec
    cluster(spark, t, job_id="z-regroup", target_bytes=1 << 20)
    t = t.refresh()
    vals2 = {e["partition"] for e in t.file_entries(columns=["partition"]).to_pylist()}
    assert vals2 == {"fmt=png", "fmt=jpeg"}
    assert scan(spark, t, source_eq={"fmt": "png"}).count() == want

    # validation: unknown source column refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table schema"):
        set_partition_spec(t, [{"source": "nope", "transform": "identity"}])


def test_cluster_materializes_spec_on_all_prespec_table(spark, tmp_path):
    """set_partition_spec on an existing unpartitioned table + a full
    cluster must regroup EVERY file under the spec (review fix: the old
    gate skipped the partitioned path when no file had a value yet)."""
    from nessie_spark.lakehouse.evolve import set_partition_spec

    root = str(tmp_path / "tb")
    t = jobs.create_images_table(root)
    jobs.append(spark, t, synth.images_df(spark, 200, seed=31), job_id="a1")
    t = t.refresh()
    set_partition_spec(t, FMT_SPEC)
    t = t.refresh()
    cluster(spark, t, job_id="z1", target_bytes=1 << 20)
    t = t.refresh()
    vals = {e["partition"] for e in t.file_entries(columns=["partition"]).to_pylist()}
    assert vals == {"fmt=png", "fmt=jpeg"}
    pruned = plan_files(t, source_eq={"fmt": "jpeg"}, spark=spark)
    n_all = t.file_entries(columns=["file_path"]).num_rows
    assert 0 < len(pruned) < n_all
    assert scan(spark, t).count() == 200


def test_partitioned_cluster_resume_guards_plan_drift(spark, tmp_path):
    """A pinned partitioned full-rewrite plan must refuse to commit when
    the live set changed (review fix: an append after the crash would have
    silently vanished from the carried=[] commit)."""
    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=200, seed=33)
    # a real crash: the plan is pinned and the scatter unit has run
    with crash_after(1), pytest.raises(RuntimeError, match="injected"):
        cluster(spark, t, job_id="zcrash", target_bytes=1 << 20)
    # a file lands after the crash — full-rewrite resume must refuse
    jobs.append(spark, t, synth.images_df(spark, 40, seed=34), job_id="late")
    t = t.refresh()
    with pytest.raises(ValueError, match="NEW job_id"):
        cluster(spark, t, job_id="zcrash", target_bytes=1 << 20)


def test_null_partition_source_partitions_as_null_segment(spark, tmp_path):
    """NULL source values partition as the literal `null` segment on both
    the write and prune paths (review fix: NULL _pval crashed the writer)."""
    import pandas as pd

    t = jobs.create_images_table(
        str(tmp_path / "tb"), properties={"partition-spec": FMT_SPEC}
    )
    rows = [synth.row_for(41, i) for i in range(30)]
    for r in rows[:7]:
        r["fmt"] = None
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGES_SCHEMA)
    jobs.append(spark, t, df, job_id="a1")
    t = t.refresh()
    vals = {e["partition"] for e in t.file_entries(columns=["partition"]).to_pylist()}
    assert "fmt=null" in vals
    got = scan(spark, t, source_eq={"fmt": None}).count()
    assert got == 7


def test_spec_rejects_divergent_source_types(spark, tmp_path):
    """Float/boolean sources are refused: Spark cast('string') and Python
    str() render them differently, which would silently prune wrong."""
    from nessie_spark.lakehouse.evolve import add_column, set_partition_spec

    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=20, seed=51)
    add_column(t, "score", "double")
    t = t.refresh()
    with pytest.raises(ValueError, match="render identically"):
        set_partition_spec(t, [{"source": "score", "transform": "identity"}])


def test_streaming_ingest_into_partitioned_table(spark, tmp_path):
    """ingest_batch routes through jobs.append, so micro-batches land
    partition-pure on spec'd tables; replay stays a no-op."""
    from nessie_spark.streaming.ingest import ingest_batch

    root = str(tmp_path / "tb")
    jobs.create_images_table(root, properties={"partition-spec": FMT_SPEC})
    b0 = synth.images_df(spark, 60, seed=61)
    s1 = ingest_batch(root, "s", b0, batch_id=0)
    s2 = ingest_batch(root, "s", b0, batch_id=0)  # replay
    assert s1 == s2
    from nessie_spark.lakehouse.table import Table

    t = Table.load(root)
    ents = t.file_entries(columns=["file_path", "partition"]).to_pylist()
    assert ents and all(e["partition"].startswith("fmt=") for e in ents)
    for e in ents:
        assert len(_file_fmts(t, e["file_path"])) == 1
    assert scan(spark, t).count() == 60


def test_compact_distributed_planner_respects_partitions(
    spark, tmp_path, monkeypatch
):
    """The executor-side FFD planner packs per partition value too (one
    distributed pack per value; bins never mix values)."""
    t, _ = _make(spark, str(tmp_path / "tb"), FMT_SPEC, n=600, seed=71)
    before = scan(spark, t).count()
    packs = []

    def counted(*args, **kw):
        packs.append(kw.get("n_rows"))
        return ffd_pack_distributed(*args, **kw)

    monkeypatch.setattr(ffd, "ffd_pack_distributed", counted)
    with on_spark(spark):
        r = compact(spark, t, target_bytes=1 << 22, job_id="cd1")
    assert len(packs) == 2, "not one distributed pack per partition value"
    assert r.output_files >= 2
    t = t.refresh()
    for e in t.file_entries(columns=["file_path", "partition"]).to_pylist():
        fmts = _file_fmts(t, e["file_path"])
        assert len(fmts) == 1 and e["partition"] == f"fmt={next(iter(fmts))}"
    assert scan(spark, t).count() == before


def test_segment_metacharacters_are_escaped_in_both_twins(spark):
    """Values containing '/', '=', '%' must round-trip the segment encoding
    identically in Spark and Python — otherwise parse_partition splits on a
    value's own '/' and wrongly prunes (review fix)."""
    from nessie_spark.lakehouse.partition import (
        parse_partition, partition_value_col, transform_py,
    )

    fld = {"source": "caption", "transform": "identity"}
    crafted = ["a/b", "x=y", "50%", "mix/=%/end", "plain", None]
    df = spark.createDataFrame([(c,) for c in crafted], "caption string")
    got = [
        r.p for r in df.select(partition_value_col([fld]).alias("p")).collect()
    ]
    want = [f"caption={transform_py(fld, c)}" for c in crafted]
    assert got == want
    for pval, c in zip(got, crafted):
        segs = parse_partition(pval)
        assert list(segs) == ["caption"]  # the value's own '/'/'=' never split
        assert segs["caption"] == transform_py(fld, c)
