"""Table format: append/scan/stats/snapshot isolation + compaction +
Z-order goldens (SURVEY.md §5 engine tiers)."""

import os

import pyspark.sql.functions as F
import pytest

from nessie_spark.lakehouse import compact, zorder
from nessie_spark.lakehouse.scan import plan_files, scan
from nessie_spark.plans.ffd import ffd_pack
from tests.conftest import SMOKE_N


def test_append_rowcount(spark, table_small):
    t, snap = table_small
    assert scan(spark, t, snapshot_id=snap).count() == SMOKE_N


def test_stats_bound_file_contents(spark, table_small):
    """FIXTURES.md §2 golden: per-file min/max actually bound the rows."""
    t, _ = table_small
    entries = t.file_entries().to_pylist()
    for e in entries[:5]:
        df = spark.read.parquet(os.path.join(t.root, e["file_path"]))
        row = df.agg(
            F.min("phash").alias("mn"),
            F.max("phash").alias("mx"),
            F.min("image_id").alias("kn"),
            F.max("image_id").alias("kx"),
            F.count("*").alias("c"),
        ).collect()[0]
        assert row["mn"] == e["min_phash"] and row["mx"] == e["max_phash"]
        assert row["kn"] == e["min_key"] and row["kx"] == e["max_key"]
        assert row["c"] == e["record_count"]


def test_ffd_golden():
    """Hand-checkable FFD assignment (FIXTURES.md §1.1)."""
    sizes = [70, 50, 40, 30, 20, 10]
    bins = ffd_pack(sizes, 100)
    # FFD: 70+30, 50+40+10, 20  (first-fit into descending order)
    assert bins == [[0, 3, 4, 5], [1, 2]] or bins == [[0, 3], [1, 2, 5], [4]]


def test_ffd_oversize_singleton():
    assert ffd_pack([500, 10, 10], 100)[0] == [0]


def test_ffd_deterministic():
    sizes = [33, 77, 12, 91, 15, 60]
    assert ffd_pack(sizes, 100) == ffd_pack(list(sizes), 100)


def test_compact_preserves_rowset_and_reduces_files(spark, tmp_path):
    from tests.conftest import make_table

    t, snap0 = make_table(spark, str(tmp_path / "tb"), n=SMOKE_N)
    n_before = len(t.file_entries())
    before = {r.image_id for r in scan(spark, t).select("image_id").collect()}
    res = compact.compact(spark, t, target_bytes=256 * 1024, job_id="c1")
    assert res.snapshot_id is not None
    t = t.refresh()
    after = {r.image_id for r in scan(spark, t).select("image_id").collect()}
    assert before == after
    assert len(t.file_entries()) < n_before
    # snapshot isolation: the pre-compaction snapshot still reads 256 rows
    assert scan(spark, t, snapshot_id=snap0).count() == SMOKE_N


def test_compact_idempotent_rerun(spark, tmp_path):
    from tests.conftest import make_table

    t, _ = make_table(spark, str(tmp_path / "tb"), n=SMOKE_N)
    res1 = compact.compact(spark, t, target_bytes=256 * 1024, job_id="cjob")
    t = t.refresh()
    files_after = sorted(e["file_path"] for e in t.file_entries().to_pylist())
    # same job_id re-run: committed marker short-circuits, no new snapshot
    res2 = compact.compact(spark, t, target_bytes=256 * 1024, job_id="cjob")
    assert res2.snapshot_id == res1.snapshot_id and res2.bins_executed == 0
    t = t.refresh()
    assert sorted(e["file_path"] for e in t.file_entries().to_pylist()) == files_after


def test_zorder_preserves_rows_and_orders_files(spark, tmp_path):
    from tests.conftest import make_table

    t, _ = make_table(spark, str(tmp_path / "tb"), n=SMOKE_N)
    res = zorder.cluster(spark, t, strategy="morton", target_bytes=128 * 1024, job_id="z1")
    assert res.rows == SMOKE_N
    t = t.refresh()
    entries = sorted(t.file_entries().to_pylist(), key=lambda e: e["zorder_lo"])
    assert scan(spark, t).count() == SMOKE_N
    # FIXTURES.md §2 golden: zorder ranges of distinct files overlap ≤ ε —
    # with range partitioning they are exactly disjoint
    for a, b in zip(entries, entries[1:]):
        assert a["zorder_hi"] <= b["zorder_lo"]


def test_zorder_data_skipping(spark, tmp_path):
    """A phash-range predicate must prune files after clustering
    (SURVEY.md M3 skipping-effectiveness test)."""
    from tests.conftest import make_table

    t, _ = make_table(spark, str(tmp_path / "tb"), n=SMOKE_N)
    zorder.cluster(spark, t, strategy="morton", target_bytes=64 * 1024, job_id="z1")
    t = t.refresh()
    entries = t.file_entries().to_pylist()
    # pick one real phash and scan for it
    some = scan(spark, t).select("phash").limit(1).collect()[0].phash
    pruned = plan_files(t, phash_range=(some, some))
    assert 1 <= len(pruned) < len(entries)
    got = scan(spark, t, phash_range=(some, some)).count()
    assert got >= 1


def test_hilbert_variant(spark, tmp_path):
    from tests.conftest import make_table

    t, _ = make_table(spark, str(tmp_path / "tb"), n=128, mean_rows=32)
    res = zorder.cluster(spark, t, strategy="hilbert", target_bytes=128 * 1024, job_id="h1")
    assert res.rows == 128
    t = t.refresh()
    assert scan(spark, t).count() == 128


def test_unknown_strategy_raises(spark, table_small):
    t, _ = table_small
    with pytest.raises(NotImplementedError):
        zorder.cluster(spark, t, strategy="peano")


def test_zorder_matches_reference_sort(spark, tmp_path):
    """The staged rewrite against a plain reference: every pre-cluster row,
    keyed with the numpy twin of the Catalyst zkey and sorted by
    (zkey, image_id), equals the output files read in p##### order. File p
    holds exactly the rows of bucket p of the seeded equi-depth bounds, its
    zorder_lo/hi are its rows' zkey range, and only the declared table
    columns reach disk."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nessie_spark.lakehouse import jobs
    from nessie_spark.lakehouse.writer import DATA_COLUMNS
    from tests.conftest import make_table

    root = str(tmp_path / "images")
    t, _ = make_table(spark, root)
    # copies of some rows under ids sorting before and after "img_": their
    # zkeys tie with the originals, so the order inside a file depends on
    # the image_id tiebreak whatever order the inputs are read in
    src = scan(spark, t).where(F.substring("image_id", -1, 1).isin("0", "5"))
    dups = src.withColumn("image_id", F.concat(F.lit("a-"), "image_id")).unionByName(
        src.withColumn("image_id", F.concat(F.lit("z-"), "image_id"))
    )
    jobs.append(spark, t, dups, job_id="dups")
    t = t.refresh()

    def zkeys(df):
        wh = (df["w"].to_numpy().astype(np.int64) * df["h"].to_numpy().astype(np.int64)) & 0x7FFFFFFF
        return zorder._np_zkey("morton", df["phash"].to_numpy(), wh)

    ref = scan(spark, t).toArrow().to_pandas()
    ref["zkey"] = zkeys(ref)
    assert ref["zkey"].duplicated().any()
    ref = ref.sort_values(["zkey", "image_id"]).reset_index(drop=True)

    # the bounds cluster() samples: same seeded sample over the same keyed
    # column-subset scan of the same snapshot
    entries = t.file_entries().to_pylist()
    target = 128 * 1024
    n_files = -(-sum(e["file_size_bytes"] for e in entries) // target)
    key = zorder.zorder_key("morton")
    keyed = scan(spark, t, columns=["phash", "w", "h"]).withColumn(
        "zkey", key(F.col("phash"), F.col("w"), F.col("h"))
    ).withColumn("wh", F.col("w").cast("long") * F.col("h").cast("long"))
    bounds = zorder.equi_depth_bounds(keyed, n_files, sum(e["record_count"] for e in entries))
    assert len(bounds) >= 2

    zorder.cluster(spark, t, target_bytes=target, job_id="zx")
    out = sorted(t.refresh().file_entries().to_pylist(), key=lambda e: e["file_path"])
    assert 2 <= len(out) <= n_files
    files = []
    for e in out:
        tbl = pq.read_table(os.path.join(root, e["file_path"]))
        assert tbl.schema.names == DATA_COLUMNS, e["file_path"]
        df = tbl.to_pandas()
        z = zkeys(df)
        assert (e["zorder_lo"], e["zorder_hi"]) == (int(z.min()), int(z.max()))
        pid = int(e["file_path"].rsplit("-p", 1)[1].split(".")[0])
        assert (np.searchsorted(np.asarray(bounds, np.int64), z, "right") == pid).all()
        files.append(tbl)
    for prev, nxt in zip(out, out[1:]):
        assert prev["zorder_hi"] < nxt["zorder_lo"]
    got = pa.concat_tables(files).to_pandas()
    assert len(got) == len(ref)
    for c in DATA_COLUMNS:
        assert got[c].tolist() == ref[c].tolist(), c


def test_time_travel_as_of_timestamp(spark, tmp_path):
    """Iceberg AS OF semantics: resolve the last snapshot committed at or
    before a timestamp; pre-history timestamps raise."""
    import pytest as _pytest

    from nessie_spark.lakehouse import compact as C
    from tests.conftest import make_table

    root = str(tmp_path / "images")
    t, s1 = make_table(spark, root, n=48, mean_rows=12)
    ts1 = t.snapshot(s1)["ts_millis"]
    C.compact(spark, t, target_bytes=1 << 20, job_id="tt")
    t = t.refresh()
    s2 = t.current_snapshot_id
    ts2 = t.snapshot(s2)["ts_millis"]

    assert t.snapshot_as_of(ts1)["snapshot_id"] == s1
    assert t.snapshot_as_of(ts2 + 10_000)["snapshot_id"] == s2
    assert t.snapshot_as_of(ts1 - 1) is None
    assert scan(spark, t, as_of_ts_millis=ts1).count() == 48
    with _pytest.raises(ValueError, match="no snapshot existed"):
        scan(spark, t, as_of_ts_millis=ts1 - 1).count()
    with _pytest.raises(ValueError, match="at most one"):
        scan(spark, t, snapshot_id=s1, as_of_ts_millis=ts1)


def test_metadata_version_retention(spark, tmp_path):
    """The metadata version log truncates (Iceberg
    write.metadata.previous-versions-max) without breaking load, refresh,
    time travel, or the version-hint fast path."""
    import os

    from nessie_spark import synth
    from nessie_spark.lakehouse import expire, jobs
    from nessie_spark.lakehouse.scan import scan
    from nessie_spark.lakehouse.table import Table

    root = str(tmp_path / "tb" / "images")
    t = jobs.create_images_table(
        root, properties={"write.metadata.previous-versions-max": 2}
    )
    for i in range(6):
        jobs.append(spark, t.refresh(), synth.images_df(spark, 4, seed=i + 1)
                    .withColumn("image_id", F.concat(F.lit(f"b{i}-"), F.col("image_id"))),
                    job_id=f"a{i}")
    t = t.refresh()
    mdir = os.path.join(root, "metadata")
    n_before = len([f for f in os.listdir(mdir) if f.endswith(".json")])
    assert n_before == 7  # create + 6 appends
    # explicit truncation
    deleted = t.expire_metadata_versions(keep_last=3)
    assert deleted == 4
    t2 = Table.load(root)
    assert t2.version == t.version
    assert scan(spark, t2).count() == 24
    # snapshot time travel resolves from CURRENT metadata, not old files
    assert scan(spark, t2, snapshot_id=3).count() == 12
    # a corrupted/stale hint falls back to the listing
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")  # points at a deleted version
    t3 = Table.load(root)
    assert t3.version == t.version
    # property-driven truncation rides expire_snapshots
    jobs.append(spark, t3, synth.images_df(spark, 4, seed=99)
                .withColumn("image_id", F.concat(F.lit("z-"), F.col("image_id"))),
                job_id="z")
    t3 = t3.refresh()
    expire.expire_snapshots(spark, t3)
    t3 = t3.refresh()
    vs = sorted(
        int(f[1:-5]) for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )
    assert len(vs) <= 4  # prev-max 2 → keep_last 3, plus expiry's own commit
    assert Table.load(root).version == max(vs)
    assert scan(spark, Table.load(root)).count() == 28
