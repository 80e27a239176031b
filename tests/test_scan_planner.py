"""Two-tier scan planning (lakehouse/scan.py):

Tier 1 — manifest-LIST key pruning: rewrite_manifests range-partitions
entries on min_key, so each rewritten manifest covers a narrow key slice
and a point lookup / key-range scan drops whole manifests from the plan
before any entry is read.

Tier 2 — per-file pruning: one Arrow unit per manifest
(``scan._prune_manifest``), run on the driver or, when ``scan.on_driver``
refuses the entry count, as one Spark task per manifest; both placements
must return the same entries for every planning argument.
"""

import pyarrow as pa

from nessie_spark import synth
from nessie_spark.lakehouse import evolve, jobs, zorder
from nessie_spark.lakehouse import scan as scan_mod
from nessie_spark.lakehouse.bloom import bloom_might_contain
from nessie_spark.lakehouse.manifest import rewrite_manifests
from nessie_spark.lakehouse.partition import entry_matches, expected_segments, table_spec
from nessie_spark.lakehouse.scan import (
    on_driver, plan_files, prune_manifest_summaries, scan,
)
from tests.conftest import make_table, on_spark, spark_jobs


def _paths(entries):
    return sorted(e["file_path"] for e in entries)


def _reference_plan(t, phash_range=None, wh_range=None, zkey_range=None,
                    key_range=None, key_eq=None, source_eq=None):
    """Tier 2 as a plain loop over every live entry: a range misses when
    [lo, hi] lies outside it, a NULL stat keeps the entry, the partition
    check is ``entry_matches``, and a lookup also probes the bloom."""
    spec = table_spec(t)
    expected = expected_segments(spec, source_eq) if source_eq and spec else None
    out = []
    for e in t.file_entries().to_pylist():
        if expected and not entry_matches(e["partition"], expected):
            continue
        checks = [("min_phash", "max_phash", phash_range), ("min_wh", "max_wh", wh_range),
                  ("zorder_lo", "zorder_hi", zkey_range), ("min_key", "max_key", key_range),
                  ("min_key", "max_key", key_eq and (key_eq, key_eq))]
        if any(
            rng and e[lo] is not None and e[hi] is not None
            and (e[hi] < rng[0] or e[lo] > rng[1])
            for lo, hi, rng in checks
        ):
            continue
        if key_eq is not None and not bloom_might_contain(e["key_bloom"], key_eq):
            continue
        out.append(e["file_path"])
    return sorted(out)


def test_rewrite_manifests_key_clusters_and_prunes(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=400)
    res = rewrite_manifests(spark, t, target_manifests=4)
    assert res.snapshot_id is not None
    t = t.refresh()
    mans = sorted(
        t.manifest_summaries(), key=lambda m: (m["min_key"] is None, m["min_key"])
    )
    assert 2 <= len(mans) <= 4
    assert sum(m["n_entries"] for m in mans) == len(t.file_entries())
    # range partitioning ⇒ manifests' key ranges are disjoint (sorted by
    # min_key, each manifest ends before the next begins)
    for a, b in zip(mans, mans[1:]):
        assert a["max_key"] < b["min_key"]
    # tier-1: a point lookup keeps exactly the one covering manifest
    key = mans[1]["min_key"]
    kept = prune_manifest_summaries(mans, key_eq=key)
    assert [m["manifest_path"] for m in kept] == [mans[1]["manifest_path"]]
    # and a key-range spanning two manifests keeps exactly those two
    kept = prune_manifest_summaries(
        mans, key_range=(mans[0]["max_key"], mans[1]["min_key"])
    )
    assert len(kept) == 2
    # NULL-stat manifests are never pruned (unknown ⇒ possible hit)
    kept = prune_manifest_summaries(
        mans + [{"manifest_path": "x", "n_entries": 1, "min_key": None, "max_key": None}],
        key_eq=key,
    )
    assert any(m["manifest_path"] == "x" for m in kept)


def test_distributed_planner_matches_driver(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=400)
    # mixed layout: a Z-order rewrite (wide key ranges, blooms carry the
    # point lookups) plus a fresh append (narrow key range)
    zorder.cluster(spark, t, target_bytes=64 * 1024, job_id="z")
    t = t.refresh()
    from pyspark.sql import functions as F

    fresh = synth.images_df(spark, 64, seed=7).withColumn(
        "image_id", F.concat(F.lit("zz-"), F.col("image_id"))
    )
    jobs.append(spark, t, fresh, job_id="a2")
    t = t.refresh()
    entries = t.file_entries(
        columns=["file_path", "min_phash", "max_phash", "zorder_lo", "zorder_hi"]
    ).to_pylist()
    mid_phash = sorted(e["min_phash"] for e in entries)[len(entries) // 2]
    zlo = sorted(e["zorder_lo"] for e in entries if e["zorder_lo"] is not None)
    key_range = ("img_000000000100", "img_000000000200")
    # a spec'd table that still holds pre-spec ("") files
    parted, _ = make_table(spark, str(tmp_path / "parted"), n=96)
    evolve.set_partition_spec(parted, [{"source": "fmt", "transform": "identity"}])
    jobs.append(spark, parted.refresh(), synth.images_df(spark, 96, seed=11).withColumn(
        "image_id", F.concat(F.lit("p-"), F.col("image_id"))
    ), job_id="a3")
    parted = parted.refresh()
    # (table, planning arguments, whether the plan must keep some files
    # and drop others)
    cases = [
        (t, {}, False),
        (t, {"key_eq": "img_000000000123"}, True),
        (t, {"key_eq": "img_nonexistent_zz"}, False),
        (t, {"phash_range": (mid_phash, mid_phash + 2**59)}, False),
        (t, {"wh_range": (1, 10**9)}, False),
        (t, {"key_range": key_range}, False),
        (t, {"zkey_range": (zlo[1], zlo[len(zlo) // 2])}, True),
        (t, {"phash_range": (mid_phash, mid_phash + 2**61), "key_range": key_range}, True),
        (parted, {"source_eq": {"fmt": "png"}}, True),
    ]
    for i, (tb, kw, prunes) in enumerate(cases):
        group = f"plan-{i}-{id(tmp_path)}"
        with spark_jobs(spark, f"{group}-drv") as drv_jobs:
            drv = plan_files(tb, spark=spark, **kw)
        with on_spark(spark), spark_jobs(spark, f"{group}-dist") as dist_jobs:
            dist = plan_files(tb, spark=spark, **kw)
        assert drv == dist, kw
        assert _paths(drv) == _reference_plan(tb, **kw), kw
        assert not prunes or 0 < len(drv) < tb.file_entries(columns=["file_path"]).num_rows, kw
        # tier 1 may prune every manifest of a miss; then no tier 2 runs
        assert drv_jobs == [] and (dist_jobs or not dist), kw
    # the spec'd plan keeps the pre-spec files and drops the other value
    kept = {e["partition"] for e in plan_files(parted, source_eq={"fmt": "png"})}
    assert kept == {"", "fmt=png"}


def _ids(df) -> list[str]:
    return sorted(r.image_id for r in df.select("image_id").collect())


def test_scan_distributed_parity_with_mor_deletes(spark, tmp_path, monkeypatch):
    from nessie_spark.lakehouse.deletes import delete_where

    t, _ = make_table(spark, str(tmp_path / "tb"), n=300)
    delete_where(spark, t, "phash % 7 = 0", job_id="d1")
    t = t.refresh()
    rng = ("img_000000000050", "img_000000000150")
    want, want_rng = _ids(scan(spark, t)), _ids(scan(spark, t, key_range=rng))
    assert want and want_rng
    # distributed plan into the driver read: the planned entries carry no
    # key range, so the driver read must keep every applicable equality
    # delete
    group = f"mor-plan-{id(tmp_path)}"
    with monkeypatch.context() as m:
        m.setattr(scan_mod, "DRIVER_MAX_ENTRIES", 0)
        with spark_jobs(spark, f"{group}-plan") as plan_jobs:
            dfs = scan(spark, t), scan(spark, t, key_range=rng)
        with spark_jobs(spark, f"{group}-read") as read_jobs:
            assert [_ids(df) for df in dfs] == [want, want_rng]
    assert plan_jobs, "the distributed plan started no Spark job"
    assert read_jobs == [], "the driver read started a Spark job"
    # distributed plan into the Spark read
    with on_spark(spark), spark_jobs(spark, f"{group}-spark") as forced_jobs:
        assert _ids(scan(spark, t)) == want
        assert _ids(scan(spark, t, key_range=rng)) == want_rng
    assert forced_jobs


def test_on_driver_rule(spark, tmp_path):
    """The rule's two limits and its forcing fixture; starts no Spark job."""
    tbl = pa.table({"x": [1, 2]})
    with spark_jobs(spark, f"rule-{id(tmp_path)}") as job_ids:
        limit = spark._jconf.arrowLocalRelationThreshold()
        assert on_driver(spark, entries=65_536)
        assert not on_driver(spark, entries=65_537)
        assert on_driver(spark, nbytes=limit)
        assert not on_driver(spark, nbytes=limit + 1)
        assert spark.createDataFrame(tbl).isLocal()
        with on_spark(spark):
            assert not on_driver(spark, entries=1)
            assert not on_driver(spark, nbytes=1)
            # appends ask df.isLocal(): the same conf keeps Arrow data off
            # the driver inside the fixture
            assert not spark.createDataFrame(tbl).isLocal()
    assert job_ids == []
