"""Driver path vs Spark path of compaction and Z-order clustering.

A rewrite that touches no pixel, over input files that ``scan.on_driver``
accepts, runs its work units in the driver process; ``tests.conftest.on_spark``
forces one Spark task per unit. Both placements run the same units against
the same pinned plan. Compaction must leave the same files and lineage on
both. Clustering must leave the same rows in disjoint, increasing zkey
ranges; its cut points are exact on the driver and sampled on Spark, so the
files themselves may differ. A job crashed on one placement resumes on the
other. Every table here is a copy of one small template.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import jobs, lineage, maintain
from nessie_spark.lakehouse.compact import compact
from nessie_spark.lakehouse.partition import parse_partition, segment_name, transform_py
from nessie_spark.lakehouse.table import Table
from nessie_spark.lakehouse.zorder import cluster, cluster_incremental
from tests.conftest import make_table, on_spark, spark_jobs

KiB = 1024
# the template's files are 16-100 KiB: several compaction bins and several
# Z-order buckets
COMPACT_TARGET, CLUSTER_TARGET = 128 * KiB, 64 * KiB
_GROUPS = itertools.count()
SPEC = [
    {"source": "fmt", "transform": "identity"},
    {"source": "phash", "transform": "bucket", "n": 2},
]


def _local_df(spark, start: int, n: int):
    """A local DataFrame of ``n`` rows: appending it writes on the driver."""
    rows = []
    for i in range(start, start + n):
        r = synth.row_for(42, i)
        r["bytes"] = bytes(r["bytes"])
        rows.append(r)
    return spark.createDataFrame(pd.DataFrame(rows), synth.IMAGES_SCHEMA)


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("rewrite")
    plain = str(base / "plain")
    make_table(spark, plain, n=96, mean_rows=8)
    # a clustered base run plus two unclustered appends
    delta = str(base / "delta")
    shutil.copytree(plain, delta)
    t = Table.load(delta)
    cluster(spark, t, target_bytes=CLUSTER_TARGET, job_id="base")
    for k in range(2):
        jobs.append(spark, t.refresh(), _local_df(spark, 1000 + 24 * k, 24), job_id=f"d{k}")
    # four appends, each writing one file per partition value
    parted = str(base / "parted")
    t = jobs.create_images_table(parted, properties={"partition-spec": SPEC})
    for k in range(4):
        jobs.append(spark, t.refresh(), _local_df(spark, 24 * k, 24), job_id=f"p{k}")
    return {"plain": plain, "delta": delta, "parted": parted}


def _copy(templates, kind: str, tmp_path, name: str) -> Table:
    dst = str(tmp_path / name)
    shutil.copytree(templates[kind], dst)
    return Table.load(dst)


def _run(spark, forced: bool, fn, *args, **kwargs):
    """``fn`` on the driver placement, or forced to Spark; returns its
    result and the Spark jobs it started."""
    with on_spark(spark) if forced else contextlib.nullcontext():
        with spark_jobs(spark, f"rewrite-{next(_GROUPS)}") as ids:
            res = fn(spark, *args, **kwargs)
    return res, ids


def _digest(root: str, rel: str) -> str:
    with open(os.path.join(root, rel), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _live(t: Table) -> list[dict]:
    return sorted(t.refresh().file_entries().to_pylist(), key=lambda e: e["file_path"])


def _rows(t: Table) -> list[tuple]:
    """Every live row, read with pyarrow (no Spark job), as a sorted list."""
    tbl = pa.concat_tables(
        [pq.read_table(os.path.join(t.root, e["file_path"])) for e in _live(t)]
    )
    return sorted(zip(*(tbl.column(c).to_pylist() for c in tbl.schema.names)))


def _units(t: Table, job_id: str, phase: str) -> list[dict]:
    units = lineage.read_phase(t.root, job_id, phase).to_pylist()
    for u in units:
        u["metrics"] = sorted(u["metrics"] or [])
    return sorted(units, key=lambda u: u["partition_id"])


def _assert_disjoint_runs(entries: list[dict]) -> None:
    """One run's files in p##### order: each range non-empty and strictly
    above the one before."""
    for e in entries:
        assert e["zorder_lo"] is not None and e["zorder_lo"] <= e["zorder_hi"]
    for prev, nxt in zip(entries, entries[1:]):
        assert prev["zorder_hi"] < nxt["zorder_lo"], (prev["file_path"], nxt["file_path"])


def test_compact_same_files_and_lineage_on_both_placements(spark, templates, tmp_path):
    d = _copy(templates, "plain", tmp_path, "d")
    s = _copy(templates, "plain", tmp_path, "s")
    rd, jd = _run(spark, False, compact, d, target_bytes=COMPACT_TARGET, job_id="c")
    rs, js = _run(spark, True, compact, s, target_bytes=COMPACT_TARGET, job_id="c")
    assert jd == [] and js
    assert rd.bins_executed == rs.bins_executed >= 2
    ed, es = _live(d), _live(s)
    assert [e["file_path"] for e in ed] == [e["file_path"] for e in es]
    assert [e["file_size_bytes"] for e in ed] == [e["file_size_bytes"] for e in es]
    for e in ed:
        if e["file_path"].startswith("data/c-compact-"):
            assert _digest(d.root, e["file_path"]) == _digest(s.root, e["file_path"])
    assert _units(d, "c", "compact") == _units(s, "c", "compact")


@pytest.mark.parametrize("incremental", [False, True], ids=["full", "incremental"])
def test_cluster_same_rows_disjoint_files_on_both_placements(
    spark, templates, tmp_path, incremental
):
    fn, kind, phase = (
        (cluster_incremental, "delta", "morton") if incremental
        else (cluster, "plain", "morton")
    )
    d = _copy(templates, kind, tmp_path, "d")
    s = _copy(templates, kind, tmp_path, "s")
    before = _rows(d)
    rd, jd = _run(spark, False, fn, d, target_bytes=CLUSTER_TARGET, job_id="z")
    rs, js = _run(spark, True, fn, s, target_bytes=CLUSTER_TARGET, job_id="z")
    assert jd == [] and js
    assert _rows(d) == _rows(s) == before
    planned = [
        dict(_units(t, "z", phase)[0]["metrics"])["n_files_planned"] for t in (d, s)
    ]
    assert planned[0] == planned[1] >= 3
    assert rd.output_files == rs.output_files
    for t in (d, s):
        out = [e for e in _live(t) if e["file_path"].startswith("data/z-")]
        assert len(out) == rd.output_files
        _assert_disjoint_runs(out)
        if incremental:  # the clustered base run is carried untouched
            base = [e for e in _live(t) if e["file_path"].startswith("data/base-")]
            assert base == [
                e for e in _live(Table.load(templates["delta"]))
                if e["file_path"].startswith("data/base-")
            ]


def _partition_of(row: dict) -> str:
    return "/".join(f"{segment_name(f)}={transform_py(f, row[f['source']])}" for f in SPEC)


def test_partitioned_cluster_keeps_one_value_per_file(spark, templates, tmp_path):
    """identity + bucket spec: on both placements every file clustering
    writes holds the rows of one partition value, the one its entry names.
    (Compaction packs each value's files apart before any unit runs.)"""
    for forced in (False, True):
        t = _copy(templates, "parted", tmp_path, f"p{forced}")
        before = _rows(t)
        _, ids = _run(spark, forced, cluster, t, target_bytes=CLUSTER_TARGET, job_id="z")
        assert bool(ids) == forced
        assert _rows(t) == before
        entries = _live(t)
        assert len({e["partition"] for e in entries}) >= 3
        for e in entries:
            # one staged rewrite per partition value, not the respec rewrite
            assert e["file_path"].startswith("data/z-part"), e["file_path"]
            assert set(parse_partition(e["partition"])) == {"fmt", "phash_bucket"}
            tbl = pq.read_table(os.path.join(t.root, e["file_path"]), columns=["fmt", "phash"])
            assert {_partition_of(r) for r in tbl.to_pylist()} == {e["partition"]}


def test_maintain_sweep_starts_no_job_on_the_driver(spark, templates, tmp_path):
    policy = maintain.MaintenancePolicy(
        target_bytes=4 * CLUSTER_TARGET, compact_min_small_files=2, recluster_overlap_pct=0.0,
        incremental_cluster_max_pct=0.0, rewrite_manifests_min=2, expire_retain_last=1,
    )
    for forced in (False, True):
        t = _copy(templates, "delta", tmp_path, f"m{forced}")
        before = _rows(t)
        rep, ids = _run(spark, forced, maintain.maintain, t, policy, job_id="sweep")
        assert rep.actions == ["compact", "cluster", "rewrite-manifests", "expire"]
        assert bool(ids) == forced
        assert _rows(t) == before


@pytest.mark.parametrize("job", ["compact", "cluster"])
def test_pixel_rewrites_run_on_spark_at_any_size(spark, templates, tmp_path, job):
    """Re-encoding always runs as Spark tasks, even on a tiny table."""
    t = _copy(templates, "plain", tmp_path, "t")
    fn = compact if job == "compact" else cluster
    res, ids = _run(spark, False, fn, t, target_bytes=CLUSTER_TARGET, job_id="px", reencode=True)
    assert res.snapshot_id is not None and ids


def _crash_then_resume(spark, t: Table, crash_forced: bool) -> None:
    with on_spark(spark) if crash_forced else contextlib.nullcontext():
        with spark_jobs(spark, f"rewrite-{next(_GROUPS)}") as ids:
            with pytest.raises(RuntimeError, match="injected"):
                compact(spark, t, target_bytes=COMPACT_TARGET, job_id="cj",
                        fail_after_bins=1)
    assert bool(ids) == crash_forced  # the crash ran its unit on its placement
    assert lineage.completed_units(t.root, "cj", "compact") == {0}
    assert lineage.committed_snapshot(t.root, "cj") is None
    res, ids = _run(spark, not crash_forced, compact, t, target_bytes=COMPACT_TARGET, job_id="cj")
    assert res.bins_executed == res.bins_planned - 1
    assert bool(ids) == (not crash_forced)  # the resume ran on the other placement


def test_compact_resumes_across_placements(spark, templates, tmp_path):
    ref = _copy(templates, "plain", tmp_path, "ref")
    compact(spark, ref, target_bytes=COMPACT_TARGET, job_id="cj")
    want_files = [e["file_path"] for e in _live(ref)]
    for crash_forced in (False, True):
        t = _copy(templates, "plain", tmp_path, f"r{crash_forced}")
        _crash_then_resume(spark, t, crash_forced)
        assert [e["file_path"] for e in _live(t)] == want_files
        assert _rows(t) == _rows(ref)
        # a rerun with the committed job_id writes nothing
        data = sorted(os.listdir(os.path.join(t.root, "data")))
        snap = t.refresh().current_snapshot_id
        again = compact(spark, t.refresh(), target_bytes=COMPACT_TARGET, job_id="cj")
        assert again.snapshot_id == snap and again.bins_executed == 0
        assert sorted(os.listdir(os.path.join(t.root, "data"))) == data
        assert t.refresh().current_snapshot_id == snap
