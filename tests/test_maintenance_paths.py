"""Driver path vs Spark path of expiry, orphan GC and manifest rewrite.

Small metadata (manifest entries that ``scan.on_driver`` accepts) is
handled on the driver; ``tests.conftest.on_spark`` forces the Spark jobs.
Both paths must report the same lists and leave the same files.
The table is built straight through ``Table.commit`` with empty data files:
none of these jobs reads a data file, and the build then costs no Spark job.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse.expire import expire_snapshots, gc_orphans
from nessie_spark.lakehouse.jobs import create_images_table
from nessie_spark.lakehouse.manifest import rewrite_manifests
from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA, Table
from tests.conftest import on_spark, spark_jobs


def _touch(root: str, rel: str) -> str:
    with open(os.path.join(root, rel), "wb") as fh:
        fh.write(b"x")
    return rel


def _entries(root: str, names: list[str]) -> pa.Table:
    rows = []
    for n in names:
        row = {f.name: None for f in FILE_ENTRY_SCHEMA}
        row.update(
            file_path=_touch(root, f"data/{n}.parquet"), file_format="parquet",
            partition="", record_count=1, file_size_bytes=1,
            # key order unrelated to commit order, so the rewrite must sort
            min_key=f"img_{hashlib.md5(b'key' + n.encode()).hexdigest()[:8]}",
        )
        row.update(max_key=row["min_key"] + "z")
        rows.append(row)
    return pa.Table.from_pylist(rows, schema=FILE_ENTRY_SCHEMA)


def _delete_entry(root: str, name: str) -> dict:
    return {"file_path": _touch(root, f"data/{name}.parquet"), "kind": "eq"}


@pytest.fixture(scope="module")
def template(tmp_path_factory):
    """main: s1 -> s2 (tag v1) -> s3 (MoR delete) -> s4 (drops f1) -> s7;
    s5 -> s6 abandoned by a rollback to s4; s8 staged (WAP) on s7. Plus an
    orphan data file, an orphan manifest, a ``.tmp-`` file and the output
    of an uncommitted lineage unit."""
    root = str(tmp_path_factory.mktemp("paths") / "t")
    t = create_images_table(root)
    t.commit("append", added=_entries(root, ["f1", "f2", "f3"]))
    t.commit("append", added=_entries(root, ["f4", "f5"]))
    t.create_tag("v1")
    t.commit("delete", new_delete_entries=[_delete_entry(root, "del1")])
    t.commit("overwrite", added=_entries(root, ["f6"]), deleted_paths={"data/f1.parquet"})
    s4 = t.current_snapshot_id
    t.commit("append", added=_entries(root, ["f7"]))
    t.commit(
        "append", added=_entries(root, ["f8"]),
        new_delete_entries=[_delete_entry(root, "del2")],
    )
    t.rollback(s4)
    t.commit("append", added=_entries(root, ["f9", "f10", "f11"]))
    t.commit("append", added=_entries(root, ["f12"]), stage_only=True)
    _touch(root, "data/orphan.parquet")
    _touch(root, "data/inflight.parquet.tmp-0a1b2c3d")
    pq.write_table(
        _entries(root, ["stray"]), os.path.join(root, "metadata/manifest-orphan.parquet")
    )
    os.remove(os.path.join(root, "data/stray.parquet"))
    lineage.write_unit(
        root, "pending-job", "write", 0, [], [_touch(root, "data/pending.parquet")], 1, 1
    )
    return root


def _files(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    }


def _run_both(spark, template, tmp_path, name, op):
    """Run ``op(table)`` on two copies of ``template``: driver path, then
    forced onto Spark. Returns ((result, root, jobs), ...)."""
    out = []
    for path in ("driver", "spark"):
        root = str(tmp_path / path)
        shutil.copytree(template, root)
        force = on_spark(spark) if path == "spark" else contextlib.nullcontext()
        with force, spark_jobs(spark, f"{name}-{path}-{id(tmp_path)}") as jobs:
            res = op(Table.load(root))
        out.append((res, root, jobs))
    (_, _, drv_jobs), (_, _, spk_jobs) = out
    assert drv_jobs == [], "the driver path started a Spark job"
    assert spk_jobs, "the forced Spark path started no Spark job"
    return out


@pytest.mark.parametrize("retain_last", [None, 1])
def test_expire_driver_path_equals_spark_path(spark, template, tmp_path, retain_last):
    (drv, droot, _), (spk, sroot, _) = _run_both(
        spark, template, tmp_path, "expire",
        lambda t: expire_snapshots(spark, t, retain_last=retain_last),
    )
    assert drv == spk
    if retain_last is None:
        assert drv.expired_snapshots == [5, 6]
        assert drv.deleted_data_files == [
            "data/del2.parquet", "data/f7.parquet", "data/f8.parquet",
        ]
    else:
        assert drv.expired_snapshots == [1, 3, 4, 5, 6]
    assert _files(droot) == _files(sroot)
    assert _files(template) - _files(droot)
    assert Table.load(droot).meta == Table.load(sroot).meta


def test_gc_driver_path_equals_spark_path(spark, template, tmp_path):
    (drv, droot, _), (spk, sroot, _) = _run_both(
        spark, template, tmp_path, "gc",
        lambda t: gc_orphans(spark, t),
    )
    assert drv == spk == ["data/orphan.parquet", "metadata/manifest-orphan.parquet"]
    assert _files(droot) == _files(sroot)


def _manifest_rows(root: str) -> list[list[dict]]:
    t = Table.load(root)
    return [
        pq.read_table(os.path.join(root, m["manifest_path"])).to_pylist()
        for m in t.manifest_summaries()
    ]


@pytest.mark.parametrize("target", [1, 4])
def test_rewrite_manifests_driver_path_equals_spark_path(
    spark, template, tmp_path, target
):
    (drv, droot, _), (spk, sroot, _) = _run_both(
        spark, template, tmp_path, "rewrite",
        lambda t: rewrite_manifests(spark, t, target_manifests=target),
    )
    assert (drv.manifests_before, drv.entries) == (spk.manifests_before, spk.entries)
    assert drv.manifests_before == 4 and drv.entries == 8
    before = Counter(json.dumps(r, sort_keys=True, default=str)
                     for ms in _manifest_rows(template) for r in ms)
    for root, res in ((droot, drv), (sroot, spk)):
        mans = _manifest_rows(root)
        assert len(mans) == res.manifests_after <= target
        rows = Counter(json.dumps(r, sort_keys=True, default=str) for ms in mans for r in ms)
        assert rows == before
        # contiguous range-key slices: manifests do not overlap on the key
        spans = sorted(
            (min((r["min_key"], r["file_path"]) for r in ms),
             max((r["min_key"], r["file_path"]) for r in ms))
            for ms in mans
        )
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi < lo
    uuid_named = ("metadata/manifest-rw", "metadata/snap-")
    assert {f for f in _files(droot) if not f.startswith(uuid_named)} == {
        f for f in _files(sroot) if not f.startswith(uuid_named)
    }
