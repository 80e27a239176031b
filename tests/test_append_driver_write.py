"""The driver-side append against the Spark-task append.

``jobs.append`` writes a local DataFrame (``df.isLocal()``: a bare
``LocalRelation`` from ``createDataFrame`` of pandas data) on the driver
with no Spark job; ``.repartition(2)`` on the same frame makes it
non-local and sends it through the ``mapInArrow`` task writer. Both must
commit the same rows under the same schema, with stats that bound each
file's rows. Also here: the ``file_boundaries`` (small-file fixture)
append, and the append commit that opens no manifest.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import evolve, jobs, lineage
from nessie_spark.lakehouse.bloom import bloom_might_contain
from nessie_spark.lakehouse.scan import scan
from nessie_spark.lakehouse.table import Table
from nessie_spark.lakehouse.writer import arrow_schema_from_ddl
from tests.conftest import SMOKE_N, on_spark, spark_jobs

SPEC = [
    {"source": "fmt", "transform": "identity"},
    {"source": "phash", "transform": "bucket", "n": 4},
]


def _batch(spark, lo: int, n: int, score: bool = False):
    """``n`` synthetic rows as a local DataFrame; ``score`` adds the
    evolved ``score double`` column."""
    rows = []
    for i in range(lo, lo + n):
        r = synth.row_for(7, i)
        r["bytes"] = bytes(r["bytes"])
        if score:
            r["score"] = i / 2
        rows.append(r)
    ddl = synth.IMAGES_SCHEMA + (", score double" if score else "")
    if rows:
        df = spark.createDataFrame(pd.DataFrame(rows), ddl)
    else:
        # an empty pandas frame is not kept as a LocalRelation; Arrow is
        df = spark.createDataFrame(arrow_schema_from_ddl(ddl).empty_table())
    assert df.isLocal()
    return df


def _pair(tmp_path, properties=None, score=False):
    """Two fresh tables set up alike: one for each append path."""
    out = []
    for name in ("driver", "spark"):
        t = jobs.create_images_table(str(tmp_path / name), properties)
        if score:
            evolve.add_column(t, "score", "double")
        out.append(t.refresh())
    return out


def _append_both(spark, pair, df, job_id="a", **kw):
    """Append ``df`` through both paths; returns the Spark job ids each
    started."""
    started = []
    for t, frame in zip(pair, (df, df.repartition(2))):
        with spark_jobs(spark, f"{t.root}-{job_id}") as ids:
            jobs.append(spark, t, frame, job_id=job_id, **kw)
        started.append(ids)
    return started


def _rows(spark, t, **kw):
    df = scan(spark, Table.load(t.root), **kw)
    return sorted(tuple(r) for r in df.collect()), df.schema.simpleString()


def _check_stats(t):
    """Every entry's record count, min/max and key bloom bound its file."""
    for e in Table.load(t.root).file_entries().to_pylist():
        tbl = pq.read_table(os.path.join(t.root, e["file_path"]))
        ids = tbl.column("image_id").to_pylist()
        ph = tbl.column("phash").to_pylist()
        wh = [w * h for w, h in zip(tbl.column("w").to_pylist(), tbl.column("h").to_pylist())]
        assert e["record_count"] == len(ids)
        assert (e["min_key"], e["max_key"]) == (min(ids), max(ids))
        assert (e["min_phash"], e["max_phash"]) == (min(ph), max(ph))
        assert (e["min_wh"], e["max_wh"]) == (min(wh), max(wh))
        assert all(bloom_might_contain(e["key_bloom"], k) for k in ids)


def _data_files(t):
    d = os.path.join(t.root, "data")
    if not os.path.isdir(d):
        return {}
    return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}


def test_driver_append_equals_spark_append(spark, tmp_path):
    pair = _pair(tmp_path)
    started = _append_both(spark, pair, _batch(spark, 0, 24))
    started += _append_both(spark, pair, _batch(spark, 100, 16), job_id="b")
    assert started[0] == [] and started[2] == []  # driver: no Spark job
    assert started[1] and started[3]
    assert _rows(spark, pair[0]) == _rows(spark, pair[1])
    assert len(_rows(spark, pair[0])[0]) == 40
    drv, spk = (Table.load(t.root) for t in pair)
    assert drv.snapshot()["schema"] == spk.snapshot()["schema"]
    assert sorted(_data_files(drv)) == ["a-append-p00000.parquet", "b-append-p00000.parquet"]
    for t in pair:
        _check_stats(t)


def test_evolved_table_column_present_and_absent(spark, tmp_path):
    pair = _pair(tmp_path, score=True)
    started = _append_both(spark, pair, _batch(spark, 0, 20, score=True))
    started += _append_both(spark, pair, _batch(spark, 50, 12), job_id="b")
    assert started[0] == [] and started[2] == []
    rows, schema = _rows(spark, pair[0])
    assert (rows, schema) == _rows(spark, pair[1])
    assert "score:double" in schema
    by_id = {r[0]: r[-1] for r in rows}
    assert by_id[synth.row_for(7, 3)["image_id"]] == 1.5
    assert by_id[synth.row_for(7, 50)["image_id"]] is None
    # files without the column read the same on the Spark parquet read
    with on_spark(spark):
        assert _rows(spark, pair[0]) == (rows, schema)
    for t in pair:
        _check_stats(t)


def test_file_boundaries_append_writes_evolved_columns(spark, tmp_path):
    """The small-file layout writes the table's evolved columns and reads
    back the same rows as the driver append of the same frame."""
    pair = _pair(tmp_path, score=True)
    df = _batch(spark, 0, 20, score=True)
    jobs.append(spark, pair[0], df, job_id="a")
    jobs.append(spark, pair[1], df, job_id="a", file_boundaries=[5, 12, 20])
    rows, schema = _rows(spark, pair[1])
    assert (rows, schema) == _rows(spark, pair[0])
    assert {r[0]: r[-1] for r in rows}[synth.row_for(7, 3)["image_id"]] == 1.5
    assert sorted(_data_files(pair[1])) == [
        f"a-append-g{k:05d}.parquet" for k in range(3)
    ]
    for f in _data_files(pair[1]):
        tbl = pq.read_table(os.path.join(pair[1].root, "data", f))
        assert tbl.schema.names[-1] == "score"
    _check_stats(pair[1])


def test_small_file_fixture_layout_golden(table_small):
    """``conftest.make_table``: file gNNNNN holds exactly the rows
    ``[bounds[k-1], bounds[k])`` of ``synth.lognormal_file_boundaries``."""
    t, snap = table_small
    bounds = synth.lognormal_file_boundaries(SMOKE_N, seed=42, mean_rows=24)
    want = {
        f"data/ingest-append-g{k:05d}.parquet": [
            synth.row_for(42, i)["image_id"] for i in range(lo, hi)
        ]
        for k, (lo, hi) in enumerate(zip([0] + bounds[:-1], bounds))
    }
    got = {}
    for e in t.file_entries(snapshot_id=snap).to_pylist():
        got[e["file_path"]] = sorted(
            pq.read_table(os.path.join(t.root, e["file_path"]), columns=["image_id"])
            .column("image_id").to_pylist()
        )
        assert e["partition"] == ""
    assert got == want


def test_partition_spec_one_file_per_value(spark, tmp_path):
    pair = _pair(tmp_path, properties={"partition-spec": SPEC})
    started = _append_both(spark, pair, _batch(spark, 0, 48))
    assert started[0] == [] and started[1]
    assert _rows(spark, pair[0]) == _rows(spark, pair[1])

    def ids_by_value(t):
        out: dict[str, set] = {}
        for e in Table.load(t.root).file_entries().to_pylist():
            ids = pq.read_table(
                os.path.join(t.root, e["file_path"]), columns=["image_id"]
            ).column("image_id").to_pylist()
            out.setdefault(e["partition"], set()).update(ids)
        return out

    drv = ids_by_value(pair[0])
    assert drv == ids_by_value(pair[1])
    assert len(drv) > 2 and all(v.startswith("fmt=") for v in drv)
    entries = Table.load(pair[0].root).file_entries().to_pylist()
    assert len(entries) == len(drv)  # one file per value
    for t in pair:
        _check_stats(t)


def test_stage_only_and_branch_append(spark, tmp_path):
    pair = _pair(tmp_path)
    _append_both(spark, pair, _batch(spark, 0, 16))
    started = _append_both(spark, pair, _batch(spark, 30, 8), job_id="s", stage_only=True)
    assert started[0] == []
    staged = []
    for t in pair:
        t = Table.load(t.root)
        snap = t.meta["snapshots"][-1]
        assert snap.get("staged") and t.current_snapshot_id == snap["parent_id"]
        staged.append(_rows(spark, t, snapshot_id=snap["snapshot_id"]))
        assert len(_rows(spark, t)[0]) == 16
    assert staged[0] == staged[1] and len(staged[0][0]) == 24

    pair = [Table.load(t.root) for t in pair]
    for t in pair:
        t.create_branch("dev")
    started = _append_both(spark, pair, _batch(spark, 60, 8), job_id="d", to_ref="dev")
    assert started[0] == []
    assert _rows(spark, pair[0], ref="dev") == _rows(spark, pair[1], ref="dev")
    assert len(_rows(spark, pair[0], ref="dev")[0]) == 24
    assert len(_rows(spark, pair[0])[0]) == 16


def test_rerun_of_committed_job_writes_no_file(spark, tmp_path):
    t = jobs.create_images_table(str(tmp_path / "t"))
    snap = jobs.append(spark, t, _batch(spark, 0, 16), job_id="a")
    before = _data_files(t)
    assert jobs.append(spark, t.refresh(), _batch(spark, 40, 8), job_id="a") == snap
    assert _data_files(t) == before
    assert Table.load(t.root).current_snapshot_id == snap


def test_sort_order_table_takes_spark_path(spark, tmp_path):
    t = jobs.create_images_table(
        str(tmp_path / "t"), properties={"write.sort-order": "zorder"}
    )
    with spark_jobs(spark, "sort-order") as ids:
        jobs.append(spark, t, _batch(spark, 0, 24), job_id="a")
    assert ids
    entries = Table.load(t.root).file_entries().to_pylist()
    assert entries and all(e["zorder_lo"] is not None for e in entries)


def test_empty_local_append_same_on_both_paths(spark, tmp_path):
    pair = _pair(tmp_path)
    _append_both(spark, pair, _batch(spark, 0, 8))
    before = [_data_files(t) for t in pair]
    started = _append_both(spark, pair, _batch(spark, 0, 0), job_id="e")
    assert started[0] == []
    snaps, units = [], []
    for t, files in zip(pair, before):
        t = Table.load(t.root)
        snap = t.snapshot()
        assert snap["summary"] == {"job_id": "e", "added_files": 0, "deleted_files": 0}
        assert t.manifest_paths() == t.manifest_paths(snap["parent_id"])
        assert _data_files(t) == files  # no data file written
        snaps.append({k: snap[k] for k in ("snapshot_id", "parent_id", "operation", "summary")})
        units.append(lineage.read_phase(t.root, "e", "append").to_pylist())
    assert snaps[0] == snaps[1]
    assert units[0] == units[1]
    assert units[0][0]["output_files"] == [] and units[0][0]["rows"] == 0


def test_append_commit_opens_no_manifest(spark, tmp_path, monkeypatch):
    t = jobs.create_images_table(str(tmp_path / "t"))
    for a in range(5):
        jobs.append(spark, t, _batch(spark, 10 * a, 4), job_id=f"a{a}")
    t = t.refresh()
    parent_list = pq.read_table(
        os.path.join(t.root, t.snapshot()["manifest_list"])
    ).to_pylist()
    assert len(parent_list) == 5

    opened = []
    real = pq.read_table

    def spy(source, *args, **kwargs):
        opened.append(str(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    jobs.append(spark, t, _batch(spark, 100, 4), job_id="last")
    monkeypatch.undo()

    assert opened and not [p for p in opened if "/metadata/manifest-" in p]
    t = t.refresh()
    new_list = pq.read_table(
        os.path.join(t.root, t.snapshot()["manifest_list"])
    ).to_pylist()
    assert new_list[:-1] == parent_list
    assert new_list[-1]["n_entries"] == 1 and new_list[-1]["record_count"] == 4


@pytest.mark.parametrize("spec", [None, SPEC])
def test_slice_writer_names_and_stats(tmp_path, spec):
    """The one slice writer: file names, partition values and row counts."""
    import pyarrow as pa

    from nessie_spark.lakehouse.writer import IMAGES_ARROW, write_slices

    rows = [synth.row_for(7, i) for i in range(12)]
    tbl = pa.Table.from_pylist(
        [dict(r, bytes=bytes(r["bytes"])) for r in rows], schema=IMAGES_ARROW
    )
    entries = write_slices(tbl, str(tmp_path), "j-append-p00000", IMAGES_ARROW, spec=spec)
    assert sum(e["record_count"] for e in entries) == 12
    if spec is None:
        assert [e["file_path"] for e in entries] == ["data/j-append-p00000.parquet"]
        assert entries[0]["partition"] == ""
    else:
        pvals = [e["partition"] for e in entries]
        assert pvals == sorted(pvals) and len(set(pvals)) == len(pvals) > 1
        assert [e["file_path"] for e in entries] == [
            f"data/j-append-p00000-{k}.parquet" for k in range(len(entries))
        ]
    assert write_slices(tbl.slice(0, 0), str(tmp_path), "empty", IMAGES_ARROW, spec=spec) == []
