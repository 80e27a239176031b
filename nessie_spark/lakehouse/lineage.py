"""Checkpoint manifest: per-partition lineage rows for resumable jobs.

FIXTURES.md §6 shape: every job phase records, per work unit (bin /
partition), the input files, output files, row/byte counts and metrics.
Rows are written *by the task that did the work* (one tiny parquet per
unit under ``_lineage/{job_id}/{phase}/``), so a driver crash mid-phase
loses nothing: resume lists the directory, skips completed units, and the
deterministic output naming (writer.py) makes re-runs byte-stable.

This is the engine's graft of the reference's CV fold orchestration +
callback state (/root/reference/nessie/helper.py:78-135, 138-256): fold ≙
work unit, out-of-fold scatter ≙ per-unit lineage gather.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

LINEAGE_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("phase", pa.string()),
        ("partition_id", pa.int32()),
        ("input_files", pa.list_(pa.string())),
        ("output_files", pa.list_(pa.string())),
        ("rows", pa.int64()),
        ("bytes", pa.int64()),
        ("metrics", pa.map_(pa.string(), pa.float64())),
        ("committed", pa.bool_()),
    ]
)

LINEAGE_DDL = (
    "job_id string, phase string, partition_id int, input_files array<string>, "
    "output_files array<string>, rows long, bytes long, metrics map<string,double>, "
    "committed boolean"
)


def _phase_dir(root: str, job_id: str, phase: str) -> str:
    return os.path.join(root, "_lineage", job_id, phase)


def write_unit(
    root: str,
    job_id: str,
    phase: str,
    partition_id: int,
    input_files: list[str],
    output_files: list[str],
    rows: int,
    nbytes: int,
    metrics: dict[str, float] | None = None,
) -> None:
    """Record one completed work unit (called from inside the task)."""
    d = _phase_dir(root, job_id, phase)
    os.makedirs(d, exist_ok=True)
    row = {
        "job_id": job_id,
        "phase": phase,
        "partition_id": partition_id,
        "input_files": input_files,
        "output_files": output_files,
        "rows": rows,
        "bytes": nbytes,
        "metrics": list((metrics or {}).items()),
        "committed": False,
    }
    path = os.path.join(d, f"p{partition_id:05d}.parquet")
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA), tmp)
    os.replace(tmp, path)


def read_phase(root: str, job_id: str, phase: str) -> pa.Table:
    d = _phase_dir(root, job_id, phase)
    if not os.path.isdir(d):
        return LINEAGE_SCHEMA.empty_table()
    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    if not files:
        return LINEAGE_SCHEMA.empty_table()
    return pa.concat_tables([pq.read_table(f, schema=LINEAGE_SCHEMA) for f in files])


def completed_units(root: str, job_id: str, phase: str) -> set[int]:
    """Work units already done — resume skips these (anti-join semantics)."""
    return set(read_phase(root, job_id, phase).column("partition_id").to_pylist())


def output_entries(
    root: str, job_id: str, phase: str, fresh: list[dict], partition_of, zkey=None
) -> pa.Table:
    """Manifest entries of every output file of ``phase``'s units, as one
    FILE_ENTRY_SCHEMA table: the stats the units returned in this run
    (``fresh``), then stats re-derived for the outputs of units completed
    before a crash, from a column-pruned re-read (no pixel byte reaches
    the driver). ``partition_of(unit_id)``: the hidden-partition value of
    that unit's outputs. ``zkey(tbl)``: each row's curve key, so a resumed
    Z-order output keeps its zorder_lo/hi."""
    from nessie_spark.lakehouse.table import FILE_ENTRY_SCHEMA
    from nessie_spark.lakehouse.writer import stats_entry_for

    entries = list(fresh)
    have = {e["file_path"] for e in entries}
    for u in read_phase(root, job_id, phase).to_pylist():
        for p in u["output_files"]:
            if p in have:
                continue
            path = os.path.join(root, p)
            t = pq.read_table(path, columns=["image_id", "w", "h", "phash"])
            if zkey is not None:
                t = t.append_column("zkey", pa.array(zkey(t), pa.int64()))
            entries.append(stats_entry_for(
                t, p, os.path.getsize(path), partition=partition_of(u["partition_id"])
            ))
    return pa.Table.from_pylist(entries, schema=FILE_ENTRY_SCHEMA)


def write_plan(root: str, job_id: str, plan: dict) -> None:
    """Pin a job's PLAN (bin/group composition, bounds, input set) before
    any work unit runs. Resume unit ids are positional indexes into the
    planned work list, so a resume MUST replay against the same plan — a
    table mutated between crash and resume would otherwise shift indexes
    (mis-binding completed units) and lose or duplicate rows. Write-once
    (tmp + rename; the first attempt's plan wins)."""
    import json

    d = os.path.join(root, "_lineage", job_id)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "PLAN.json")
    if os.path.exists(path):
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(plan, fh)
    os.replace(tmp, path)


def read_plan(root: str, job_id: str) -> dict | None:
    import json

    path = os.path.join(root, "_lineage", job_id, "PLAN.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def mark_committed(root: str, job_id: str, snapshot_id: int) -> None:
    d = os.path.join(root, "_lineage", job_id)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "COMMITTED"), "w") as fh:
        fh.write(str(snapshot_id))


def committed_snapshot(root: str, job_id: str) -> int | None:
    """Snapshot id already committed under this job_id, else None.

    Two sources, checked in order:
    1. the COMMITTED marker (fast path);
    2. the table metadata itself — every job commit records its job_id in
       the snapshot summary, so the COMMIT is the authoritative idempotency
       record. This closes the commit→mark_committed crash window: a job
       that died between the two would otherwise re-run and double-add its
       already-live outputs (r1 ADVICE). A hit backfills the marker."""
    import json

    p = os.path.join(root, "_lineage", job_id, "COMMITTED")
    if os.path.exists(p):
        with open(p) as fh:
            return int(fh.read().strip())
    mdir = os.path.join(root, "metadata")
    try:
        versions = [
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        ]
        if not versions:
            return None
        with open(os.path.join(mdir, f"v{max(versions)}.json")) as fh:
            meta = json.load(fh)
    except OSError:
        return None
    for snap in reversed(meta.get("snapshots", [])):
        if snap.get("summary", {}).get("job_id") == job_id:
            mark_committed(root, job_id, snap["snapshot_id"])
            return snap["snapshot_id"]
    return None
