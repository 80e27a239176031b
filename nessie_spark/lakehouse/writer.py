"""Data-file writer: one Arrow slice writer, run in Spark tasks or on the
driver.

``write_slices`` writes an Arrow table as parquet data files with pyarrow,
one file per hidden-partition value, and returns one manifest-entry stats
row per file. It has four callers:

- ``write_partition_files``: one file per Spark partition, written *inside*
  the task (``mapInArrow`` — Arrow batches end-to-end, no row-at-a-time
  Python). The driver only ever sees the (tiny) stats, never pixel bytes.
- the ``format("nessie")`` sink's task writer (sources/spark_datasource.py).
- ``jobs.append`` for a local DataFrame (``df.isLocal()``): the rows are
  already on the driver, so the driver writes them and no Spark job runs.
- ``jobs.append`` with ``file_boundaries`` (the small-file fixture): one
  ``applyInArrow`` group per file id, written inside the task.

Determinism/resumability: the engine's file names are pure functions of
``(job_id, phase, partition or group id)`` and writes go to a temp name +
atomic ``os.replace`` — task retries and job re-runs land byte-stable on
the same paths (pairs with lineage.py skip logic).

Scale note: on a real cluster ``table_root`` is an object-store URI and the
``os``-level rename swaps for a conditional PUT; the Spark topology
(partition → file, stats → driver) is unchanged.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame

from nessie_spark.lakehouse.bloom import bloom_from_keys
from nessie_spark.lakehouse.partition import PVAL_COL, row_values
from nessie_spark.lakehouse.scan import IMAGES_DDL
from nessie_spark.lakehouse import kernels as _kernels_preload  # noqa: F401
# Module-level so the per-worker writer preload (bench warm-up) also pulls
# in the image codec stack (kernels -> jpegvec LUTs) outside any timed task.
from nessie_spark.lakehouse.table import FILE_ENTRY_DDL, FILE_ENTRY_SCHEMA

# Spark-DDL ↔ Arrow type map for the evolvable column types (schema
# evolution is add-column-only; see lakehouse/evolve.py)
_DDL_ARROW = {
    "string": pa.string(),
    "binary": pa.binary(),
    "int": pa.int32(),
    "long": pa.int64(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
}


def ddl_columns(ddl: str) -> list[str]:
    """Column names of a flat ``name type, ...`` DDL string, in order."""
    return [f.strip().split()[0] for f in ddl.split(",")]


def arrow_schema_from_ddl(ddl: str) -> pa.Schema:
    fields = []
    for f in ddl.split(","):
        name, typ = f.strip().split()[:2]
        if typ.lower() not in _DDL_ARROW:
            raise ValueError(f"unsupported column type {typ!r} in table DDL")
        fields.append((name, _DDL_ARROW[typ.lower()]))
    return pa.schema(fields)


IMAGES_ARROW = arrow_schema_from_ddl(IMAGES_DDL)
DATA_COLUMNS = ddl_columns(IMAGES_DDL)


def align_to_schema(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """Project ``tbl`` onto ``schema``: reorder, cast, and NULL-pad columns
    the file predates (Iceberg add-column semantics — old data files are
    immutable; readers backfill). Extra staging columns are dropped."""
    arrays = []
    for f in schema:
        if f.name in tbl.schema.names:
            arrays.append(tbl.column(f.name).cast(f.type))
        else:
            arrays.append(pa.chunked_array([pa.nulls(tbl.num_rows, f.type)]))
    return pa.Table.from_arrays(arrays, schema=schema)


def stats_entry_for(
    tbl: pa.Table, path: str, size_bytes: int, partition: str = ""
) -> dict:
    """Manifest-entry stats for one written file (FIXTURES.md §2 goldens:
    min/max must actually bound the file's rows — asserted in tests).
    ``partition``: the file's hidden-partition value (lakehouse/partition.py)
    — "" for unpartitioned tables and pre-spec files."""
    wh = pc.multiply(tbl.column("w").cast(pa.int64()), tbl.column("h").cast(pa.int64()))
    has_z = "zkey" in tbl.schema.names
    return {
        "file_path": path,
        "file_format": "parquet",
        "partition": partition,
        "record_count": tbl.num_rows,
        "file_size_bytes": size_bytes,
        "min_phash": pc.min(tbl.column("phash")).as_py(),
        "max_phash": pc.max(tbl.column("phash")).as_py(),
        "min_wh": pc.min(wh).as_py(),
        "max_wh": pc.max(wh).as_py(),
        "zorder_lo": pc.min(tbl.column("zkey")).as_py() if has_z else None,
        "zorder_hi": pc.max(tbl.column("zkey")).as_py() if has_z else None,
        "min_key": pc.min(tbl.column("image_id")).as_py(),
        "max_key": pc.max(tbl.column("image_id")).as_py(),
        "key_bloom": bloom_from_keys(tbl.column("image_id").to_pylist()),
        "added_snapshot_id": -1,
        # stamped by Table.commit (the schema version current at commit);
        # carried as an explicit NULL so every entry shape — dicts,
        # pd.DataFrame rows, RecordBatch — matches FILE_ENTRY_SCHEMA
        "schema_id": None,
    }


def write_table_file(tbl: pa.Table, abs_path: str) -> int:
    """Atomic parquet write; returns file size in bytes."""
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    tmp = abs_path + f".tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(tbl, tmp, compression="snappy")
    os.replace(tmp, abs_path)
    return os.path.getsize(abs_path)


def _partition_slices(
    tbl: pa.Table, spec: list | None = None
) -> list[tuple[str, pa.Table]]:
    """Split ``tbl`` into one ``(partition value, rows)`` slice per hidden
    partition value, in value order: a data file never spans values.

    The value comes from the staged ``PVAL_COL`` when the Spark write
    stamped one (``partition.stamp_pval``), else from ``spec`` through
    ``partition.row_values`` (the driver-side transform twin); with neither
    the whole table is one unpartitioned ("") slice. An empty table has no
    slices."""
    if tbl.num_rows == 0:
        return []
    if PVAL_COL in tbl.schema.names:
        pvals = tbl.column(PVAL_COL)
    elif spec:
        pvals = row_values(tbl, spec)
    else:
        return [("", tbl)]
    return [
        (g, tbl.filter(pc.equal(pvals, g)))
        for g in sorted(pc.unique(pvals).to_pylist())
    ]


def write_slices(
    tbl: pa.Table,
    table_root: str,
    stem: str,
    spec: list | None = None,
    columns: list[str] | None = None,
) -> list[dict]:
    """Write one Arrow table as data files and return their manifest-entry
    stats: one file per hidden-partition slice (``_partition_slices``),
    named ``data/{stem}[-k].parquet``. The Spark task writer, the
    ``format("nessie")`` sink and the driver-side append all write
    through here.

    ``columns``: the written column set (those absent from ``tbl`` are
    not written; readers NULL-backfill); None writes every column.
    Staging columns (``zkey``, the partition value) feed the stats only."""
    slices = _partition_slices(tbl, spec)
    entries = []
    for k, (pval, part_tbl) in enumerate(slices):
        suffix = f"-{k}" if len(slices) > 1 else ""
        rel = f"data/{stem}{suffix}.parquet"
        data_tbl = (
            part_tbl if columns is None
            else part_tbl.select([c for c in columns if c in part_tbl.schema.names])
        )
        size = write_table_file(data_tbl, os.path.join(table_root, rel))
        entries.append(stats_entry_for(part_tbl, rel, size, partition=pval))
    return entries


def write_partition_files(
    df: DataFrame, table_root: str, job_id: str, phase: str,
    data_columns: list[str],
) -> DataFrame:
    """Write each partition of ``df`` as one data file; return stats DF.

    ``df`` must carry the images schema (optionally plus ``zkey``, which is
    recorded in stats but dropped from the data file, and the stamped
    hidden-partition value). ``data_columns`` is the table's written column
    set (columns absent from ``df`` are simply not written; readers
    NULL-backfill). The appends and MERGE INTO that write through here move
    rows as they are; pixel work happens in the rewrite units of compaction
    and Z-order clustering.
    """
    def _write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        rows = list(batches)
        if not rows:
            return
        # hidden partitioning: the append shuffle range-partitions on
        # (pval, id), so nearly every task holds ONE value and the split
        # is a no-op; boundary tasks split into one file per value
        entries = write_slices(
            pa.Table.from_batches(rows), table_root,
            f"{job_id}-{phase}-p{pid:05d}", columns=data_columns,
        )
        if entries:
            yield pa.RecordBatch.from_pylist(entries, schema=FILE_ENTRY_SCHEMA)

    return df.mapInArrow(_write, FILE_ENTRY_DDL)
