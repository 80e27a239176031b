"""Table lifecycle jobs: create + append (the ingest path).

An append writes its rows with the engine's one Arrow slice writer
(writer.write_slices) in one of two places:

- **on the driver**, when ``df.isLocal()`` (a bare ``LocalRelation``: Arrow
  or pandas data that PySpark kept in the plan, up to
  ``spark.sql.execution.arrow.localRelationThreshold``, the byte limit of
  the engine's one driver-or-Spark rule ``scan.on_driver``), no
  ``file_boundaries`` layout is asked for and no write sort order applies.
  The rows are already in the driver, ``collect()`` on them starts no
  Spark job, and the append writes one file per hidden-partition value.
- **in Spark tasks** otherwise: one file per Spark partition, or, under
  ``file_boundaries``, one ``applyInArrow`` group per file id. Only the
  per-file stats rows (manifest entries) travel to the driver for the
  atomic commit — O(#files), never O(#rows).

Every path splits its rows by the table's partition spec, so no data file
spans partition values, and every path writes the table's evolved columns
at their table types. Every append, the ``format("nessie")`` sinks' too,
commits through ``commit_append``.
"""

from __future__ import annotations

import uuid

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema

from nessie_spark.lakehouse import lineage
from nessie_spark.lakehouse.partition import PVAL_COL, stamp_pval, table_spec
from nessie_spark.lakehouse.scan import IMAGES_DDL
from nessie_spark.lakehouse.table import FILE_ENTRY_DDL, FILE_ENTRY_SCHEMA, Table
from nessie_spark.lakehouse.writer import (
    arrow_schema_from_ddl, write_partition_files, write_slices,
)
from nessie_spark.session import no_coalesce


def create_images_table(root: str, properties: dict | None = None) -> Table:
    return Table.create(root, IMAGES_DDL, properties)


def _local_arrow(df: DataFrame) -> pa.Table:
    """The rows of a local DataFrame as an Arrow table. ``collect()`` on a
    ``LocalRelation`` reads the rows held in the plan and starts no Spark
    job."""
    schema = to_arrow_schema(df.schema)
    cols = list(zip(*df.collect())) or [[] for _ in schema]
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, schema)], schema=schema
    )


def append(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    job_id: str | None = None,
    file_boundaries: list[int] | None = None,
    sort_order: str | None = None,
    stage_only: bool = False,
    to_ref: str | None = None,
) -> int:
    """Append ``df`` (images schema) as a new snapshot.

    Where the rows are written: a local ``df`` (``df.isLocal()`` — e.g.
    ``createDataFrame`` of a pandas frame or Arrow table within
    ``scan.on_driver``'s byte limit, with no transformation on top) with no
    ``file_boundaries`` and no sort order is written on the driver, one
    file per hidden-partition value, without a Spark job. Any other input
    is written by Spark tasks, one file per partition. All paths take the
    same guards, stats, commit and lineage unit; ``.repartition(n)`` on a
    local frame asks for the Spark layout explicitly.

    ``stage_only``: write-audit-publish staging — the appended files and
    snapshot are durable but the current pointer does not move until
    ``table.publish_snapshot(snap_id)`` (see Table.commit).

    ``file_boundaries``: optional cumulative row-index boundaries producing an
    exact many-small-files layout (compaction fixture). Row → file assignment
    is a vectorized searchsorted over the numeric suffix of ``image_id`` —
    deterministic, shuffle = one hash partitioning by file_id. Each file id
    is one ``applyInArrow`` group, written by ``write_slices`` in its task as
    ``data/{job_id}-append-gNNNNN.parquet``; on a partitioned table a group
    that spans k values becomes k files, ``...-gNNNNN-0`` to ``-{k-1}``.

    ``sort_order`` (or the table property ``write.sort-order``, values
    ``zorder``/``morton``/``hilbert``): Iceberg's write-time sort order —
    appended rows are range-partitioned + sorted on the table's
    space-filling-curve key BEFORE writing, so fresh data lands with
    narrow per-file stats and prunes immediately, instead of waiting for
    the next clustering run. One extra shuffle per append; ignored under
    ``file_boundaries`` (that layout is the deliberately-unsorted
    compaction fixture).
    """
    job_id = job_id or f"append-{uuid.uuid4().hex[:8]}"
    # Idempotency guard (same contract as compact/merge): re-running a
    # committed job_id must be a no-op, not an overwrite of live data files
    # at the deterministic data/{job_id}-append-* paths (r1 ADVICE).
    prior = lineage.committed_snapshot(table.root, job_id)
    if prior is not None:
        return prior
    schema = arrow_schema_from_ddl(table.meta.get("schema", IMAGES_DDL))
    extra = [c for c in df.columns if c not in schema.names and c != "zkey"]
    if extra:
        raise ValueError(
            f"append columns {extra} not in table schema; evolve first "
            "(lakehouse.evolve.add_column)"
        )
    spec = table_spec(table)
    order = sort_order or (table.meta.get("properties") or {}).get("write.sort-order")
    if file_boundaries is not None:
        import numpy as np

        bounds = np.asarray(file_boundaries, dtype=np.int64)

        @pandas_udf("int")
        def file_id_of(image_id: pd.Series) -> pd.Series:
            idx = image_id.str.slice(4).astype("int64").to_numpy()
            return pd.Series(np.searchsorted(bounds, idx, side="right").astype("int32"))

        root = table.root

        # no type hints: applyInArrow infers its eval type from them, and a
        # partial hint fails that inference (as in plans/ffd._pack)
        def _write_group(key, tbl):
            return pa.Table.from_pylist(
                write_slices(
                    tbl, root, f"{job_id}-append-g{key[0].as_py():05d}",
                    spec=spec, schema=schema,
                ),
                schema=FILE_ENTRY_SCHEMA,
            )

        with no_coalesce(spark):
            entries = (
                df.withColumn("file_id", file_id_of(df["image_id"]))
                .groupBy("file_id")
                .applyInArrow(_write_group, FILE_ENTRY_DDL)
                .toArrow()
            )
    elif not order and df.isLocal():
        entries = pa.Table.from_pylist(
            write_slices(
                _local_arrow(df), table.root, f"{job_id}-append-p00000",
                spec=spec, schema=schema,
            ),
            schema=FILE_ENTRY_SCHEMA,
        )
    else:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if order:
            from nessie_spark.lakehouse.zorder import zorder_key

            strategy = "morton" if order in ("zorder", "morton") else order
            key = zorder_key(strategy)(F.col("phash"), F.col("w"), F.col("h"))
            # explicit partition count: the column-only form participates in
            # AQE partition coalescing, which at small batch sizes merges
            # every range into one file and destroys the per-file stats this
            # feature exists to narrow. shuffle.partitions is the session's
            # parallelism knob — the same sizing rule as any append shuffle.
            df = df.withColumn("zkey", key)
            range_cols = [F.col("zkey")]
        else:
            range_cols = []
        if spec:
            # hidden partitioning: range-partition on (pval, ...) — NOT a
            # hash on pval alone, which would funnel each partition value
            # into one task (a low-cardinality identity spec like fmt would
            # serialize the whole append). Ranges keep tasks ~single-value
            # while spreading big values over many tasks; the writer splits
            # the few boundary tasks per value.
            df = stamp_pval(df, spec)
            range_cols = [F.col(PVAL_COL)] + (range_cols or [F.col("image_id")])
        if range_cols:
            df = df.repartitionByRange(n_parts, *range_cols).sortWithinPartitions(
                *range_cols
            )
        stats = write_partition_files(df, table.root, job_id, "append", schema)
        entries = stats.toArrow()
    return commit_append(
        table, job_id, entries, stage_only=stage_only, to_ref=to_ref
    )


def commit_append(
    table: Table,
    job_id: str,
    entries: pa.Table,
    summary: dict | None = None,
    stage_only: bool = False,
    to_ref: str | None = None,
) -> int:
    """Commit written data files as one ``append`` snapshot: the commit,
    then the job's lineage unit, then its committed marker, which makes a
    rerun of ``job_id`` a no-op. ``entries``: the files' manifest entries
    (FILE_ENTRY_SCHEMA). ``summary`` adds to the snapshot summary's
    ``job_id``. ``jobs.append`` and both ``format("nessie")`` sinks commit
    through here; each checks its committed ``job_id`` and an empty write
    itself."""
    snap_id = table.commit(
        "append", added=entries, summary={"job_id": job_id, **(summary or {})},
        stage_only=stage_only, to_ref=to_ref,
    )
    lineage.write_unit(
        table.root, job_id, "append", 0,
        input_files=[], output_files=entries.column("file_path").to_pylist(),
        rows=int(sum(entries.column("record_count").to_pylist() or [0])),
        nbytes=int(sum(entries.column("file_size_bytes").to_pylist() or [0])),
    )
    lineage.mark_committed(table.root, job_id, snap_id)
    return snap_id
