"""SparkSession factory for the engine.

Design notes (scale-first):
- AQE on: runtime coalescing of shuffle partitions + skew-join backstop.
- Arrow on: every pandas UDF / mapInArrow crossing is batched, never per-row.
- ``spark.sql.ansi.enabled=false`` for *engine* sessions only: the engine's
  hash / bit-interleave arithmetic relies on wrap-around int64 semantics
  (xxhash64-derived keys, Morton interleaves). Query operators in
  ``nessie_spark.operators`` are written ANSI-safe regardless, because the
  correctness driver supplies its own session.
- Arrow batch size bounded by records; for binary image payloads the writer
  path additionally re-batches by bytes (see lakehouse.kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "nessie_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a local SparkSession tuned for the engine.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster
    the same settings apply; only ``master`` changes (spark-submit supplies
    it), so we never override master if one is already configured.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)

    # One BLAS thread per Python worker: Spark already runs `cores` workers
    # in parallel, so library-level threading inside numpy (OpenBLAS spins
    # its own pool for matmul) only oversubscribes the host — measured as a
    # 2-3x slowdown of the Arrow-batched image kernels at local[32]. Set in
    # this process BEFORE the JVM launches (workers inherit the JVM env),
    # plus executorEnv for cluster deployments.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Fat-binary-row tables (17 KB image cells): the default 4096-row
        # columnar batch is a ~70 MB vector per reader — G1-humongous churn
        # that inflated concurrent-scan CPU ~1.8× (measured per-stage at 8
        # cores); 512 rows ≈ 8 MB. Costs nothing measurable on int scans.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("NESSIE_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    # Only set master when none is configured (spark-submit / driver harness
    # may have set one already).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT" not in os.environ:
        b = b.master(f"local[{cores}]")
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


import contextlib


@contextlib.contextmanager
def no_coalesce(spark: SparkSession):
    """Disable AQE shuffle-partition coalescing for the enclosed action.

    Jobs whose tasks do heavy work per shuffle partition (the small-file
    fixture append, one ``applyInArrow`` group per data file; the manifest
    rewrite, one ``mapInArrow`` task per manifest) would lose their
    parallelism to AQE: it merges shuffle partitions up to its advisory
    size (64 MB by default), so a stage of a few MB becomes one task and
    the job runs serially. Around these actions we pin the partitioning.
    """
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)
