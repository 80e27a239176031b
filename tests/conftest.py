"""Shared fixtures: one session-scoped SparkSession + a seeded small table.

Mirrors the reference's fixture discipline (seed 42, smoke scales;
/root/reference/tests/conftest.py:39-42, 149-190).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import contextmanager, nullcontext

import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import jobs, scan, zorder
from nessie_spark.session import get_spark

SMOKE_N = 256
# where a rewrite's units run: the placement rule's choice (the driver, for
# the tiny tables here) or forced to Spark by ``on_spark``
PLACEMENTS = ["driver", "spark"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="nessie-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_small(spark):
    """256-row deterministic images DataFrame (FIXTURES.md §1 smoke scale)."""
    return synth.images_df(spark, SMOKE_N, seed=42)


def make_table(spark, root: str, n: int = SMOKE_N, mean_rows: int = 24):
    """Fresh table at ``root`` with the deliberately-small-file layout."""
    shutil.rmtree(root, ignore_errors=True)
    t = jobs.create_images_table(root)
    df = synth.images_df(spark, n, seed=42)
    bounds = synth.lognormal_file_boundaries(n, seed=42, mean_rows=mean_rows)
    snap = jobs.append(spark, t, df, job_id="ingest", file_boundaries=bounds)
    return t.refresh(), snap


@pytest.fixture(scope="session")
def table_small(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tbl") / "images")
    return make_table(spark, root)


@contextmanager
def spark_jobs(spark, group: str):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def on_spark(spark):
    """Send all work inside the block to Spark: with both limits of
    ``scan.on_driver`` at 0, planning, reads, expiry, GC, manifest rewrite
    and compaction planning run as Spark jobs, and a ``createDataFrame`` of
    Arrow or pandas data made in the block is not local, so appending it
    writes in tasks."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    spark.conf.set(key, "0")
    entries, scan.DRIVER_MAX_ENTRIES = scan.DRIVER_MAX_ENTRIES, 0
    try:
        yield
    finally:
        scan.DRIVER_MAX_ENTRIES = entries
        spark.conf.unset(key)


def placed(spark, placement: str):
    """The block on ``placement``, one of PLACEMENTS."""
    return on_spark(spark) if placement == "spark" else nullcontext()


_LIVE_FILES: dict[str, list] = {}


def assert_same_on_every_placement(key: str, t) -> None:
    """Check that each placement of one parametrized test leaves the same
    live files: the first placement to run records every live manifest
    entry (name, stats, partition value) with its file's sha256 under
    ``key``, and each later one must match that record exactly. pytest
    runs a test's parameters one after another in one session."""
    got = []
    entries = t.refresh().file_entries().to_pylist()
    for e in sorted(entries, key=lambda e: e["file_path"]):
        with open(os.path.join(t.root, e["file_path"]), "rb") as fh:
            got.append((e, hashlib.sha256(fh.read()).hexdigest()))
    assert _LIVE_FILES.setdefault(key, got) == got


@contextmanager
def crash_after(k: int):
    """Crash the rewrite job run inside the block after ``k`` work units.

    Wraps ``scan._map_units``, the one place compaction bins, Z-order
    scatter and gather units and ``purge_deletes`` candidates run, and
    counts units across all of the job's calls, so the crash can land in
    either Z-order phase. The first ``k``
    units run to completion on the job's own placement; then the driver
    raises ``RuntimeError("injected ...")``. Raising on the driver, not in
    a task, keeps the set of completed units the same on every run.
    Planning units (``plan_files`` tier 2, Z-order pass 1) run uncounted:
    they write nothing, so a crash among them is a crash before the job
    starts."""
    real = scan._map_units
    left = k

    def _map_units(spark, fn, units, driver):
        nonlocal left
        if fn in (scan._prune_manifest, zorder._key_unit):
            return real(spark, fn, units, driver)
        allowed = units[:left]
        left -= len(allowed)
        out = real(spark, fn, allowed, driver)
        if len(allowed) < len(units):
            raise RuntimeError(f"injected failure after {k} unit(s)")
        return out

    scan._map_units = _map_units
    try:
        yield
    finally:
        scan._map_units = real
