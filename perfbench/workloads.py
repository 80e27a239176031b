"""The benchmark workloads and the closed-loop client that drives them.

Every engine call goes through a module attribute of ``nessie_spark.synth``
or ``nessie_spark.lakehouse.*`` (``compact.compact``, never a name imported
from it), so the traced run can wrap it.

A workload has a ``setup`` (build the input table once, then run one untimed
warm-up round on a hardlink copy of it) and a ``phase`` (the measured work,
on fresh hardlink copies of the input, ending in an untimed correctness
gate). The amount of work is fixed by class constants. The client keeps a
model of the rows every snapshot it produced must hold (image_id -> caption,
phash) and checks every timed read against it.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nessie_spark import synth
from nessie_spark.lakehouse import (
    compact, jobs, kernels, maintain, merge, scan, verify, zorder,
)
from nessie_spark.lakehouse.table import Table

MiB = 1 << 20
# phash is a signed 64-bit value; a range scan covers 1/RANGE_FRACTION of it
RANGE_FRACTION = 48


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def entries(table: Table) -> dict[str, dict]:
    """Live data files of the current snapshot: path -> manifest entry."""
    cols = ["file_path", "record_count", "file_size_bytes"]
    return {e["file_path"]: e for e in table.file_entries(columns=cols).to_pylist()}


def written(before: dict, after: dict) -> tuple[int, int]:
    """(rows, bytes) of the live data files in ``after`` that ``before`` lacks."""
    new = [e for p, e in after.items() if p not in before]
    return sum(e["record_count"] for e in new), sum(e["file_size_bytes"] for e in new)


def data_files(root: str) -> dict[str, int]:
    """Every file under the table's data directory: path -> bytes. Cheaper
    than reading the manifests when only the bytes a job wrote matter."""
    out = {}
    for d, _, files in os.walk(os.path.join(root, "data")):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def capped(bounds: list[int], max_rows: int) -> list[int]:
    """File boundaries with every file longer than ``max_rows`` split into
    pieces of at most that many rows."""
    out, start = [], 0
    for end in bounds:
        out.extend(range(start + max_rows, end, max_rows))
        out.append(end)
        start = end
    return out


def row_bytes(row: dict) -> int:
    """Uncompressed size of one images-schema row (fixed-width columns
    counted at 8 bytes)."""
    return len(row["bytes"]) + len(row["caption"]) + len(row["image_id"]) + len(row["fmt"]) + 24


class Client:
    """One closed-loop client: issues the next call only after the previous
    one returned, and records latency, failures and wrong answers."""

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.tracer = None
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.lat: dict[str, list[float]] = {}
        # the workload's repeated write job (rewrite pass or append)
        self.writes: list[float] = []
        # rows and seconds of jobs that rewrite existing data files
        self.rows_rewritten = 0
        self.rewrite_s = 0.0
        # data bytes the write jobs wrote, and bytes of the rows they carried
        self.bytes_written = 0
        self.source_bytes = 0
        self.space_amp = 0.0
        self.layer: dict[str, float] = {}
        # traced run only: raw facts for ratios computed after timing
        self.reads: list[tuple] = []
        self.merges: list[tuple] = []
        self._file_ids: dict[str, set] = {}

    # -- bookkeeping ---------------------------------------------------------

    def record(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)

    def check(self, ok: bool, what: str) -> None:
        """Untimed correctness gate: a failure marks the operation it checks
        as incorrect."""
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one timed client operation; returns (result, ok)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(f"client.{kind}"):
                    res = fn(*args, **kwargs)
            else:
                res = fn(*args, **kwargs)
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.problems.append(f"{kind}: {type(e).__name__}: {e}")
            return None, False
        self.record(kind, time.perf_counter() - t0)
        return res, True

    def finish(self, table: Table) -> None:
        """Space amplification of the table the phase leaves behind."""
        live = sum(e["file_size_bytes"] for e in entries(table).values())
        self.space_amp = tree_bytes(table.root) / live

    # -- building blocks -----------------------------------------------------

    def build(self, root: str, n: int, wh: tuple[int, int], mean_rows: int):
        """Ingest ``n`` synthetic images as a lognormal small-file table.
        Returns the table and the model of its rows, taken from the
        generator's output rather than read back through the engine."""
        t = jobs.create_images_table(root)
        df = synth.images_df(self.spark, n, seed=self.seed, wh=wh, partitions=2 * self.cores)
        df = df.cache()
        t0 = time.perf_counter()
        df.count()
        self.layer["synth.images_per_s"] = n / (time.perf_counter() - t0)
        pdf = df.select("image_id", "caption", "phash").toPandas()
        # the lognormal tail can put a third of the table in one file, which
        # then is no small file and is skipped by compaction; capping files
        # at 3x the mean keeps every seed's jobs doing the same work
        bounds = capped(synth.lognormal_file_boundaries(n, seed=self.seed, mean_rows=mean_rows),
                        3 * mean_rows)
        jobs.append(self.spark, t, df, job_id="ingest", file_boundaries=bounds)
        df.unpersist()
        return t.refresh(), {r.image_id: (r.caption, int(r.phash)) for r in pdf.itertuples()}

    def rows_df(self, ids, wh, caption_tag: str = ""):
        rows = []
        for i in ids:
            r = synth.row_for(self.seed, i, wh=wh)
            r["bytes"] = bytes(r["bytes"])
            r["caption"] += caption_tag
            rows.append(r)
        return self.spark.createDataFrame(pd.DataFrame(rows), synth.IMAGES_SCHEMA), rows

    def copy_input(self, src: str, name: str) -> Table:
        """Hardlink copy of the input table: data and metadata files are
        never rewritten in place, so the copies cannot disturb each other."""
        dst = os.path.join(self.work, name)
        shutil.copytree(src, dst, copy_function=os.link)
        return Table.load(dst)

    # -- reads ---------------------------------------------------------------

    def read_probe(self, table: Table, models: dict, n_lookups: int, n_ranges: int) -> None:
        """Point lookups pinned to the snapshots in ``models`` (round-robin)
        and phash range scans pinned to the newest of them, each checked
        against its snapshot's model."""
        sids = sorted(models)
        for i in range(n_lookups):
            sid = sids[i % len(sids)]
            model = models[sid]
            key = _pick(self.rng, model)
            mark = len(self.tracer.spans) if self.tracer is not None else 0
            rows, ok = self.op(
                "lookup", lambda: scan.scan(
                    self.spark, table, snapshot_id=sid, key_eq=key,
                    columns=["image_id", "caption"],
                ).collect()
            )
            if ok:
                self.check(len(rows) == 1 and rows[0].caption == model[key][0],
                           f"lookup {key}@{sid} returned {rows!r}")
                self.reads.append((table.root, "lookup", mark, {key}))
        span = (1 << 64) // RANGE_FRACTION
        sid = sids[-1]
        model = models[sid]
        for _ in range(n_ranges):
            centre = model[_pick(self.rng, model)][1]
            lo, hi = max(centre - span // 2, -(1 << 63)), min(centre + span // 2, (1 << 63) - 1)
            mark = len(self.tracer.spans) if self.tracer is not None else 0
            rows, ok = self.op(
                "range", lambda: scan.scan(
                    self.spark, table, snapshot_id=sid, phash_range=(lo, hi),
                    columns=["image_id"],
                ).collect()
            )
            if ok:
                got = {r.image_id for r in rows}
                want = {k for k, (_, ph) in model.items() if lo <= ph <= hi}
                self.check(got == want,
                           f"range {lo}..{hi}@{sid}: {len(got)} rows, want {len(want)}")
                self.reads.append((table.root, "range", mark, got))

    def snapshot_rows(self, table: Table, sid: int) -> int:
        return scan.scan(self.spark, table, snapshot_id=sid, columns=["image_id"]).count()

    # -- traced run: ratios computed after the timed phase --------------------

    def keep_files(self, table: Table) -> None:
        """Hardlink the table's data files aside before a job that may
        delete them, so the ratios computed after timing can still read
        them. Cheap, and done in traced and untraced runs alike."""
        shutil.copytree(table.root, self._kept(table.root), copy_function=os.link,
                        dirs_exist_ok=True)

    def _kept(self, root: str) -> str:
        return os.path.join(self.work, "kept", os.path.basename(root))

    def file_ids(self, root: str, rel: str) -> set:
        key = os.path.join(root, rel)
        if key not in self._file_ids:
            path = key if os.path.exists(key) else os.path.join(self._kept(root), rel)
            col = pq.read_table(path, columns=["image_id"])
            self._file_ids[key] = set(col.column("image_id").to_pylist())
        return self._file_ids[key]

    def prune_precision(self) -> float:
        """Of the files the planner kept for each read, the share that hold
        a row of the answer."""
        planned = useful = 0
        for root, _, mark, hit_ids in self.reads:
            plans = [s for s in self.tracer.spans[mark:] if s["name"] == "scan.plan_files"]
            if not plans:
                continue
            files = plans[0]["attrs"]["files"]
            planned += len(files)
            useful += sum(1 for f in files if self.file_ids(root, f) & hit_ids)
        return useful / planned if planned else 0.0

    def merge_hit_ratio(self) -> float:
        """Of the files the merges matched, the share that held a key the
        merge updated."""
        matched = holding = 0
        for root, before_files, upd, n_matched, _ in self.merges:
            matched += n_matched
            holding += sum(1 for f in before_files if self.file_ids(root, f) & upd)
        return holding / matched if matched else 0.0

    def kernel_probe(self, table: Table, per_fmt: int = 48) -> None:
        """Time ``kernels.reencode_verify`` on images read from the
        workload's own data files, per stored format."""
        picked: dict[str, list[bytes]] = {"png": [], "jpeg": []}
        for rel in sorted(entries(table)):
            tbl = pq.read_table(os.path.join(table.root, rel), columns=["bytes", "fmt"])
            for data, fmt in zip(tbl.column("bytes").to_pylist(), tbl.column("fmt").to_pylist()):
                if len(picked[fmt]) < per_fmt:
                    picked[fmt].append(data)
            if all(len(v) >= per_fmt for v in picked.values()):
                break
        min_psnr = 99.0
        for fmt, datas in picked.items():
            if not datas:
                continue
            kernels.reencode_verify(datas[:4], [fmt] * min(4, len(datas)))  # warm
            t0 = time.perf_counter()
            _, mn = kernels.reencode_verify(datas, [fmt] * len(datas))
            self.layer[f"kernels.reencode_ms_per_image.{fmt}"] = (
                (time.perf_counter() - t0) * 1000 / len(datas)
            )
            min_psnr = min(min_psnr, mn)
        self.layer["kernels.min_psnr"] = min_psnr


def _pick(rng: random.Random, model: dict) -> str:
    keys = list(model)
    return keys[rng.randrange(len(keys))]


class Workload:
    """Sizes are class constants. ``setup`` builds the input and runs one
    warm-up round; ``phase`` is the measured work and can run more than once
    on the same input (the traced run does), each time on fresh copies."""

    name = ""
    N = MEAN_ROWS = 0
    WH = (16, 48)
    # untimed reads after the warm-up writes: a lookup is a small Spark job
    # whose planning gets about a third faster over its first few dozen runs
    # as the JVM compiles it, so the timed reads start from a steady JVM
    WARM_LOOKUPS, WARM_RANGES = 16, 8

    def setup(self, c: Client) -> None:
        self.input, self.model = c.build(
            os.path.join(c.work, "input"), self.N, self.WH, self.MEAN_ROWS)
        # one untimed round of the phase's jobs and reads on its own copy, so
        # JVM classes, Python workers and codec tables are loaded before
        # timing
        w = Client(c.spark, c.seed, c.work, c.cores)
        t, model = self.warm(w, c.copy_input(self.input.root, "warm"))
        w.read_probe(t, {t.current_snapshot_id: model}, self.WARM_LOOKUPS, self.WARM_RANGES)

    def warm(self, c: Client, t: Table) -> tuple[Table, dict]:
        """Run the phase's write jobs once; returns the table and its rows."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# rewrite-pixels
# ---------------------------------------------------------------------------


class RewritePixels(Workload):
    """Small-file table (32-128 px, ~20% JPEG, 5% hot phashes) rewritten by
    compact(reencode=True) then cluster(reencode=True): the pixel codec and
    the rewrite executors dominate; commits and planning are negligible."""

    name = "rewrite-pixels"
    N, WH, MEAN_ROWS = 384, (32, 128), 8
    TARGET = 4 * MiB
    PASSES = 2
    LOOKUPS, RANGES = 8, 10  # after each pass, on the rewritten snapshot

    def rewrite(self, c: Client, t: Table, tag: str) -> Table:
        """One compact + cluster pass; returns the rewritten table."""
        before = entries(t)
        _, ok1 = c.op("compact", compact.compact, c.spark, t, target_bytes=self.TARGET,
                      reencode=True, job_id=f"{tag}-compact")
        t = t.refresh()
        mid = entries(t)
        _, ok2 = c.op("cluster", zorder.cluster, c.spark, t, target_bytes=self.TARGET,
                      reencode=True, job_id=f"{tag}-cluster")
        t = t.refresh()
        if ok1 and ok2:
            rows1, bytes1 = written(before, mid)
            rows2, bytes2 = written(mid, entries(t))
            c.writes.append(c.lat["compact"][-1] + c.lat["cluster"][-1])
            c.rows_rewritten += rows1 + rows2
            c.rewrite_s += c.writes[-1]
            c.bytes_written += bytes1 + bytes2
            c.source_bytes += sum(e["file_size_bytes"] for e in before.values())
        return t

    def warm(self, c: Client, t: Table) -> tuple[Table, dict]:
        return self.rewrite(c, t, "warm"), self.model

    def phase(self, c: Client, tag: str) -> Table:
        for r in range(self.PASSES):
            t = c.copy_input(self.input.root, f"{tag}-pass{r}")
            first = t.current_snapshot_id
            t = self.rewrite(c, t, f"{tag}-{r}")
            c.read_probe(t, {t.current_snapshot_id: self.model}, self.LOOKUPS, self.RANGES)
        # every pass's reads were checked; the full gate runs on the last pass
        self.gate(c, t, first, t.current_snapshot_id)
        c.finish(t)
        return t

    def gate(self, c: Client, t: Table, a: int, b: int) -> None:
        diff = verify.snapshot_rowset_diff(c.spark, t, a, b).count()
        c.check(diff == 0, f"rewrite changed the row set ({diff} rows differ)")
        flagged = verify.caption_flags(c.spark, t, a, b).where("flag").count()
        c.check(flagged == 0, f"{flagged} captions changed by the rewrite")
        px = verify.pixel_verify(c.spark, t, a, b).agg(
            F.count(F.lit(1)).alias("n"), F.sum((~F.col("ok")).cast("long")).alias("bad")
        ).first()
        c.check(px["n"] == len(self.model) and not px["bad"],
                f"pixel_verify: {px['bad']} bad of {px['n']}")


# ---------------------------------------------------------------------------
# churn-sweep
# ---------------------------------------------------------------------------


class ChurnSweep(Workload):
    """Many small commits on a small-file base table: append batches with a
    merge_into upsert after each (~1% of rows updated, plus inserts), reads
    pinned to the snapshots they made, then one maintenance sweep (compact
    + cluster without re-encoding, rewrite_manifests, expiry and orphan GC).
    Metadata- and write-path-bound; shares compact/zorder with
    rewrite-pixels but does no pixel work."""

    name = "churn-sweep"
    N, MEAN_ROWS = 384, 64
    ROUNDS, APPENDS = 2, 5  # each round: APPENDS appends, then one merge
    # rows per append, 16-64, in a seeded order: every seed appends the same
    # number of rows, so the bytes the sweep rewrites do not vary with it
    APPEND_ROWS = (16, 21, 27, 32, 37, 43, 48, 53, 59, 64)
    UPDATES, INSERTS = 8, 8
    LOOKUPS = 7  # after each round, pinned to the snapshots it made
    # after the sweep: lookups pinned to the retained snapshots, range scans
    # on the swept one (before it, a range scan's cost depends on how many
    # of the unsorted files its random range happens to overlap)
    LOOKUPS_AFTER, RANGES = 6, 20
    # thresholds at their floor so every sweep takes the same actions
    # (compact, full cluster, rewrite_manifests, expire + GC) whatever the
    # seed's file layout: its time is then comparable across seeds
    POLICY = maintain.MaintenancePolicy(
        target_bytes=1 * MiB, compact_min_small_files=2, recluster_overlap_pct=0.0,
        incremental_cluster_max_pct=0.0, rewrite_manifests_min=2, expire_retain_last=4)

    def append(self, c: Client, t: Table, a: int, next_id: int, n: int):
        """One ``n``-row append: returns the table after it and its rows."""
        df, rows = c.rows_df(range(next_id, next_id + n), self.WH)
        before = data_files(t.root)
        _, ok = c.op("append", jobs.append, c.spark, t, df, job_id=f"churn-{a}")
        t = t.refresh()
        if ok:
            c.writes.append(c.lat["append"][-1])
            c.bytes_written += sum(
                n for p, n in data_files(t.root).items() if p not in before)
            c.source_bytes += sum(row_bytes(row) for row in rows)
            c.layer["jobs.append_rows"] = c.layer.get("jobs.append_rows", 0) + len(rows)
        return t, rows

    def upsert(self, c: Client, t: Table, model: dict, r: int, next_id: int):
        """One merge batch: returns the table after it and the rows merged."""
        upd = sorted(c.rng.sample(sorted(model), self.UPDATES))
        ins = list(range(next_id, next_id + self.INSERTS))
        src, rows = c.rows_df([int(k[4:]) for k in upd] + ins, self.WH,
                              caption_tag=f" (rev {r + 1})")
        before = entries(t)
        res, ok = c.op("merge", merge.merge_into, c.spark, t, src, job_id=f"upsert-{r}")
        t = t.refresh()
        if ok:
            bytes_w = written(before, entries(t))[1]
            c.bytes_written += bytes_w
            c.source_bytes += sum(row_bytes(row) for row in rows)
            c.merges.append((t.root, list(before), set(upd), res.matched_files, bytes_w))
        return t, rows

    def warm(self, c: Client, t: Table) -> tuple[Table, dict]:
        t, rows = self.append(c, t, 0, self.N, 40)
        model = dict(self.model)
        model.update({x["image_id"]: (x["caption"], x["phash"]) for x in rows})
        t, rows = self.upsert(c, t, model, 0, self.N + len(rows))
        model.update({x["image_id"]: (x["caption"], x["phash"]) for x in rows})
        return t, model

    def phase(self, c: Client, tag: str) -> Table:
        t = c.copy_input(self.input.root, tag)
        models = {t.current_snapshot_id: self.model}
        model = self.model
        next_id = self.N
        merged = set()
        sizes = c.rng.sample(self.APPEND_ROWS, len(self.APPEND_ROWS))
        for r in range(self.ROUNDS):
            made = []
            for a in range(self.APPENDS):
                i = r * self.APPENDS + a
                t, rows = self.append(c, t, i, next_id, sizes[i])
                next_id += len(rows)
                model = dict(model)
                model.update({x["image_id"]: (x["caption"], x["phash"]) for x in rows})
                models[t.current_snapshot_id] = model
                made.append(t.current_snapshot_id)
            t, rows = self.upsert(c, t, model, r, next_id)
            next_id += self.INSERTS
            model = dict(model)
            model.update({x["image_id"]: (x["caption"], x["phash"]) for x in rows})
            models[t.current_snapshot_id] = model
            made.append(t.current_snapshot_id)
            merged.update(x["image_id"] for x in rows)
            c.read_probe(t, {s: models[s] for s in made}, self.LOOKUPS, 0)
        self.merge_gate(c, t, model, merged)
        before = entries(t)
        c.keep_files(t)  # expiry and GC delete the files earlier reads planned
        _, ok = c.op("sweep", maintain.maintain, c.spark, t, self.POLICY, job_id="sweep")
        t = t.refresh()
        if ok:
            rows_w, bytes_w = written(before, entries(t))
            c.rows_rewritten += rows_w
            c.rewrite_s += c.lat["sweep"][-1]
            c.bytes_written += bytes_w
        retained = [s["snapshot_id"] for s in t.meta["snapshots"]]
        for sid in retained:
            models.setdefault(sid, model)  # the sweep's own commits keep the rows
        c.read_probe(t, {s: models[s] for s in retained}, self.LOOKUPS_AFTER, self.RANGES)
        self.sweep_gate(c, t, model, retained, models)
        c.finish(t)
        return t

    def merge_gate(self, c: Client, t: Table, model: dict, merged: set) -> None:
        got = dict(scan.scan(c.spark, t, columns=["image_id", "caption"]).toPandas().values)
        c.check(len(got) == len(model), f"after the merges: {len(got)} rows, want {len(model)}")
        bad = sum(got.get(k) != model[k][0] for k in merged)
        c.check(bad == 0, f"{bad} of {len(merged)} merged captions read back wrong")

    def sweep_gate(self, c: Client, t: Table, model: dict, retained: list[int],
                   models: dict) -> None:
        ids = set(scan.scan(c.spark, t, columns=["image_id"]).toPandas()["image_id"])
        c.check(ids == set(model), f"sweep changed the row set ({len(ids ^ set(model))} rows differ)")
        for sid in retained:
            n = c.snapshot_rows(t, sid)
            c.check(n == len(models[sid]),
                    f"retained snapshot {sid}: {n} rows, want {len(models[sid])}")


WORKLOADS = {w.name: w for w in (RewritePixels, ChurnSweep)}
