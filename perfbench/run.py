"""Lakehouse maintenance benchmark for nessie_spark.

Run from the repository root:

    python3 perfbench/run.py --workload rewrite-pixels --seed 1 --seconds 25 --trace 0

One closed-loop client in a child process drives ``local[<nproc>]`` Spark;
this process waits for it, then kills and waits for every process the run
left behind (see ``supervise``), so none outlives the command. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The exit code is 1 when any operation
failed or any output check failed. Every file the run writes goes under
``.perfbench_work/`` in the repository root, on the disk that holds the
checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import ctypes
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"  # JVM heap; with the Python workers a run peaks near 3 GB
RUN_LIMIT_S = 170  # a run that takes longer is stopped and prints no result
RUN_ID_VAR = "PERFBENCH_RUN_ID"  # set in the child that does the run
PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36


def processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as fh:
                out[int(d)] = (ppid, int(fh.read().split()[1]) * page)
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we looked
    return out


def tree(root: int) -> dict[int, int]:
    """pid -> resident bytes for ``root`` and its descendants."""
    procs = processes()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc. One sample scans
    every process (about 4 ms holding the interpreter lock), so it runs once a
    second to stay out of the client's way; resident memory grows slowly."""

    def __init__(self, period_s: float = 1.0):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, sum(tree(os.getpid()).values()))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=25,
                   help="accepted and ignored: the work per run is fixed by "
                        "the workload's constants")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def log(msg: str, t0: float) -> None:
    print(f"perfbench: {time.perf_counter() - t0:7.2f} s  {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Everything the run writes stays under ``work``; Python workers import
    the engine (and this directory's modules) from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["NESSIE_SPARK_DRIVER_MEM"] = DRIVER_MEM
    for var in ("SPARK_MASTER", "SPARK_SUBMIT", "NESSIE_KERNEL_LOG", "NESSIE_ZORDER_PROF"):
        os.environ.pop(var, None)
    sys.path.insert(0, ROOT)


def _start_spark(session, work: str, cores: int):
    spark = session.get_spark(
        cores=cores,
        shuffle_partitions=2 * cores,
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and the Python workers it
    started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def end_to_end(c, setup_s: float, peak_rss: int) -> dict:
    """The metrics a user of the engine sees, the same set on every
    workload (see README.md for what feeds each one per workload). Timings
    are medians: no run has the ten samples beyond a higher percentile that
    would make one steady."""
    lk, rg = c.lat["lookup"], c.lat["range"]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss / (1 << 20), "MB"),
        "write_p50_ms": (statistics.median(c.writes) * 1000, "ms"),
        "rewrite_images_per_s": (c.rows_rewritten / c.rewrite_s, "1/s"),
        "write_amp": (c.bytes_written / c.source_bytes, "ratio"),
        "space_amp": (c.space_amp, "ratio"),
        "lookup_p50_ms": (statistics.median(lk) * 1000, "ms"),
        "range_scan_p50_ms": (statistics.median(rg) * 1000, "ms"),
    }


def per_layer(c, tr, final, session_s: float, untraced_s: float, traced_s: float) -> dict:
    """Per-layer metrics of the traced phase; a layer the workload does not
    reach reports 0."""
    from nessie_spark.lakehouse import maintain

    def ratio(a, b):
        return a / b if b else 0.0

    health = maintain.table_health(final)
    compact_s = tr.total_s("compact.compact")
    merges = tr.named("merge.merge_into")
    commits = tr.named("table.commit")
    m = {
        "kernels.reencode_ms_per_image.png": 0.0,
        "kernels.reencode_ms_per_image.jpeg": 0.0,
        "kernels.min_psnr": 0.0,
        "compact.s": compact_s,
        "compact.bins": tr.attr_sum("compact.compact", "bins_executed"),
        "compact.input_files": tr.attr_sum("compact.compact", "input_files"),
        "compact.output_files": tr.attr_sum("compact.compact", "output_files"),
        "compact.rows_per_s": ratio(tr.attr_sum("compact.compact", "rows"), compact_s),
        "zorder.cluster_s": tr.total_s("zorder.cluster") + tr.total_s("zorder.cluster_incremental"),
        "zorder.output_files": tr.attr_sum("zorder.cluster", "output_files")
        + tr.attr_sum("zorder.cluster_incremental", "output_files"),
        "zorder.overlap_pct_after": health.zorder_overlap_pct * 100,
        "merge.s": tr.median_ms("merge.merge_into") / 1000,
        "merge.matched_files": ratio(tr.attr_sum("merge.merge_into", "matched_files"), len(merges)),
        "merge.matched_hit_ratio": c.merge_hit_ratio(),
        "merge.bytes_rewritten": ratio(sum(x[4] for x in c.merges), len(c.merges)),
        "scan.prune_precision": c.prune_precision(),
        "table.commit_ms": tr.median_ms("table.commit"),
        "table.metadata_bytes_per_commit": ratio(
            tr.attr_sum("table.commit", "metadata_bytes"), len(commits)),
        "table.snapshots": len(final.meta["snapshots"]),
        "table.manifests": health.manifests,
        "jobs.append_s": tr.median_ms("jobs.append") / 1000,
        "jobs.append_rows": c.layer.get("jobs.append_rows", 0),
        "manifest.rewrite_s": tr.total_s("manifest.rewrite_manifests"),
        "manifest.before": tr.attr_sum("manifest.rewrite_manifests", "manifests_before"),
        "manifest.after": tr.attr_sum("manifest.rewrite_manifests", "manifests_after"),
        "expire.s": tr.total_s("expire.expire_snapshots"),
        "expire.expired_snapshots": tr.attr_sum("expire.expire_snapshots", "expired"),
        "expire.deleted_files": tr.attr_sum("expire.expire_snapshots", "deleted_files"),
        "gc.s": tr.total_s("expire.gc_orphans"),
        "gc.orphans_deleted": tr.attr_sum("expire.gc_orphans", "orphans"),
        "maintain.health_ms": tr.median_ms("maintain.table_health"),
        "maintain.actions": tr.attr_sum("maintain.maintain", "actions"),
        "synth.images_per_s": c.layer["synth.images_per_s"],
        "session.start_s": session_s,
    }
    for kind in ("lookup", "range"):
        plans = [s for s in tr.named("scan.plan_files") if s["attrs"]["kind"] == kind]
        m[f"scan.plan_files_ms.{kind}"] = tr.median_ms("scan.plan_files", kind=kind)
        m[f"scan.files_planned.{kind}"] = ratio(
            sum(len(s["attrs"]["files"]) for s in plans), len(plans))
    c.kernel_probe(final)
    m.update({k: v for k, v in c.layer.items() if k.startswith("kernels.")})
    for layer, ms in tr.self_ms().items():
        m[f"self_ms.{layer}"] = ms
    m["trace.overhead_pct"] = 100.0 * (traced_s - untraced_s) / untraced_s
    return {k: (float(v), UNITS[k.split(".")[0]] if k.startswith("self_ms.") else UNITS[k])
            for k, v in m.items()}


UNITS = {
    "kernels.reencode_ms_per_image.png": "ms", "kernels.reencode_ms_per_image.jpeg": "ms",
    "kernels.min_psnr": "dB",
    "compact.s": "s", "compact.bins": "count", "compact.input_files": "count",
    "compact.output_files": "count", "compact.rows_per_s": "1/s",
    "zorder.cluster_s": "s", "zorder.output_files": "count", "zorder.overlap_pct_after": "%",
    "merge.s": "s", "merge.matched_files": "count", "merge.matched_hit_ratio": "ratio",
    "merge.bytes_rewritten": "bytes",
    "scan.plan_files_ms.lookup": "ms", "scan.plan_files_ms.range": "ms",
    "scan.files_planned.lookup": "count", "scan.files_planned.range": "count",
    "scan.prune_precision": "ratio",
    "table.commit_ms": "ms", "table.metadata_bytes_per_commit": "bytes",
    "table.snapshots": "count", "table.manifests": "count",
    "jobs.append_s": "s", "jobs.append_rows": "count",
    "manifest.rewrite_s": "s", "manifest.before": "count", "manifest.after": "count",
    "expire.s": "s", "expire.expired_snapshots": "count", "expire.deleted_files": "count",
    "gc.s": "s", "gc.orphans_deleted": "count",
    "maintain.health_ms": "ms", "maintain.actions": "count",
    "synth.images_per_s": "1/s", "session.start_s": "s",
    "self_ms": "ms", "trace.overhead_pct": "%",
}

def run(args: argparse.Namespace, t_start: float) -> int:
    if not os.path.isdir(os.path.join(ROOT, "nessie_spark")):
        print(f"perfbench: no nessie_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_id = os.environ[RUN_ID_VAR]
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    from nessie_spark import session
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler()
    sampler.start()
    spark = None
    clients = []
    try:
        t0 = time.perf_counter()
        spark = _start_spark(session, work, cores)
        session_s = time.perf_counter() - t0
        log("spark session up", t_start)
        c = workloads.Client(spark, args.seed, work, cores)
        clients.append(c)
        wl.setup(c)
        setup_s = time.perf_counter() - t_start
        log("input built and warm", t_start)
        if not args.trace:
            wl.phase(c, "run")
            log("measured phase done", t_start)
            metrics = end_to_end(c, setup_s, sampler.peak_bytes)
        else:
            import tracing

            # the same work untraced, traced, untraced again: later phases run
            # on a warmer JVM, so the traced phase is compared with the mean
            # of the two untraced phases around it
            tracer = tracing.Tracer(run_id)
            untraced = []
            for i, traced in enumerate((False, True, False)):
                pc = workloads.Client(spark, args.seed, work, cores)
                clients.append(pc)
                if traced:
                    pc.tracer, pc.layer = tracer, c.layer
                    tracer.install()
                t0 = time.perf_counter()
                try:
                    t = wl.phase(pc, f"phase{i}")
                finally:
                    tracer.uninstall()
                if traced:
                    traced_s, tc, final = time.perf_counter() - t0, pc, t
                else:
                    untraced.append(time.perf_counter() - t0)
                log(f"{'traced' if traced else 'untraced'} phase done", t_start)
            metrics = per_layer(tc, tracer, final, session_s, statistics.mean(untraced), traced_s)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{run_id}.json"))
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(x.attempted for x in clients)
    failed = sum(x.failed for x in clients)
    for x in clients:
        for k, v in x.lat.items():
            print(f"perfbench: {k} s: " + " ".join(f"{s:.3f}" for s in v), file=sys.stderr)
        print(f"perfbench: bytes written {x.bytes_written} for {x.source_bytes} source bytes",
              file=sys.stderr)
        for what in x.problems:
            print(f"perfbench: failed: {what}", file=sys.stderr)
    print(f"perfbench: failed_frac {failed / attempted:.4f} ({failed} of {attempted})",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


class _Stopped(Exception):
    pass


def _on_signal(signum, frame):
    raise _Stopped(signum)


def _reap_all() -> None:
    """Kill every remaining descendant of this process and wait for each.
    As the child subreaper this process inherits every orphan of the run, so
    ``waitpid`` reports no children only when none is left anywhere."""
    while True:
        for pid in tree(os.getpid()):
            if pid != os.getpid():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def supervise(args: argparse.Namespace) -> int:
    """Run the benchmark in a child process and see that nothing it started
    outlives it. This process becomes the child subreaper, so a process whose
    parent exits first (the Python workers' daemon when the JVM goes) is
    reparented here rather than to init. When the child ends, the time limit
    passes or this process is told to stop, every process left is killed and
    waited for, and the run's directory is removed. Should this process be
    killed outright, the child gets SIGKILL too; the JVM exits when the child's
    end of its stdin closes, and the workers' daemon when the JVM's does."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become the child subreaper", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    env = dict(os.environ, **{RUN_ID_VAR: run_id})
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    rc = 1
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env=env,
            preexec_fn=lambda: libc.prctl(PR_SET_PDEATHSIG, int(signal.SIGKILL), 0, 0, 0))
        rc = child.wait(timeout=RUN_LIMIT_S)
        rc = 128 - rc if rc < 0 else rc
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run took over {RUN_LIMIT_S} s; stopped", file=sys.stderr)
        rc = 124
    except _Stopped as e:
        rc = 128 + e.args[0]
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        _reap_all()
        shutil.rmtree(os.path.join(WORK_ROOT, run_id), ignore_errors=True)
    return rc


def main() -> int:
    t_start = time.perf_counter()
    args = _parse()
    if RUN_ID_VAR in os.environ:
        return run(args, t_start)
    return supervise(args)


if __name__ == "__main__":
    sys.exit(main())
