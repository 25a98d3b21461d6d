"""Seeded, layered benchmark of the CDC engine and the operator library.

Usage (from the repository root)::

    python3 perfbench/run.py --workload backfill_mor --seed 1 --seconds 20 --trace 0

Workloads: ``backfill_mor`` and ``operator_sweep`` (see
METHODOLOGY.md).  The run starts one Spark session at ``local[nproc]``, sets
the workload up several times (the median is ``setup_s``), runs its closed
loop for ``--seconds``, checks the outputs against DuckDB references, and
prints a table of metrics followed, as the last line of standard output, by
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 1`` wraps the package's callables and reports per-layer metrics
instead; its spans are written to ``.bench_trace/`` in the repository root.

All scratch files live under ``.bench_work/`` in the repository root and are
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHUFFLE_PARTITIONS = 8

#: end-to-end metrics and their units (meanings per workload: METHODOLOGY.md)
END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "read_s_p50": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    return children


def descendants(pid: int) -> list[int]:
    children = _proc_children()
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process, the JVM and the Python
    workers, summed."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def driver_memory_mb() -> int:
    """A fixed driver heap that fits the host: 2 GiB, or 30% of physical
    memory if that is less."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    return min(2048, int(total_kb * 0.3 / 1024))


def start_spark(workdir: str, nproc: int):
    from magneto_matcher_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    heap_mb = driver_memory_mb()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        for p in procs:  # reap children we own; others are reaped by their parent
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def run(args, workdir: str) -> tuple[dict, list[str]]:
    from layers import PER_LAYER, install, per_layer
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_spark(workdir, nproc)
    session_s = time.perf_counter() - t0
    try:
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        # set-up and warm-up run untraced; the timed loop gets the tracer
        ctx = SimpleNamespace(
            spark=spark, workdir=workdir, seed=args.seed, nproc=nproc,
            tracer=Tracer(spark, run_id, enabled=False),
        )
        wl = WORKLOADS[args.workload](ctx)
        setup = []
        for rep in range(wl.SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0

        tracer = wl.tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        install(tracer, wl)
        t0 = time.perf_counter()
        try:
            wl.run(t0 + args.seconds)
        finally:
            tracer.unwrap_all()
        timed_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if not wl.failed:
            wl.op("check", wl.check)
        check_s = time.perf_counter() - t0

        # set-ups are repeated, the warm-up runs once; both precede timing
        setup_s = statistics.median(setup) + warmup_s
        e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb()}
        if not wl.failed:
            e2e.update(wl.end_to_end())
        lines = [
            f"workload {args.workload}  seed {args.seed}  local[{nproc}]  "
            f"session {session_s:.1f} s  setup {[round(s, 2) for s in setup]} s  "
            f"warm-up {warmup_s:.1f} s  "
            f"timed {timed_s:.1f} s  check {check_s:.1f} s",
            *(f"  {k}: {v}" for k, v in wl.notes.items()),
            f"  failed_ops_frac: {wl.failed / max(wl.attempted, 1):.4f} "
            f"({wl.failed}/{wl.attempted})",
            *(f"  {k} = {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()),
        ]
        values, units = e2e, END_TO_END
        if args.trace:
            # the traced run's end-to-end lines above include the tracing cost
            values, units = per_layer(tracer, wl, timed_s), PER_LAYER
            tracer.write(os.path.join(ROOT, ".bench_trace", f"{run_id}.jsonl"))
            lines += [f"  {k} = {v:.6g} {units[k]}" for k, v in values.items()]
        lines += [f"  FAILED {f}" for f in wl.failures]
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {
                name: {"value": values[name], "unit": units[name]}
                for name in units
                if name in values
            },
        }
        return result, lines
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    # every scratch file — Spark's, the JVM's, Python's — stays in workdir
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    tempfile.tempdir = None
    # the JVMs spark-submit starts would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        result, lines = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
