"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before
it print every metric by name with its unit, the input sizes, the
set-up breakdown and the pinned configuration.

The first run in a checkout also builds the starting lakes, in a
process of its own, and keeps them in ``.bench_cache/``. Everything
else a run writes stays under ``.bench_work/`` (removed at exit) and
``.bench_out/`` (span files of traced runs) in the current directory.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backfill", "nightly", "research")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench", help="input scale: bench (default) or smoke")
    ap.add_argument("--build-lakes", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.build_lakes is None and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    return args


def lakes_dir(cwd: str, scale: str) -> str:
    """Where a checkout keeps its starting lakes: keyed by the scale and
    the program's and the benchmark's sources, so that a lake is never
    read by another version of the program than the one that built it."""
    h = hashlib.sha1(scale.encode())
    for sub in ("nt_data_pipelines_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, sub)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return os.path.join(cwd, ".bench_cache", f"lakes-{scale}-{h.hexdigest()[:12]}")


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(children.get(p, []))
    return total


class PeakRss(threading.Thread):
    """Samples the process tree's RSS until stopped; keeps the peak that
    two consecutive samples both reach. A spike shorter than a sample
    interval is left out: while a process spawns another, the child
    shares the parent's memory until it execs, and a sample taken then
    counts the parent twice."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        last = 0
        while not self._stop_evt.is_set():
            now = tree_rss_bytes(os.getpid())
            self.peak = max(self.peak, min(last, now))
            last = now
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def pin_environment(work: str) -> dict:
    """Fix every setting the timings depend on; returns them."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "NT_PIN_MODE": "local_checkpoint",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # keep every JVM (launcher and driver) out of the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return {
        "cpus": cpus,
        "shuffle_partitions": cpus,
        "adaptive": "true",
        "pin_mode": env["NT_PIN_MODE"],
        "driver_memory": "1g",
        # the whole heap committed and touched at start, so that the
        # JVM's share of peak_rss_mb does not follow GC's heap sizing
        "driver_java_options": "-Xms1g -XX:+AlwaysPreTouch",
    }


def start_spark(work: str, cfg: dict):
    from nt_data_pipelines_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cfg["cpus"],
        shuffle_partitions=cfg["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": cfg["driver_memory"],
            "spark.driver.extraJavaOptions": cfg["driver_java_options"],
            "spark.sql.adaptive.enabled": cfg["adaptive"],
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def build(dest: str, lake: str, scale) -> int:
    """Build the starting lakes into ``dest`` (``--build-lakes``)."""
    from perfbench.workloads import build_lakes

    work = os.path.join(os.path.dirname(lake), f"build-{os.getpid()}")
    cfg = pin_environment(work)
    spark = start_spark(work, cfg)
    try:
        timings = build_lakes(spark, lake, scale, dest)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"# built {dest}: " + json.dumps(timings))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nt_data_pipelines_spark")):
        print("perfbench: the nt_data_pipelines_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import SCALES

    scale = SCALES[args.scale]
    cwd = os.getcwd()
    # one fixed path for the live lake: the catalog records file paths
    lake = os.path.join(cwd, ".bench_work", "lake")
    if args.build_lakes:
        return build(args.build_lakes, lake, scale)

    lakes = lakes_dir(cwd, args.scale)
    build_s = 0.0
    if not os.path.isdir(lakes):
        # in a process of its own, so that this run, like every other,
        # measures a cold JVM; lakes of other program versions go
        t = time.perf_counter()
        for old in glob.glob(os.path.join(os.path.dirname(lakes), f"lakes-{args.scale}-*")):
            shutil.rmtree(old)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-lakes", lakes, "--scale", args.scale],
            stdout=sys.stderr, check=True,
        )
        build_s = time.perf_counter() - t

    from perfbench import report
    from perfbench.trace import Tracer
    from perfbench.workloads import Bench, run_workload

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(cwd, ".bench_work", run_id)
    cfg = pin_environment(work)
    rss = PeakRss()
    rss.start()
    spark = None
    try:
        spark = start_spark(work, cfg)
        session_s = time.perf_counter() - T_START - build_s
        tracer = Tracer(spark.sparkContext, run_id, enabled=bool(args.trace))
        bench = Bench(spark, work, lake, scale, args.seed, tracer)
        bench.timings["session_s"] = session_s
        bench.set_up(args.workload, lakes)
        run_workload(bench, args.workload, args.seconds)
        peak = rss.stop()
        if args.trace:
            values = report.layer_metrics(bench)
            units = report.PER_LAYER_UNITS
            tracer.write(os.path.join(cwd, ".bench_out", f"trace-{run_id}.jsonl"))
        else:
            values = report.e2e_metrics(bench, peak)
            units = report.E2E_UNITS
        tracer.restore()
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "config": cfg,
            "inputs": bench.inp.sizes(),
            "lakes": os.path.basename(lakes),
            "lake_build_s": build_s,
            "timings_s": bench.timings,
            "loop": report.percentiles(bench),
            "ops_failed_ratio": bench.failed / bench.attempted,
        }
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(lake, ignore_errors=True)

    print("# " + json.dumps(info, default=str))
    for name, value in values.items():
        print(f"{name} {value:.6g} {units[name]}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
