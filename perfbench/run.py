"""Benchmark of record for the GHCrawler data-lake ETL.

    python3 perfbench/run.py --workload backfill_day --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py`` and README.md) from the root of
a checkout: pins the Spark session, builds the workload's seeded inputs
and warehouse (charged to ``setup_s``), runs closed-loop operations for
``--seconds``, checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the package's public layer
functions with spans and reports the per-layer metrics instead.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit, except the span file of a traced run
(``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

from proc import tree_rss_kb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ghcrawler_datalake_etl_spark"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of the host's memory, between 1 and 2 GiB: the inputs
    are small, and a heap that may grow to 4 GiB makes peak RSS depend
    on when the collector happens to run."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(2048, total_kb // 1024 // 8))


class RssSampler:
    """High-water RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every 0.25 s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb())
            self._stop.wait(0.25)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, tree_rss_kb())
        return self.peak_kb / 1024


class Session:
    """The pinned Spark session of one run."""

    def __init__(self, work: str):
        self.work = work
        self.cpus = host_cpus()
        local = os.path.join(work, "local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        t0 = time.perf_counter()
        from ghcrawler_datalake_etl_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.memory": f"{driver_memory_mb()}m",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                # the factory's code-cache options, plus a JVM temp dir
                # inside the run's work directory
                "spark.driver.extraJavaOptions": (
                    "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
                    f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                    " -XX:-UsePerfData"
                ),
                # keep every job of a run in the status tracker
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.start_s = time.perf_counter() - t0
        self.conf = {
            "master": f"local[{self.cpus}]",
            "shuffle_partitions": self.cpus,
            "driver_memory_mb": driver_memory_mb(),
            "local_dirs": "<work>/local",
        }

    def gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                proc.wait(timeout=60)


def run(args) -> dict:
    from workloads import WORKLOADS, RunState, layer_metrics, percentile_tail

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    rss = RssSampler()
    rss.start()
    session = None
    try:
        t0 = time.perf_counter()
        session = Session(work)
        workload = WORKLOADS[args.workload](session, work, args.seed, args.size,
                                             bool(args.trace))
        workload.setup()
        setup_s = time.perf_counter() - t0

        state = RunState(session, trace=bool(args.trace))
        gc0 = session.gc_s()
        t_start = time.perf_counter()
        workload.measure(state, args.seconds)
        wall = time.perf_counter() - t_start
        gc_s = session.gc_s() - gc0
        if state.tracer is not None:
            state.tracer.uninstall()
        workload.finish(state)
    finally:
        peak_mb = rss.stop()
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)

    if not state.op_walls:
        raise RuntimeError("no operation completed")
    detail = {
        "workload": args.workload, "seed": args.seed, "session": session.conf,
        "ops": len(state.op_walls), "wall_s": wall,
        "op_wall_s": {"value": statistics.median(state.op_walls), "unit": "s"},
        "op_walls_s": state.op_walls, "op_cpus_s": state.op_cpus,
        "error_rate": state.failed / state.attempted,
        # the collector's timing moves this by tens of percent between
        # runs, so it is reported here rather than as a bounded metric
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "failures": state.failures[:20],
        **workload.detail(state, wall),
    }
    tail = percentile_tail(state.op_walls)
    if tail is not None:
        detail["op_tail_s"] = {"value": tail[0], "percentile": tail[1],
                               "samples": len(state.op_walls)}
    if args.trace:
        metrics = layer_metrics(state, workload)
        metrics["session.start_s"] = (session.start_s, "s")
        metrics["jvm.gc_s"] = (gc_s / len(state.op_walls), "s")
        # the tracer's own time in the measured phase; the traced op's
        # wall is in the detail line, for a comparison with untraced runs
        metrics["trace.overhead_frac"] = (state.tracer.overhead_s / wall, "ratio")
        metrics["trace.spans"] = (len(state.tracer.spans), "count")
        state.tracer.write(os.path.join(ROOT, ".perfbench_out",
                                        f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            # CPU seconds rather than wall: on a shared host, time the
            # hypervisor gives to other guests stretches the wall by up
            # to a third between runs, but is not charged to this tree
            "op_cpu_s": (statistics.median(state.op_cpus), "s"),
        }
    print("detail " + json.dumps(detail, default=str))
    return {
        "correct": state.failed == 0,
        "attempted": state.attempted,
        "failed": state.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: seconds-long inputs for the self-test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
