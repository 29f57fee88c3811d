"""Doubling check of the backfill day: how its wall grows with the docs.

    python3 perfbench/scale.py --sizes 6000 12000 24000 48000 --reps 2
    python3 perfbench/scale.py --specs all --sizes 3000 6000 12000 24000

In one session (pinned as in run.py, warmed by two days of the smallest
size), times ``stage_json`` + ``run_daily(init_mode=True)`` over backfill_day's
specs, or all 33 with ``--specs all``, for a day of each size, ``--reps``
times in interleaved order. Prints
the median wall per size, its ratio to the smallest size, and the share
of a fixed per-day cost, from a least-squares line through all walls.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", type=int, nargs="+", default=[6000, 12000, 24000, 48000])
    ap.add_argument("--specs", choices=("backfill", "all"), default="backfill")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from gen import CrawlGenerator, write_day
    from run import Session
    from workloads import BACKFILL_TABLES, BackfillDay

    from ghcrawler_datalake_etl_spark import pipeline
    from ghcrawler_datalake_etl_spark.plans.catalog import CATALOG, spec_for
    from ghcrawler_datalake_etl_spark.sources import staging as stg

    work = os.path.join(ROOT, ".perfbench_work", f"scale-{os.getpid()}")
    session = Session(work)
    try:
        bf = BackfillDay(session, work, args.seed, "full", trace=False)
        bf.specs = (CATALOG if args.specs == "all"
                    else tuple(spec_for(t) for t in BACKFILL_TABLES))
        days = {}
        for n in args.sizes:
            date, lines, _ = CrawlGenerator(args.seed, n_repos=bf.size["repos"]).day(n)
            days[n] = (date, os.path.join(work, "in", str(n), date))
            write_day(lines, days[n][1])
        bf.date, bf.input = days[args.sizes[0]]
        bf.warm_up()
        walls: dict[int, list[float]] = {n: [] for n in args.sizes}
        for rep in range(args.reps):
            for n in args.sizes:
                date, path = days[n]
                root = os.path.join(work, f"day-{n}-{rep}")
                t0 = time.perf_counter()
                stg.stage_json(session.spark, path, os.path.join(root, "stg"), date)
                pipeline.run_daily(session.spark, os.path.join(root, "stg"), date,
                                   bf._catalog(os.path.join(root, "wh")),
                                   specs=bf.specs, init_mode=True)
                walls[n].append(time.perf_counter() - t0)
                shutil.rmtree(root, ignore_errors=True)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)

    xs = [n for n in args.sizes for _ in walls[n]]
    ys = [w for n in args.sizes for w in walls[n]]
    slope, fixed = statistics.linear_regression(xs, ys)
    base = statistics.median(walls[args.sizes[0]])
    print("docs  median_s  ratio  fixed_share  walls_s")
    for n in args.sizes:
        med = statistics.median(walls[n])
        share = fixed / (fixed + slope * n)
        print(f"{n:>6} {med:9.2f} {med / base:6.2f} {share:12.2f}  "
              + " ".join(f"{w:.2f}" for w in walls[n]))
    print(f"fit: {fixed:.2f} s fixed + {slope * 1000:.4f} s per 1,000 docs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
