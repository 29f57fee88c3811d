"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py            # or: python3 -m pytest perfbench/selftest.py

Runs every workload at toy size (each in its own process, so each pays
one Spark session start: about a minute per run on a 4-core host),
asserts that every metric of ``BENCHMARK.json`` prints with its unit and
that every output check passes, and that two runs with the same seed
produce identical counts: documents, rows per table, Spark jobs per day
and per export, and files written. The generator's determinism is also
checked without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import CrawlGenerator, Truth  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    detail = json.loads(next(x for x in out if x.startswith("detail "))[len("detail "):])
    return detail, json.loads(out[-1])


def test_generator_is_deterministic():
    def crawl(seed):
        gen, truth = CrawlGenerator(seed, n_repos=20), Truth()
        days = []
        for n in (400, 40, 40):  # a 200-doc first day can leave OrgMembers empty
            date, lines, docs = gen.day(n)
            truth.add_day(docs)
            days.append((date, lines))
        return days, truth.row_counts()

    a, b = crawl(7), crawl(7)
    assert a == b
    assert crawl(8)[0] != a[0]
    assert all(v > 0 for v in a[1].values()), a[1]


def test_every_metric_prints_and_checks_pass():
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    for w in [x["name"] for x in BENCH["workloads"]]:
        for trace, want in ((0, units), (1, layer_units)):
            detail, res = bench(w, 3, trace)
            assert res["correct"] and res["failed"] == 0, (w, detail["failures"])
            assert res["attempted"] >= 1
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w, trace, set(got) ^ set(want))


def test_same_seed_same_counts():
    keys = ("pipeline.jobs_per_day", "sinks.files_written", "export.jobs_per_call",
            "staging.docs", "pipeline.tables")
    (d1, r1), (d2, r2) = bench("backfill_day", 5, 1), bench("backfill_day", 5, 1)
    assert d1["rows"] == d2["rows"]
    for k in keys:
        assert r1["metrics"][k]["value"] == r2["metrics"][k]["value"], k


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
