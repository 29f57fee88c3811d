"""The benchmark's workloads, their output checks and their metrics.

Every workload is a closed loop driven from one process through the
package's public entry points. One operation is a crawl day
(``stage_json`` + ``run_daily``) for ``backfill_day`` and one pass over
the query set for ``corpus_curation``. See README.md for why each
workload exists.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import math
import os
import shutil
import statistics
import threading
import time

import duckdb

from gen import SPECS, CrawlGenerator, Truth, write_day
from proc import Timer
from trace import Tracer

PATTERN_OF = {s["table"]: s["pattern"] for s in SPECS}
EXPORT_TABLES = (
    "Repo", "Event", "EventPayloadCommit", "EventPayloadIssueLabel",
    "EventPayloadPage", "EventPayloadPullRequest", "EventPayloadReleaseAsset",
    "Issue", "IssueLabel",
)
# one spec per pattern, the widest first: PullRequest projects 137 columns
BACKFILL_TABLES = ("PullRequest", "CommitFile", "RepoStargazers", "Clones", "RepoLog")
WARM_DAYS = 3  # untimed backfill days before the timed ones
EXPORTS_PER_DAY = 1  # per traced backfill day, after its check
# Left out of the proposed six, for the run's time budget:
# pipeline_dedup_shards, whose DuckDB oracle is quadratic in the corpus
# (55 s at 1,000 documents), and pipeline_daily_ingest, 6.4 s of an
# 11.5 s pass and 11.6 s of set-up on a 4-core host
CURATION_QUERIES = (
    "pipeline_training_data", "pipeline_quality_mix_pack",
    "sim_knn_graph", "search_bm25_topk",
)

# docs per day, repos, and corpus rows for the two sizes
SIZES = {
    "full": {"backfill_docs": 6000, "repos": 400,
             "curation_docs": 600, "curation_vecs": 300},
    "toy": {"backfill_docs": 300, "repos": 30,
            "curation_docs": 300, "curation_vecs": 200},
}


def percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); None with ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    k = n - 11  # the sample with exactly ten above it
    return sorted(values)[k], 100.0 * (k + 1) / n


# -- data-file accounting ---------------------------------------------

def data_files(path: str | None) -> list[str]:
    if not path or not os.path.isdir(path):
        return []
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_")) or "=" in d]
        out.extend(os.path.join(root, f) for f in files if not f.startswith((".", "_")))
    return sorted(out)


def stored_bytes(catalog, tables) -> int:
    """Bytes of the live table versions, each hardlinked file once."""
    seen, total = set(), 0
    for t in tables:
        for f in data_files(catalog.current_path(t)):
            st = os.stat(f)
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def table_counts(con, catalog, tables) -> dict[str, int]:
    out = {}
    for t in tables:
        files = data_files(catalog.current_path(t))
        out[t] = con.execute(
            f"SELECT count(*) FROM read_parquet({files!r}, union_by_name = true, hive_partitioning = false)"
        ).fetchone()[0] if files else 0
    return out


def parquet_rel(catalog, table: str) -> str:
    files = data_files(catalog.current_path(table))
    return f"read_parquet({files!r}, union_by_name = true, hive_partitioning = false)"


def expected_export_counts(con, catalog) -> dict[str, dict[str, int]]:
    """Rows of each export table per repo urn, by DuckDB over the parquet."""
    out: dict[str, dict[str, int]] = {}

    def add(table, sql):
        for urn, n in con.execute(sql).fetchall():
            out.setdefault(urn, {})[table] = n

    add("Repo", f"SELECT EtlSourceId, count(*) FROM {parquet_rel(catalog, 'Repo')} GROUP BY 1")
    for t in ("Event", "Issue"):
        add(t, f"SELECT RepoUrn, count(*) FROM {parquet_rel(catalog, t)} GROUP BY 1")
    for t, key, hop in (
        ("EventPayloadCommit", "EventUrn", "Event"),
        ("EventPayloadIssueLabel", "EventUrn", "Event"),
        ("EventPayloadPage", "EventUrn", "Event"),
        ("EventPayloadPullRequest", "EventUrn", "Event"),
        ("EventPayloadReleaseAsset", "EventUrn", "Event"),
        ("IssueLabel", "IssueUrn", "Issue"),
    ):
        add(t, f"""SELECT h.RepoUrn, count(*) FROM {parquet_rel(catalog, t)} c
                   JOIN (SELECT DISTINCT EtlSourceId, RepoUrn
                         FROM {parquet_rel(catalog, hop)}) h
                   ON c.{key} = h.EtlSourceId GROUP BY 1""")
    return out


def repo_draws(gen: CrawlGenerator, repos: dict, n: int) -> list[tuple[str, tuple]]:
    """``n`` Zipf-skewed picks among the repos present in the warehouse."""
    if not repos:
        raise RuntimeError("the generated day holds no repo")
    draws = []
    while len(draws) < n:
        urn = f"urn:repo:{gen.popular_repo()}"
        if urn in repos:
            draws.append((urn, repos[urn]))
    return draws


def export_repo(state, catalog, out: str, urn: str, owner_name: tuple,
                expected: dict, trace: str) -> tuple[float, list[str]]:
    """One ``export_repo_data`` call, timed, then checked: rows per table
    against ``expected`` and against the TSV files written."""
    from ghcrawler_datalake_etl_spark import export

    t0 = time.perf_counter()
    with state.span("export", trace=trace) if state else contextlib.nullcontext():
        counts = export.export_repo_data(catalog, *owner_name, out)
    wall = time.perf_counter() - t0
    want = expected.get(urn, {})
    problems = [f"{urn} {t}: {counts.get(t, 0)} rows, expected {want.get(t, 0)}"
                for t in EXPORT_TABLES if counts.get(t, 0) != want.get(t, 0)]
    for t, n in counts.items():
        lines = 0
        for f in glob.glob(os.path.join(out, t, "part-*")):
            with open(f) as fh:
                lines += sum(1 for _ in fh) - 1  # header
        if lines != n:
            problems.append(f"{urn} {t}: {lines} TSV rows, returned {n}")
    shutil.rmtree(out, ignore_errors=True)
    return wall, problems


# -- run state and layer spans ------------------------------------------

def _written(catalog, name: str) -> dict:
    new = [f for f in data_files(catalog.current_path(name)) if os.stat(f).st_nlink == 1]
    return {
        "table": name, "pattern": PATTERN_OF.get(name),
        "files_written": len(new), "bytes_written": sum(os.path.getsize(f) for f in new),
    }


def install_layer_spans(tracer: Tracer) -> None:
    from ghcrawler_datalake_etl_spark import export, pipeline
    from ghcrawler_datalake_etl_spark.sources import sinks, staging

    def sink_attrs(args, kwargs, out):
        catalog, name = args[0], (args[2] if len(args) > 2 else kwargs["name"])
        return _written(catalog, name)

    def table_attr(args, kwargs, out):
        return {"table": args[1] if len(args) > 1 else kwargs.get("name")}

    def spec_attr(args, kwargs, out):
        return {"table": args[0].table, "pattern": args[0].pattern}

    tracer.wrap(staging, "stage_json", "staging.stage_json")
    tracer.wrap(pipeline, "parse_entity", "staging.parse_entity")
    tracer.wrap(pipeline, "run_daily", "pipeline.run_daily",
                lambda a, k, out: {"tables": len(out)})
    tracer.wrap(pipeline, "build_table", "pipeline.build_table", spec_attr)
    tracer.wrap(sinks.ParquetCatalog, "overwrite", "sinks.overwrite", sink_attrs)
    tracer.wrap(sinks.ParquetCatalog, "read", "sinks.read", table_attr)
    tracer.wrap(export, "write_tsv", "export.write_tsv")
    tracer.wrap(export, "export_repo_data", "export.export_repo_data",
                lambda a, k, out: {"rows_out": sum(out.values())})


class RunState:
    """Counters of one measured phase; with ``trace`` the layer spans
    are installed until ``tracer.uninstall()``."""

    def __init__(self, session, trace: bool):
        self.session = session
        self.tracer = None
        if trace:
            self.tracer = Tracer(session.sc)
            install_layer_spans(self.tracer)
        self.lock = threading.Lock()
        self.op_walls: list[float] = []
        self.op_cpus: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def span(self, name: str, trace: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, trace)

    def record(self, timer: Timer | None, items: int, problems: list[str]) -> None:
        """One attempted operation; ``timer`` is None for a failed one and
        for an end-of-run check."""
        with self.lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.failures.extend(problems[:5])
            if timer is not None:
                self.op_walls.append(timer.wall)
                self.op_cpus.append(timer.cpu)
                self.items += items


# -- workloads ----------------------------------------------------------

class Workload:
    min_ops = 1  # operations a run times even past its deadline

    def __init__(self, session, work: str, seed: int, size: str, trace: bool):
        self.session = session
        self.trace = trace
        self.spark = session.spark
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.con = duck()

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, state: RunState, i: int) -> None:
        """Run operation ``i``: prepare untimed, time the call, check."""
        raise NotImplementedError

    def measure(self, state: RunState, seconds: float) -> None:
        """Operations until ``seconds`` have passed, at least ``min_ops``:
        a fixed count keeps the median from shifting between runs that
        fit different counts of operations."""
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            self.op(state, i)
            i += 1
            if i >= self.min_ops and time.perf_counter() >= deadline:
                return

    def finish(self, state: RunState) -> None:
        """End-of-run checks, outside the timed region."""

    def detail(self, state: RunState, wall: float) -> dict:
        return {}


class BackfillDay(Workload):
    """One large crawl day: ``stage_json`` then ``run_daily(init_mode=True)``
    over one spec per pattern (``BACKFILL_TABLES``) into a fresh
    warehouse. Every operation replays the same day, so operations are
    identical work. Untimed after each day: the row checks and, in traced
    runs, a checked ``export_repo_data`` call."""

    min_ops = 3

    def _catalog(self, path: str):
        from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

        return ParquetCatalog(self.spark, path)

    def setup(self):
        from ghcrawler_datalake_etl_spark.plans.catalog import spec_for

        gen = CrawlGenerator(self.seed, n_repos=self.size["repos"])
        truth = Truth()
        self.date, lines, docs = gen.day(self.size["backfill_docs"])
        truth.add_day(docs)
        self.want = truth.row_counts()
        self.input = os.path.join(self.work, "in", self.date)
        self.day_bytes = write_day(lines, self.input)
        self.docs_per_day = len(docs)
        self.specs = tuple(spec_for(t) for t in BACKFILL_TABLES)
        self.draws = repo_draws(gen, truth.repos, 2 * EXPORTS_PER_DAY)
        self.export_walls: list[float] = []
        self.stored = 0
        self.problems: list[str] = []
        self.warm_up()
        if self.trace:
            self._export_warehouse()

    def warm_up(self) -> None:
        """The day itself, ``WARM_DAYS`` times, untimed: the JVM and its
        JIT, every table's plans and codegen, the Python workers of schema
        inference and the parquet writers are warm before timing. On a
        4-core host, a toy warm-up day left the first timed day about 40%
        slower, and with more CPU, than the next."""
        for k in range(WARM_DAYS):
            root = os.path.join(self.work, f"warm{k}")
            self._day(root)
            shutil.rmtree(root, ignore_errors=True)

    def _day(self, root: str):
        from ghcrawler_datalake_etl_spark import pipeline
        from ghcrawler_datalake_etl_spark.sources import staging as stg

        catalog = self._catalog(os.path.join(root, "wh"))
        stg.stage_json(self.spark, self.input, os.path.join(root, "stg"), self.date)
        pipeline.run_daily(self.spark, os.path.join(root, "stg"), self.date, catalog,
                           specs=self.specs, init_mode=True)
        return catalog

    def _export_warehouse(self) -> None:
        """Traced runs only: the nine export tables of the same day, built
        untimed, for the checked exports after each day."""
        from ghcrawler_datalake_etl_spark import pipeline
        from ghcrawler_datalake_etl_spark.plans.catalog import spec_for
        from ghcrawler_datalake_etl_spark.sources import staging as stg

        staging = os.path.join(self.work, "export-stg")
        self.export_catalog = self._catalog(os.path.join(self.work, "export-wh"))
        stg.stage_json(self.spark, self.input, staging, self.date)
        pipeline.run_daily(self.spark, staging, self.date, self.export_catalog,
                           specs=tuple(spec_for(t) for t in EXPORT_TABLES), init_mode=True)
        self.problems = self._check_rows(self.export_catalog, EXPORT_TABLES)
        self.expected = expected_export_counts(self.con, self.export_catalog)

    def _check_rows(self, catalog, tables) -> list[str]:
        got = self.rows = table_counts(self.con, catalog, tables)
        return [f"{t}: {got[t]} rows, expected {self.want[t]}"
                for t in tables if got[t] != self.want[t]]

    def op(self, state, i):
        root = os.path.join(self.work, f"op{i}")
        try:
            with Timer() as timer, state.span("day", trace=f"day{i}"):
                catalog = self._day(root)
            problems = self._check_rows(catalog, BACKFILL_TABLES)
            self.stored = stored_bytes(catalog, BACKFILL_TABLES)
            if self.trace:
                problems += self._exports(state, i, root)
        except Exception as e:  # a failed day counts as a failed operation
            timer, problems = None, [f"day {i}: {type(e).__name__}: {e}"]
        state.record(timer, self.docs_per_day, problems)
        shutil.rmtree(root, ignore_errors=True)

    def _exports(self, state, i, root) -> list[str]:
        """The read side: ``export_repo_data`` for Zipf-drawn repos from
        the export warehouse, each checked against DuckDB. They feed the
        ``export.*`` layer metrics."""
        problems = []
        for k in range(EXPORTS_PER_DAY):
            urn, owner_name = self.draws[(i * EXPORTS_PER_DAY + k) % len(self.draws)]
            wall, p = export_repo(state, self.export_catalog, os.path.join(root, f"export{k}"),
                                  urn, owner_name, self.expected, f"day{i}-export{k}")
            self.export_walls.append(wall)
            problems += p
        return problems

    def finish(self, state):
        if self.trace:
            state.record(None, 0, self.problems)  # the export warehouse's rows

    def detail(self, state, wall):
        return {
            "day_wall_s": {"value": statistics.median(state.op_walls), "unit": "s"},
            "docs_per_s": {"value": state.items / sum(state.op_walls), "unit": "docs/s"},
            "stored_bytes_per_input_byte": {
                "value": self.stored / self.day_bytes, "unit": "ratio"},
            "docs_per_day": self.docs_per_day,
            "rows": getattr(self, "rows", None),
            **(export_detail(self.export_walls) if self.export_walls else {}),
        }


def export_detail(walls: list[float]) -> dict:
    tail = percentile_tail(walls)
    return {
        "export_p50_s": {"value": statistics.median(walls), "unit": "s"},
        "export_tail_s": None if tail is None else {
            "value": tail[0], "unit": "s", "percentile": tail[1], "samples": len(walls)},
        "exports_per_s": {"value": len(walls) / sum(walls), "unit": "1/s"},
    }


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def result_digest(cols, rows) -> tuple[int, str]:
    """Row count and order-insensitive hash, columns ordered by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    return len(canon), hashlib.sha256("\x1e".join(canon).encode()).hexdigest()


class CorpusCuration(Workload):
    """Repeated passes over four composed operator queries on a seeded
    text/embedding corpus, each forced by a noop write."""

    min_ops = 4

    def setup(self):
        from corpus import write_corpus
        from ghcrawler_datalake_etl_spark import queries

        self.corpus = os.path.join(self.work, "corpus")
        write_corpus(self.corpus, self.seed, self.size["curation_docs"],
                     self.size["curation_vecs"])
        self.queries = queries.queries()
        oracles = queries.oracle_sql()
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(self.corpus, t)}.parquet')")
        # the checked pass doubles as the warm-up: every query's rows
        # against its DuckDB oracle, computed once here
        self.problems = []
        for q in CURATION_QUERIES:
            res = self.con.execute(oracles[q])
            want = result_digest([d[0] for d in res.description], res.fetchall())
            try:
                df = self.queries[q](self.spark, self.corpus)
                got = result_digest(df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:
                self.problems.append(f"{q}: {type(e).__name__}: {e}")
                continue
            if got != want:
                self.problems.append(f"{q}: {got[0]} rows vs oracle {want[0]}"
                                     " (or the value hash differs)")

    def finish(self, state):
        state.record(None, 0, self.problems)

    def op(self, state, i):
        problems = []
        with Timer() as timer, state.span("pass", trace=f"pass{i}"):
            for q in CURATION_QUERIES:
                try:
                    with state.span(f"curation.{q}"):
                        self.queries[q](self.spark, self.corpus).write.format(
                            "noop").mode("overwrite").save()
                except Exception as e:
                    problems.append(f"{q}: {type(e).__name__}: {e}")
        state.record(None if problems else timer, len(CURATION_QUERIES), problems)

    def detail(self, state, wall):
        return {"pass_wall_s": {"value": statistics.median(state.op_walls), "unit": "s"}}


WORKLOADS = {
    "backfill_day": BackfillDay,
    "corpus_curation": CorpusCuration,
}


# -- per-layer metrics from spans ------------------------------------------

def layer_metrics(state: RunState, workload: Workload) -> dict:
    tr = state.tracer
    tr.self_times()
    n = max(len(state.op_walls), 1)
    spans = tr.spans

    def sel(name):
        return [s for s in spans if s["name"] == name]

    def wall(name):
        return sum(s["end"] - s["start"] for s in sel(name)) / n

    def self_s(name):
        return sum(s["self_s"] for s in sel(name)) / n

    def calls(name):
        return len(sel(name)) / n

    tops = [s for s in spans if s["parent"] == 0]
    sinks = sel("sinks.overwrite")
    bytes_written = sum(s.get("bytes_written", 0) for s in sinks)
    day_bytes = getattr(workload, "day_bytes", 0)
    m = {
        "staging.stage_s": (wall("staging.stage_json"), "s"),
        "staging.input_bytes": (day_bytes if sel("staging.stage_json") else 0, "bytes"),
        "staging.docs": (getattr(workload, "docs_per_day", 0)
                         if sel("staging.stage_json") else 0, "count"),
        "staging.parse_s": (wall("staging.parse_entity"), "s"),
        "staging.parse_calls": (calls("staging.parse_entity"), "count"),
        "pipeline.run_daily_s": (wall("pipeline.run_daily"), "s"),
        "pipeline.run_daily_self_s": (self_s("pipeline.run_daily"), "s"),
        "pipeline.build_s": (wall("pipeline.build_table"), "s"),
        "pipeline.tables": (sum(s.get("tables", 0) for s in sel("pipeline.run_daily")) / n,
                            "count"),
    }
    for p in "ABCDE":
        m[f"pipeline.pattern_{p}_s"] = (
            sum(s["end"] - s["start"] for s in sinks if s.get("pattern") == p) / n, "s")
    days = sel("day")
    m["pipeline.jobs_per_day"] = (sum(s["jobs_incl"] for s in days) / max(len(days), 1), "count")
    m["pipeline.tasks_per_day"] = (sum(s["tasks_incl"] for s in days) / max(len(days), 1),
                                   "count")
    m.update({
        "sinks.overwrite_s": (wall("sinks.overwrite"), "s"),
        "sinks.overwrite_self_s": (self_s("sinks.overwrite"), "s"),
        "sinks.overwrite_calls": (calls("sinks.overwrite"), "count"),
        "sinks.bytes_written": (bytes_written / n, "bytes"),
        "sinks.files_written": (sum(s.get("files_written", 0) for s in sinks) / n, "count"),
        "sinks.write_amp": (bytes_written / n / day_bytes if day_bytes else 0.0, "ratio"),
    })
    exports = sel("export.export_repo_data")
    m.update({
        "export.call_s": (statistics.median([s["end"] - s["start"] for s in exports])
                          if exports else 0.0, "s"),
        "export.call_self_s": (sum(s["self_s"] for s in exports) / max(len(exports), 1), "s"),
        "export.write_tsv_s": (sum(s["end"] - s["start"] for s in sel("export.write_tsv"))
                               / max(len(exports), 1), "s"),
        "export.write_tsv_calls": (len(sel("export.write_tsv")) / max(len(exports), 1),
                                   "count"),
        "export.jobs_per_call": (sum(s["jobs_incl"] for s in exports)
                                 / max(len(exports), 1), "count"),
        "export.rows_out": (sum(s.get("rows_out", 0) for s in exports)
                            / max(len(exports), 1), "count"),
    })
    passes = sel("pass")
    for q in CURATION_QUERIES:
        m[f"curation.{q}_s"] = (wall(f"curation.{q}"), "s")
    m["curation.jobs_per_pass"] = (sum(s["jobs_incl"] for s in passes)
                                   / max(len(passes), 1), "count")
    m["spark.failed_tasks"] = (sum(s["failed_tasks_incl"] for s in tops), "count")
    return m
