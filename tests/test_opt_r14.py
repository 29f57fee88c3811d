"""Round-14 optimization internals: version-pinned pruned reads, the
fresh-bootstrap merge trim, explicit-schema snapshot reads, and the
driver-thread overlap helper.

Each test pins the CONTRACT an optimization leaned on, so a future
change that silently breaks the lean (e.g. a fold observing a
concurrent merge's pointer flip) fails here rather than only in a
noisy bench."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.functions.concurrency import (
    run_concurrently,
)
from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return ParquetCatalog(spark, str(tmp_path / "wh"), retain=3)


def test_read_pruned_version_pin(spark, cat):
    """read_pruned(version=N) reads the RETAINED version N, immune to
    later merges - the snapshot isolation the fold-while-merging
    overlap relies on."""
    base = spark.range(100).selectExpr("id AS k", "id % 7 AS g", "id AS v")
    cat.merge_upsert(base, "U", ["k"], num_buckets=8, bucket_cols=["g"])
    cat.merge_upsert(
        spark.createDataFrame([(1000, 3, 999_999)], "k long, g long, v long"),
        "U", ["k"], num_buckets=8, bucket_cols=["g"],
    )
    probe = spark.createDataFrame([(3,)], "g long")
    pinned = cat.read_pruned("U", probe, version=0)
    current = cat.read_pruned("U", probe)
    assert pinned.filter("k = 1000").count() == 0
    assert current.filter("k = 1000").count() == 1
    # pinned still returns exactly v0's group-3 rows
    assert pinned.count() == base.filter("g = 3").count()
    with pytest.raises(FileNotFoundError):
        cat.read_pruned("U", probe, version=99)


def test_fold_pinned_upstream_equals_sequential(spark, cat):
    """Folding day-1 with upstream_version pinned to the post-day-1
    version AFTER day 2 already merged lands on the same stats table
    as the strictly sequential fold - the exact overlap the dim_*_ivm
    queries run (here serialized, so the equivalence is
    deterministic)."""
    day0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)],
        "k long, g string, v double",
    )

    def build(warehouse):
        c = ParquetCatalog(spark, warehouse, retain=3)
        c.merge_upsert(day0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
        c.merge_upsert(
            day0.groupBy("g").agg(
                F.count("*").alias("n"), F.count("v").alias("n_vals"),
                F.min("v").alias("min_v"), F.max("v").alias("max_v"),
            ),
            "X", ["g"], num_buckets=4,
        )
        # day 1 retracts the group-a max (forces re-derivation)
        c.merge_upsert(
            spark.createDataFrame([], "k long, g string, v double"),
            "U", ["k"], num_buckets=4, bucket_cols=["g"],
            delete_keys=spark.createDataFrame([(2, "a")], "k long, g string"),
        )
        return c

    seq = build(cat.warehouse + "_seq")
    seq.fold_changes_into_extrema(
        seq.table_changes("U", 0, 1, with_preimages=True),
        "U", "X", ["g"], "v", num_buckets=4,
    )

    pin = build(cat.warehouse + "_pin")
    v1 = pin._current_version("U")
    # day 2 merges BEFORE the day-1 fold runs (the overlap's worst case)
    pin.merge_upsert(
        spark.createDataFrame([(9, "a", 77.0)], "k long, g string, v double"),
        "U", ["k"], num_buckets=4, bucket_cols=["g"],
    )
    pin.fold_changes_into_extrema(
        pin.table_changes("U", 0, 1, with_preimages=True),
        "U", "X", ["g"], "v", num_buckets=4, upstream_version=v1,
    )

    a = sorted(map(tuple, seq.read("X").collect()))
    b = sorted(map(tuple, pin.read("X").collect()))
    assert a == b
    # group a's max re-derived to 10.0 from the PINNED v1, not 77.0
    row = dict((r["g"], r["max_v"]) for r in pin.read("X").collect())
    assert row["a"] == 10.0


def test_fresh_bootstrap_merge_unchanged(spark, cat):
    """The fresh-table bootstrap (no persist / eager count) still lands
    identical state, reports every non-empty bucket rewritten, and the
    very next merge is incremental against it."""
    delta = spark.range(50).selectExpr("id AS k", "id AS v")
    stats = cat.merge_upsert(delta, "T", ["k"], num_buckets=8)
    assert stats["linked"] == 0 and stats["rewritten"] >= 1
    assert sorted(r["k"] for r in cat.read("T").collect()) == list(range(50))
    stats2 = cat.merge_upsert(
        spark.createDataFrame([(1, 100)], "k long, v long"),
        "T", ["k"], num_buckets=8,
    )
    assert stats2["rewritten"] == 1 and stats2["linked"] >= 1
    assert cat.read("T").filter("k = 1").collect()[0]["v"] == 100


def test_explicit_schema_read_matches_inference(spark, cat):
    """Merged snapshots (loaded with their recorded schema) read back
    the same rows/columns/types as the delta that produced them; a
    later plain overwrite with a different schema records and reads
    its own schema, not the merged version's."""
    delta = spark.createDataFrame(
        [(1, "x", 1.5), (2, None, 2.5)], "k long, s string, d double"
    )
    cat.merge_upsert(delta, "M", ["k"], num_buckets=4)
    got = cat.read("M")
    assert dict(got.dtypes) == dict(delta.dtypes)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, delta.collect()))
    # overwrite with a DIFFERENT schema: the read must surface the
    # overwrite's actual columns, not the merged version's
    other = spark.createDataFrame([(7, True)], "k long, flag boolean")
    cat.overwrite(other, "M")
    got2 = cat.read("M")
    assert dict(got2.dtypes) == dict(other.dtypes)
    assert got2.collect()[0]["flag"] is True


def test_meta_schema_is_written_schema_not_delta(spark, cat):
    """A delta WIDER than the standing table (apply_changes feed whose
    seq column the table does not store) is projected to the table's
    columns at write time; the version's recorded schema must hold that
    written shape, or later snapshot opens surface a phantom column
    and the next merge fails to align (regression: dim_apply_changes
    under the explicit-schema read)."""
    cat.merge_upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        "D", ["k"], num_buckets=4,
    )
    # feed carries seq; table does not - alignment drops it
    cat.apply_changes(
        spark.createDataFrame(
            [("U", 1, "a2", 10), ("I", 3, "c", 11)],
            "op string, k long, s string, seq long",
        ),
        "D", ["k"], seq_col="seq", num_buckets=4,
    )
    assert cat.read("D").columns == ["k", "s"]
    # the failing sequence: another plain merge must align cleanly
    cat.merge_upsert(
        spark.createDataFrame([(2, "b2")], "k long, s string"),
        "D", ["k"], num_buckets=4,
    )
    got = {r["k"]: r["s"] for r in cat.read("D").collect()}
    assert got == {1: "a2", 2: "b2", 3: "c"}


def test_mmr_rounds_are_joinless(spark, monkeypatch):
    """mmr_rerank carries the argmax row's vector/norm through the
    per-round top-1 instead of joining the 1-row result back to the
    candidate frame - each round must be a single narrow pass with NO
    join job, and the greedy selection is unchanged (here verified
    against the hand-computed MMR sequence: relevance picks id 1
    first, diversity then prefers the orthogonal id 3 over the
    near-duplicate id 2).

    NOTE: the spy must target pyspark.sql.classic.dataframe.DataFrame -
    Spark 4 overrides join/collect there, so patching the
    pyspark.sql.DataFrame facade intercepts nothing (a facade-level spy
    makes `joins == []` pass vacuously even against joining code)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ghcrawler_datalake_etl_spark.operators.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1.0),
            (2, [0.999, 0.01], 0.9),   # near-duplicate of 1
            (3, [0.0, 1.0], 0.5),      # orthogonal
        ],
        "id long, vec array<double>, rel double",
    )
    joins = []
    real_join = DataFrame.join
    monkeypatch.setattr(
        DataFrame, "join", lambda self, *a, **kw: (
            joins.append(1), real_join(self, *a, **kw)
        )[1]
    )
    # spy liveness: a deliberate join must be seen, or assertions below
    # would pass vacuously
    spark.range(1).join(spark.range(1), "id")
    assert joins == [1]
    joins.clear()
    got = mmr_rerank(cand, "id", "vec", "rel", k=3, lam=0.5).collect()
    assert joins == []
    assert [r["id"] for r in sorted(got, key=lambda r: r["mmr_rank"])] == [
        1, 3, 2,
    ]


def test_first_occurrence_is_window_not_self_join(spark):
    """The ExactSubstr/span first-occurrence pass is a whole-partition
    window min, not a groupBy + join back of the digest subtree (which
    computed the O(tokens x k) digesting on both join sides). Pins the
    plan shape - duplicate_span_fraction is joinless, and
    remove_duplicate_substrings keeps only the coverage join and the
    pass-through restore join - and the hand-computed results."""
    import re

    from ghcrawler_datalake_etl_spark.operators.dedup import (
        duplicate_span_fraction,
        remove_duplicate_substrings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),      # full duplicate of 1
            (3, "x y z a b"),      # fresh
        ],
        "doc_id long, text string",
    )

    def njoins(df):
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).split("\n\n")[0]
        return len(re.findall(r"Join", tree))

    span = duplicate_span_fraction(docs, "doc_id", "text", n=2)
    assert njoins(span) == 0
    got = {r["doc_id"]: r["n_dup"] for r in span.collect()}
    assert got == {1: 0, 2: 4, 3: 1}  # doc3 shares only 'a b'

    rm = remove_duplicate_substrings(docs, "doc_id", "text", min_tokens=3)
    assert njoins(rm) == 2  # coverage join + pass-through restore only
    out = {r["doc_id"]: r["text_clean"] for r in rm.collect()}
    assert out[1] == "a b c d e" and out[2] == ""
    assert out[3] == "x y z a b"  # its 3-windows are all first-seen


def test_run_concurrently_results_and_errors(spark):
    out = run_concurrently(lambda: 1, lambda: 2, lambda: 3)
    assert out == [1, 2, 3]

    def boom():
        raise RuntimeError("thunk failed")

    with pytest.raises(RuntimeError, match="thunk failed"):
        run_concurrently(lambda: 1, boom)
    # concurrent Spark actions from two threads both complete
    a = spark.range(1000).selectExpr("sum(id) AS s")
    b = spark.range(2000).selectExpr("count(*) AS c")
    ra, rb = run_concurrently(
        lambda: a.collect()[0]["s"], lambda: rb_count(b)
    )
    assert ra == 499500 and rb == 2000


def rb_count(df):
    return df.collect()[0]["c"]


def test_load_table_schema_memo(spark, tmp_path):
    """load_table memoizes the INFERRED SCHEMA per (path, size, mtime)
    and passes it explicitly on later opens - metadata-only (the data
    is still scanned per action), saving the ~65-90 ms driver-side
    footer read per open. Pins: (a) memoized opens return the same
    schema and rows; (b) replacing the file (new size/mtime) is
    re-inferred, never served a stale schema."""
    from ghcrawler_datalake_etl_spark.tables import _SCHEMA_MEMO, load_table

    p = tmp_path / "orders.parquet"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string"
    ).coalesce(1).write.mode("overwrite").parquet(str(p))
    first = load_table(spark, str(tmp_path), "orders")
    again = load_table(spark, str(tmp_path), "orders")
    assert first.schema == again.schema
    assert sorted(map(tuple, again.collect())) == [(1, "a"), (2, "b")]
    # the memo is keyed on the DIRECTORY stat; a rewrite with a new
    # schema must re-infer (the old key no longer matches)
    spark.createDataFrame(
        [(3, 1.5)], "k long, v double"
    ).coalesce(1).write.mode("overwrite").parquet(str(p))
    reread = load_table(spark, str(tmp_path), "orders")
    assert dict(reread.dtypes) == {"k": "bigint", "v": "double"}
    assert [tuple(r) for r in reread.collect()] == [(3, 1.5)]
    assert any(k[0] == str(p) for k in _SCHEMA_MEMO)


def test_fan_out_probe_skips_are_decision_identical(spark, tmp_path):
    """fan_out's RDD-conversion probe (~60-80ms of driver work per
    call) is skipped exactly where the answer is already known: frames
    fan_out itself returned (identity - so an operator re-fanning its
    caller's frame adds NO second Exchange), and bare load_table scans
    (file-determined parallelism, memoized per stat key). Every other
    frame - notably a DERIVED frame sharing a fanned scan's file set -
    keeps the direct probe, so decisions are bit-identical to probing
    every time (the files-keyed memo this replaces re-fired the
    repartition on already-fanned frames)."""
    from ghcrawler_datalake_etl_spark.functions.core import (
        _SCAN_FAN_MEMO,
        fan_out,
    )
    from ghcrawler_datalake_etl_spark.tables import load_table

    p = str(tmp_path / "docs.parquet")
    spark.range(100).selectExpr(
        "id AS doc_id", "repeat('x', 10) AS text"
    ).coalesce(1).write.mode("overwrite").parquet(p)

    # (a) double fan_out is a no-op on the second call: same object,
    # ONE round-robin exchange in the plan
    df = spark.read.parquet(p)
    fanned = fan_out(df, partitions=8)
    assert fanned.rdd.getNumPartitions() == 8
    assert fan_out(fanned, partitions=8) is fanned
    plan = fanned._sc._jvm.PythonSQLUtils.explainString(
        fan_out(fanned, partitions=8)._jdf.queryExecution(), "simple"
    ).split("== Initial Plan ==")[0]  # AQE repeats the tree there
    assert plan.count("RoundRobinPartitioning") == 1, plan

    # (b) bare load_table scans memoize the decision per file stat
    _SCAN_FAN_MEMO.clear()
    t1 = fan_out(load_table(spark, str(tmp_path), "docs"), partitions=8)
    assert t1.rdd.getNumPartitions() == 8
    assert len(_SCAN_FAN_MEMO) == 1
    t2 = fan_out(load_table(spark, str(tmp_path), "docs"), partitions=8)
    assert sorted(r[0] for r in t2.select("doc_id").collect()) == list(
        range(100)
    )

    # (c) a DERIVED frame of an already-fanned scan does NOT reuse the
    # scan's memo: direct probe sees 8 partitions, no second exchange
    derived = fan_out(t1.select("doc_id"), partitions=8)
    dplan = derived._sc._jvm.PythonSQLUtils.explainString(
        derived._jdf.queryExecution(), "simple"
    ).split("== Initial Plan ==")[0]
    assert dplan.count("RoundRobinPartitioning") == 1, dplan

    # (d) file-less frames keep the direct probe and still fan out
    mem = spark.createDataFrame([(1,)], "a long")
    assert fan_out(mem, partitions=16).rdd.getNumPartitions() == 16
