"""Round-13 IVM operators: the bucket_cols secondary-index merge
layout, partition-pruned point reads, join-shaped IVM
(fold_changes_into_join), non-retractable extrema IVM
(fold_changes_into_extrema), streaming BM25 maintenance, and the
failed-merge cleanup contract. Property-level identities (arbitrary
evolutions == from-scratch recompute) live in test_properties.py;
these pin the concrete edge scenarios and plan shapes."""

import os

import pytest
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.sources import ivm
from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog


def _cat(spark, tmp_path, retain=4) -> ParquetCatalog:
    return ParquetCatalog(spark, str(tmp_path / "wh"), retain=retain)


# ---------------------------------------------------------------------
# bucket_cols: the secondary-index merge layout
# ---------------------------------------------------------------------


def test_merge_bucket_cols_moves_rows_between_buckets(spark, tmp_path):
    """A table keyed by pk but bucketed by fk: an update that CHANGES
    fk must land in the new fk's bucket and vanish from the old one
    (its preimage rides delete_keys) - the layout the join/extrema IVM
    probes depend on."""
    cat = _cat(spark, tmp_path)
    a = spark.createDataFrame(
        [(i, i % 7, f"r{i}") for i in range(100)],
        "pk long, fk long, s string",
    )
    cat.merge_upsert(a, "T", ["pk"], num_buckets=8, bucket_cols=["fk"])
    assert cat.read("T").count() == 100

    delta = spark.createDataFrame(
        [(3, 6, "moved")], "pk long, fk long, s string"
    )
    pre = spark.createDataFrame([(3, 3)], "pk long, fk long")
    cat.merge_upsert(
        delta, "T", ["pk"], num_buckets=8, bucket_cols=["fk"],
        delete_keys=pre,
    )
    t = cat.read("T")
    assert t.count() == 100  # moved, not duplicated
    assert t.filter("pk = 3").collect()[0]["fk"] == 6

    got = cat.read_pruned(
        "T", spark.createDataFrame([(6,)], "fk long")
    ).collect()
    assert all(r["fk"] == 6 for r in got)
    assert any(r["pk"] == 3 for r in got)


def test_merge_bucket_cols_requires_preimage_in_delete_keys(
    spark, tmp_path
):
    cat = _cat(spark, tmp_path)
    a = spark.createDataFrame([(1, 2, "x")], "pk long, fk long, s string")
    cat.merge_upsert(a, "T", ["pk"], num_buckets=4, bucket_cols=["fk"])
    with pytest.raises(ValueError, match="bucket columns"):
        cat.merge_upsert(
            a, "T", ["pk"], num_buckets=4, bucket_cols=["fk"],
            delete_keys=spark.createDataFrame([(1,)], "pk long"),
        )


def test_read_pruned_is_partition_pruned(spark, tmp_path):
    """The point of the layout: a read_pruned probe must reach the
    scan as a PartitionFilter on _kb (parquet directory pruning), with
    the probe values applied as a broadcast SEMI - never a full-table
    scan feeding a shuffle join."""
    cat = _cat(spark, tmp_path)
    a = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "pk long, fk long"
    )
    cat.merge_upsert(a, "T", ["pk"], num_buckets=8, bucket_cols=["fk"])
    probe = spark.createDataFrame([(6,)], "fk long")
    plan = (
        cat.read_pruned("T", probe)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "_kb" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_merge_upsert_failed_write_leaves_no_orphan_version(
    spark, tmp_path
):
    """A write job that fails mid-merge (here: the IVM op-set guard
    raising lazily inside the fold's write) must remove the
    in-progress version dir - the pointer never flipped, so the orphan
    would be unreachable forever - and the table must keep working."""
    cat = _cat(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20)], "pk long, grp string, v long"
    )
    cat.merge_upsert(base, "Up", ["pk"], num_buckets=4)
    bad = spark.createDataFrame(
        [("U", 1, "a", 99)], "op string, pk long, grp string, v long"
    )
    with pytest.raises(Exception, match="preimage feed"):
        ivm.fold_changes_into_stats(cat, bad, "St", ["grp"], "v")
    tdir = str(tmp_path / "wh" / "St")
    orphans = [
        d for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
        if d.startswith("v")
    ]
    assert not orphans, orphans
    good = spark.createDataFrame(
        [("I", 3, "b", 40)], "op string, pk long, grp string, v long"
    )
    ivm.fold_changes_into_stats(cat, good, "St", ["grp"], "v")
    got = {
        r["grp"]: (r["n"], r["sum_v"]) for r in cat.read("St").collect()
    }
    assert got == {"b": (1, 40)}


# ---------------------------------------------------------------------
# join-shaped IVM
# ---------------------------------------------------------------------


@pytest.mark.slow
def test_join_ivm_scenario_fk_moves_deletes_and_quiet_day(
    spark, tmp_path
):
    """The concrete delta-join edge set: FK moves (old join key's row
    retracted, new key's lands), an unmatched row gaining a match, a
    same-day insert against a same-day-deleted B key (must never
    join), a B delete cascading through the index on an A-quiet day,
    and the final identity J == A JOIN B."""
    cat = _cat(spark, tmp_path)
    a0 = spark.createDataFrame(
        [(1, 10, "a1"), (2, 10, "a2"), (3, 20, "a3"), (4, 99, "a4")],
        "k long, fk long, av string",
    )
    b0 = spark.createDataFrame(
        [(10, "b10"), (20, "b20"), (30, "b30")], "fk long, bv string"
    )
    cat.merge_upsert(a0, "A", ["k"], num_buckets=4)
    cat.merge_upsert(b0, "B", ["fk"], num_buckets=4)
    ivm.fold_changes_into_join(
        cat, a0.select(F.lit("I").alias("op"), "*"),
        b0.select(F.lit("I").alias("op"), "*"),
        "J", "AIdx", "B", ["k"], ["fk"], num_buckets=4,
    )
    j = {r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()}
    assert j == {1: (10, "b10"), 2: (10, "b10"), 3: (20, "b20")}

    # day 1: k=1 moves 10->20; k=2 deleted; k=5 inserted at fk=30
    # while B deletes 30 the same day; k=4 moves 99->10 (was
    # unmatched, now matches); B updates 20's value
    a1 = spark.createDataFrame(
        [(1, 20, "a1"), (5, 30, "a5"), (4, 10, "a4")],
        "k long, fk long, av string",
    )
    cat.merge_upsert(
        a1, "A", ["k"], num_buckets=4,
        delete_keys=spark.createDataFrame([(2,)], "k long"),
    )
    cat.merge_upsert(
        spark.createDataFrame([(20, "B20v2")], "fk long, bv string"),
        "B", ["fk"], num_buckets=4,
        delete_keys=spark.createDataFrame([(30,)], "fk long"),
    )
    ivm.fold_changes_into_join(
        cat, ivm.table_changes(cat, "A", 0, 1, with_preimages=True),
        ivm.table_changes(cat, "B", 0, 1, with_preimages=True),
        "J", "AIdx", "B", ["k"], ["fk"], num_buckets=4,
    )
    j = {r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()}
    assert j == {1: (20, "B20v2"), 3: (20, "B20v2"), 4: (10, "b10")}

    # day 2: A quiet; B deletes 10 (kills k=4 via the index) and
    # re-inserts 30 (k=5 appears - the index held it while unmatched)
    cat.merge_upsert(
        spark.createDataFrame([(30, "b30v2")], "fk long, bv string"),
        "B", ["fk"], num_buckets=4,
        delete_keys=spark.createDataFrame([(10,)], "fk long"),
    )
    ivm.fold_changes_into_join(
        cat, None,
        ivm.table_changes(cat, "B", 1, 2, with_preimages=True),
        "J", "AIdx", "B", ["k"], ["fk"], num_buckets=4,
    )
    j = {r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()}
    assert j == {1: (20, "B20v2"), 3: (20, "B20v2"), 5: (30, "b30v2")}

    full = {
        r["k"]: (r["fk"], r["bv"])
        for r in cat.read("A").join(cat.read("B"), "fk").collect()
    }
    assert full == j


def test_join_ivm_rejects_post_image_only_feed(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    a0 = spark.createDataFrame([(1, 10, "x")], "k long, fk long, av string")
    b0 = spark.createDataFrame([(10, "y")], "fk long, bv string")
    cat.merge_upsert(a0, "A", ["k"], num_buckets=2)
    cat.merge_upsert(b0, "B", ["fk"], num_buckets=2)
    ivm.fold_changes_into_join(
        cat, a0.select(F.lit("I").alias("op"), "*"),
        b0.select(F.lit("I").alias("op"), "*"),
        "J", "AIdx", "B", ["k"], ["fk"], num_buckets=2,
    )
    bad = spark.createDataFrame(
        [("U", 1, 10, "z")], "op string, k long, fk long, av string"
    )
    with pytest.raises(Exception, match="preimage feed"):
        ivm.fold_changes_into_join(
            cat, bad, None, "J", "AIdx", "B", ["k"], ["fk"], num_buckets=2
        )
    # the standing join is untouched by the failed fold
    assert {r["k"] for r in cat.read("J").collect()} == {1}


def test_join_ivm_null_fk_rows_never_join(spark, tmp_path):
    """Inner-join semantics: an A row with a NULL join key sits in the
    index but never produces a J row - matching what a from-scratch
    join computes."""
    cat = _cat(spark, tmp_path)
    a0 = spark.createDataFrame(
        [(1, None, "n"), (2, 10, "m")], "k long, fk long, av string"
    )
    b0 = spark.createDataFrame([(10, "y")], "fk long, bv string")
    cat.merge_upsert(a0, "A", ["k"], num_buckets=2)
    cat.merge_upsert(b0, "B", ["fk"], num_buckets=2)
    ivm.fold_changes_into_join(
        cat, a0.select(F.lit("I").alias("op"), "*"),
        b0.select(F.lit("I").alias("op"), "*"),
        "J", "AIdx", "B", ["k"], ["fk"], num_buckets=2,
    )
    assert {r["k"] for r in cat.read("J").collect()} == {2}


# ---------------------------------------------------------------------
# extrema IVM
# ---------------------------------------------------------------------


def test_extrema_ivm_scenario_ties_nulls_moves_and_emptying(
    spark, tmp_path
):
    """The edge set the operator exists for: a delete retracting a
    group's max (re-derived through the pruned upstream read), a
    delete of ONE of two tied maxima (max must survive), a group move
    retracting both extrema of the source group, an all-NULL remainder
    (n_vals=0 -> NULL extrema), an emptied group (stats row deleted),
    and DOUBLE values (no integer restriction)."""
    cat = _cat(spark, tmp_path)
    rows0 = [(1, "a", 5.0), (2, "a", 9.0), (3, "a", 9.0), (4, "b", 1.0),
             (5, "b", None), (6, "c", 7.0)]
    up0 = spark.createDataFrame(rows0, "k long, g string, v double")
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_extrema(
        cat, up0.select(F.lit("I").alias("op"), "*"), "U", "X", ["g"], "v",
        num_buckets=4,
    )
    x = {r["g"]: tuple(r)[1:] for r in cat.read("X").select(
        "g", "n", "n_vals", "min_v", "max_v").collect()}
    assert x == {"a": (3, 3, 5.0, 9.0), "b": (2, 1, 1.0, 1.0),
                 "c": (1, 1, 7.0, 7.0)}

    # day 1: delete one of a's tied maxima; move k=4 b->c at 8.0
    # (b keeps only its NULL row); delete c's old max; insert 12.0 in a
    cat.merge_upsert(
        spark.createDataFrame(
            [(7, "a", 12.0), (4, "c", 8.0)], "k long, g string, v double"
        ),
        "U", ["k"], num_buckets=4, bucket_cols=["g"],
        delete_keys=spark.createDataFrame(
            [(2, "a"), (6, "c"), (4, "b")], "k long, g string"
        ),
    )
    ivm.fold_changes_into_extrema(
        cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
        "U", "X", ["g"], "v", num_buckets=4,
    )
    x = {r["g"]: tuple(r)[1:] for r in cat.read("X").select(
        "g", "n", "n_vals", "min_v", "max_v").collect()}
    assert x == {"a": (3, 3, 5.0, 12.0), "b": (1, 0, None, None),
                 "c": (1, 1, 8.0, 8.0)}

    # day 2: empty group c entirely -> its stats row is deleted
    cat.merge_upsert(
        spark.createDataFrame([], "k long, g string, v double"),
        "U", ["k"], num_buckets=4, bucket_cols=["g"],
        delete_keys=spark.createDataFrame([(4, "c")], "k long, g string"),
    )
    ivm.fold_changes_into_extrema(
        cat, ivm.table_changes(cat, "U", 1, 2, with_preimages=True),
        "U", "X", ["g"], "v", num_buckets=4,
    )
    x = {r["g"]: tuple(r)[1:] for r in cat.read("X").select(
        "g", "n", "n_vals", "min_v", "max_v").collect()}
    assert x == {"a": (3, 3, 5.0, 12.0), "b": (1, 0, None, None)}

    full = {r["g"]: tuple(r)[1:] for r in cat.read("U").groupBy("g").agg(
        F.count("*").alias("n"), F.count("v").alias("n_vals"),
        F.min("v").alias("min_v"), F.max("v").alias("max_v"),
    ).select("g", "n", "n_vals", "min_v", "max_v").collect()}
    assert full == x


def test_extrema_ivm_requires_group_bucketed_upstream(spark, tmp_path):
    """The re-derivation reads the upstream through read_pruned by
    GROUP - an upstream bucketed by its key cannot serve that read and
    must be rejected up front, not scanned."""
    cat = _cat(spark, tmp_path)
    up0 = spark.createDataFrame(
        [(1, "a", 5.0)], "k long, g string, v double"
    )
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4)  # key-bucketed
    with pytest.raises(ValueError, match="bucket_cols"):
        ivm.fold_changes_into_extrema(
            cat, up0.select(F.lit("I").alias("op"), "*"), "U", "X", ["g"], "v"
        )


# ---------------------------------------------------------------------
# streaming BM25 maintenance
# ---------------------------------------------------------------------

_DOCS = [
    (0, "spark joins windows and spark shuffles"),
    (1, "window functions over spark frames"),
    (2, "the quick brown fox"),
    (3, "spark spark spark window join"),
    (4, "join strategies in distributed engines"),
    (5, "window join spark"),
]


def test_stream_bm25_two_triggers_match_batch_topk(spark, tmp_path):
    """Two REAL availableNow triggers appending postings/length deltas;
    the post-stream serve over base + deltas must be bit-identical to
    the batch BM25 over all documents (shared scoring tail)."""
    from ghcrawler_datalake_etl_spark.operators import search as SR
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        bm25_store_frames,
        stream_bm25_maintenance,
    )

    SCHEMA = "doc_id long, text string"
    corpus = spark.createDataFrame(_DOCS[:2], SCHEMA)
    base_p, base_l = SR.bm25_index(corpus, "doc_id", "text")
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    def run():
        stream_bm25_maintenance(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir), store, ck
        ).awaitTermination()

    for i, batch in enumerate((_DOCS[2:4], _DOCS[4:])):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
            os.path.join(sdir, f"day{i}")
        )
        run()

    postings, lengths = bm25_store_frames(
        spark, store, base_postings=base_p, base_lengths=base_l
    )
    got = [
        tuple(r)
        for r in SR.bm25_topk_index(
            postings, lengths, ["spark", "window", "join"], top_k=6
        ).collect()
    ]
    want = [
        tuple(r)
        for r in SR.bm25_topk(
            spark.createDataFrame(_DOCS, SCHEMA), "doc_id", "text",
            ["spark", "window", "join"], top_k=6,
        ).collect()
    ]
    assert got == want and len(got) >= 4


def test_stream_bm25_replayed_trigger_never_double_appends(
    spark, tmp_path
):
    """Crash-replay proof: losing trigger 0's checkpoint commit makes
    the restart replay it; the replay must OVERWRITE its own delta
    dirs (manifest append is idempotent) - a double-appended postings
    delta would double tf/df and shift every score off the batch
    identity."""
    from ghcrawler_datalake_etl_spark.operators import search as SR
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        bm25_store_frames,
        stream_bm25_maintenance,
    )

    SCHEMA = "doc_id long, text string"
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    def run():
        stream_bm25_maintenance(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir), store, ck
        ).awaitTermination()

    spark.createDataFrame(_DOCS[:3], SCHEMA).coalesce(1).write.parquet(
        os.path.join(sdir, "day0")
    )
    run()
    os.remove(os.path.join(ck, "commits", "0"))
    crc = os.path.join(ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()  # the replay
    spark.createDataFrame(_DOCS[3:], SCHEMA).coalesce(1).write.parquet(
        os.path.join(sdir, "day1")
    )
    run()

    postings, lengths = bm25_store_frames(spark, store)
    # every document indexed exactly once despite the replay
    assert lengths.groupBy("doc_id").count().filter(
        "count > 1"
    ).count() == 0
    got = [
        tuple(r)
        for r in SR.bm25_topk_index(
            postings, lengths, ["spark", "window", "join"], top_k=6
        ).collect()
    ]
    want = [
        tuple(r)
        for r in SR.bm25_topk(
            spark.createDataFrame(_DOCS, SCHEMA), "doc_id", "text",
            ["spark", "window", "join"], top_k=6,
        ).collect()
    ]
    assert got == want


# ---------------------------------------------------------------------
# streaming join IVM
# ---------------------------------------------------------------------


def test_stream_join_ivm_bootstrap_replay_and_identity(spark, tmp_path):
    """The streaming arm of fold_changes_into_join: trigger 0
    BOOTSTRAPS table, index, and join from nothing; a crash replay
    (lost checkpoint commit) re-derives the recorded diff and re-folds
    idempotently; trigger 1's FK moves and deletes land; the final
    join equals the from-scratch join."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_join_ivm,
    )

    cat = _cat(spark, tmp_path)
    b = spark.createDataFrame(
        [(10, "b10"), (20, "b20")], "fk long, bv string"
    )
    cat.merge_upsert(b, "B", ["fk"], num_buckets=4)
    SCHEMA = "op string, k long, fk long, av string"
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    feed_root = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")

    def run():
        stream_join_ivm(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            cat, "A", "J", "AIdx", "B", ["k"], ["fk"], feed_root, ck,
            num_buckets=4,
        ).awaitTermination()

    spark.createDataFrame(
        [("I", 1, 10, "a1"), ("I", 2, 10, "a2"), ("I", 3, 20, "a3"),
         ("I", 4, 99, "a4")], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day0"))
    run()
    j0 = {r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()}
    assert j0 == {1: (10, "b10"), 2: (10, "b10"), 3: (20, "b20")}

    # crash replay: drop the commit, restart - same state, no doubles
    os.remove(os.path.join(ck, "commits", "0"))
    crc = os.path.join(ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert {
        r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()
    } == j0

    spark.createDataFrame(
        [("U", 1, 20, "a1"), ("D", 2, 10, "a2"), ("U", 4, 10, "a4")],
        SCHEMA,
    ).coalesce(1).write.parquet(os.path.join(sdir, "day1"))
    run()
    j = {r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()}
    assert j == {1: (20, "b20"), 3: (20, "b20"), 4: (10, "b10")}
    full = {
        r["k"]: (r["fk"], r["bv"])
        for r in cat.read("A").join(cat.read("B"), "fk").collect()
    }
    assert full == j


def test_stream_aggregate_ivm_replay_never_double_counts(
    spark, tmp_path
):
    """The streaming arm of BOTH aggregate folds: the arithmetic stats
    fold is NOT idempotent, so exactly-once rides the per-downstream-
    table version ledger - a replayed trigger (lost checkpoint commit)
    must skip already-applied folds. Group moves retract extrema
    through the feed-maintained group-bucketed replica; the final
    stats/extrema equal the recompute from the maintained upstream."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_aggregate_ivm,
    )

    cat = _cat(spark, tmp_path)
    SCHEMA = "op string, k long, g string, cents long"
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    feed_root = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")

    def run():
        stream_aggregate_ivm(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            cat, "A", "AIdx", "S", "X", ["k"], ["g"], "cents",
            feed_root, ck, num_buckets=4,
        ).awaitTermination()

    spark.createDataFrame(
        [("I", 1, "a", 10), ("I", 2, "a", 30), ("I", 3, "b", 7),
         ("I", 4, "b", None)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day0"))
    run()

    def snap(t):
        return {r["g"]: tuple(r)[1:] for r in cat.read(t).collect()}

    s0, x0 = snap("S"), snap("X")
    assert s0 == {"a": (2, 2, 40), "b": (2, 1, 7)}
    assert x0 == {"a": (2, 2, 10, 30), "b": (2, 1, 7, 7)}

    os.remove(os.path.join(ck, "commits", "0"))
    crc = os.path.join(ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()  # replay: arithmetic folds must not double
    assert snap("S") == s0 and snap("X") == x0

    # k=2 moves a->b (retracts a's max), k=3 deleted (b's min AND
    # max), k=5 inserted
    spark.createDataFrame(
        [("U", 2, "b", 30), ("D", 3, "b", 7), ("I", 5, "a", 4)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day1"))
    run()
    s, x = snap("S"), snap("X")
    assert s == {"a": (2, 2, 14), "b": (2, 1, 30)}
    assert x == {"a": (2, 2, 4, 10), "b": (2, 1, 30, 30)}
    want = {
        r["g"]: tuple(r)[1:]
        for r in cat.read("A")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"), F.count("cents").alias("nv"),
            F.sum("cents").alias("s"), F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
        .collect()
    }
    assert want == {
        g: (s[g][0], s[g][1], s[g][2], x[g][2], x[g][3]) for g in s
    }


def test_chained_ivm_gold_subscribes_to_silver_changefeed(
    spark, tmp_path
):
    """The bronze -> silver -> gold chain: the gold aggregate is
    maintained ONLY from the silver join table's own changefeed (hop
    2 never reads the join or the upstreams). An FK move that shifts
    a row between gold groups must retract from one and add to the
    other through two IVM hops."""
    cat = _cat(spark, tmp_path)
    a0 = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 250), (3, 20, 40)],
        "k long, fk long, cents long",
    )
    b0 = spark.createDataFrame(
        [(10, 1), (20, 2)], "fk long, nat long"
    )
    cat.merge_upsert(a0, "A", ["k"], num_buckets=4)
    cat.merge_upsert(b0, "B", ["fk"], num_buckets=4)
    cat.merge_upsert(a0, "AIdx", ["k"], num_buckets=4, bucket_cols=["fk"])
    j0 = a0.join(b0, "fk")
    cat.merge_upsert(j0, "J", ["k"], num_buckets=4)
    cat.merge_upsert(
        j0.groupBy("nat").agg(
            F.count("*").alias("n"),
            F.count("cents").alias("n_vals"),
            F.sum("cents").alias("sum_v"),
        ),
        "G", ["nat"], num_buckets=2,
    )
    # day 1: k=1 moves fk 10 -> 20 (gold group 1 -> 2), k=3 deleted
    cat.merge_upsert(
        spark.createDataFrame([(1, 20, 100)], "k long, fk long, cents long"),
        "A", ["k"], num_buckets=4,
        delete_keys=spark.createDataFrame([(3,)], "k long"),
    )
    j_pre = cat.current_version("J")
    ivm.fold_changes_into_join(
        cat, ivm.table_changes(cat, "A", 0, 1, with_preimages=True),
        None, "J", "AIdx", "B", ["k"], ["fk"], num_buckets=4,
    )
    ivm.fold_changes_into_stats(
        cat, ivm.table_changes(
            cat, "J", j_pre, cat.current_version("J"), with_preimages=True
        ),
        "G", ["nat"], "cents", num_buckets=2,
    )
    got = {r["nat"]: (r["n"], r["sum_v"]) for r in cat.read("G").collect()}
    assert got == {1: (1, 250), 2: (1, 100)}, got
    want = {
        r["nat"]: (r["n"], r["sum_v"])
        for r in cat.read("A")
        .join(cat.read("B"), "fk")
        .groupBy("nat")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_v"))
        .collect()
    }
    assert want == got


# ---------------------------------------------------------------------
# ADVICE r13 pinning: fold robustness on every exit path
# ---------------------------------------------------------------------


def test_stats_fold_accepts_overwrite_bootstrapped_table(spark, tmp_path):
    """A stats table that exists WITHOUT merge metadata (bootstrapped
    via plain overwrite()) must still fold: the read_pruned switch
    degrades to the broadcast-semi-pruned full read for that one fold
    and the merge re-buckets the table, so later folds take the pruned
    path (ADVICE r13 - the round-13 switch must not reject tables the
    old read_or_none path accepted)."""
    cat = _cat(spark, tmp_path)
    cat.overwrite(
        spark.createDataFrame(
            [("a", 2, 2, 30)],
            "grp string, n long, n_vals long, sum_v long",
        ),
        "St",
    )
    assert cat.layout("St") is None
    feed = spark.createDataFrame(
        [("I", 3, "a", 5), ("I", 4, "b", 7)],
        "op string, pk long, grp string, v long",
    )
    ivm.fold_changes_into_stats(cat, feed, "St", ["grp"], "v")
    got = {
        r["grp"]: (r["n"], r["sum_v"]) for r in cat.read("St").collect()
    }
    assert got == {"a": (3, 35), "b": (1, 7)}
    # the merge re-bucketed the table: pruned path from now on
    assert cat.layout("St") is not None
    ivm.fold_changes_into_stats(
        cat, spark.createDataFrame(
            [("I", 5, "a", 1)], "op string, pk long, grp string, v long"
        ),
        "St", ["grp"], "v",
    )
    got = {
        r["grp"]: (r["n"], r["sum_v"]) for r in cat.read("St").collect()
    }
    assert got == {"a": (4, 36), "b": (1, 7)}


def test_extrema_fold_raises_when_rederive_has_no_upstream(
    spark, tmp_path
):
    """A retraction that ties the standing extremum NEEDS the upstream
    post-state; when the upstream has merge metadata but no current
    version (crashed bootstrap between meta write and pointer flip)
    the fold must raise loudly, never silently keep stale extrema
    (ADVICE r13)."""
    cat = _cat(spark, tmp_path)
    up = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 5.0)], "pk long, grp string, v double"
    )
    cat.merge_upsert(up, "Up", ["pk"], num_buckets=4, bucket_cols=["grp"])
    boot = spark.createDataFrame(
        [("I", 1, "a", 10.0), ("I", 2, "a", 5.0)],
        "op string, pk long, grp string, v double",
    )
    ivm.fold_changes_into_extrema(cat, boot, "Up", "X", ["grp"], "v")
    # simulate the crashed bootstrap: meta present, pointer gone
    os.remove(str(tmp_path / "wh" / "Up" / "_CURRENT"))
    retract_max = spark.createDataFrame(
        [("D", 1, "a", 10.0)], "op string, pk long, grp string, v double"
    )
    with pytest.raises(ValueError, match="no current version"):
        ivm.fold_changes_into_extrema(
            cat, retract_max, "Up", "X", ["grp"], "v"
        )
    # a retraction that does NOT tie an extremum still folds fine
    retract_mid = spark.createDataFrame(
        [("I", 3, "a", 7.0)], "op string, pk long, grp string, v double"
    )
    ivm.fold_changes_into_extrema(cat, retract_mid, "Up", "X", ["grp"], "v")
    row = cat.read("X").collect()[0]
    assert (row["n"], row["min_v"], row["max_v"]) == (3, 5.0, 10.0)


def test_join_fold_unpersists_feeds_on_every_exit(spark, tmp_path):
    """The fold persists both feeds eagerly; the early no-op return
    (feed_b given, nothing standing to fold) and a failing merge must
    both release them - RDD-id SET tracking, isolated from the async
    ContextCleaner (ADVICE r13)."""
    sc = spark.sparkContext
    cat = _cat(spark, tmp_path)

    def _persisted_ids() -> set[int]:
        return {
            int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
        }

    # exit 1: early return - feed_b only, no index/join tables exist
    before = _persisted_ids()
    feed_b = spark.createDataFrame(
        [("I", 5, 1)], "op string, fk long, w long"
    )
    ivm.fold_changes_into_join(
        cat, None, feed_b, "J", "AIdx", "B", ["pk"], ["fk"], num_buckets=4
    )
    leaked = _persisted_ids() - before
    assert not leaked, leaked

    # exit 2: a failing fold (post-image-only 'U' raises in the merge)
    cat.merge_upsert(
        spark.createDataFrame([(1, 2)], "fk long, w long"),
        "B", ["fk"], num_buckets=4,
    )
    before = _persisted_ids()
    bad = spark.createDataFrame(
        [("U", 1, 1, 9)], "op string, pk long, fk long, cents long"
    )
    with pytest.raises(Exception, match="preimage feed"):
        ivm.fold_changes_into_join(
            cat, bad, None, "J", "AIdx", "B", ["pk"], ["fk"], num_buckets=4
        )
    leaked = _persisted_ids() - before
    assert not leaked, leaked


# ---------------------------------------------------------------------
# COUNT DISTINCT IVM: fold_changes_into_hll (round 14)
# ---------------------------------------------------------------------


def _hll_state(cat):
    return {
        r["g"]: (r["n"], r["n_vals"], dict(r["regs"]))
        for r in cat.read("H").collect()
    }


def _hll_want(df):
    from ghcrawler_datalake_etl_spark.operators.sketches import (
        hll_registers,
    )

    regs = {}
    for r in hll_registers(df, "v", ["g"]).collect():
        regs.setdefault(r["g"], {})[r["bucket"]] = r["m_rho"]
    return {
        r["g"]: (r["n"], r["nv"], regs.get(r["g"], {}))
        for r in df.groupBy("g").agg(
            F.count("*").alias("n"), F.count("v").alias("nv")
        ).collect()
    }


def test_hll_ivm_scenario_last_copy_tied_copy_moves_and_emptying(
    spark, tmp_path
):
    """The COUNT DISTINCT fold's edge set in one evolution: deleting
    the LAST copy of a value must drop its register contribution
    (re-derivation), deleting ONE of two copies of the same value must
    leave the register standing (the re-derived post-state still
    attains it), a group-moving update retracts from the old group and
    raises the new one, NULL values never touch registers, and an
    emptied group's row is deleted."""
    cat = _cat(spark, tmp_path)
    up0 = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "a", "x"), (4, "b", "z"),
         (5, "b", None)],
        "pk long, g string, v string",
    )
    cat.merge_upsert(up0, "U", ["pk"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_hll(
        cat, up0.selectExpr("'I' AS op", "*"), "U", "H", ["g"], "v"
    )
    assert _hll_state(cat) == _hll_want(cat.read("U"))

    # day 1: last-copy delete ('y'), tied-copy delete (one 'x'),
    # group move (pk 4: b -> a), insert, NULL insert
    cat.merge_upsert(
        spark.createDataFrame(
            [(6, "b", "w"), (4, "a", "z"), (7, "b", None)],
            "pk long, g string, v string",
        ),
        "U", ["pk"], num_buckets=4, bucket_cols=["g"],
        delete_keys=spark.createDataFrame(
            [(2, "a"), (1, "a"), (4, "b")], "pk long, g string"
        ),
    )
    ivm.fold_changes_into_hll(
        cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
        "U", "H", ["g"], "v",
    )
    assert _hll_state(cat) == _hll_want(cat.read("U"))

    # day 2: empty group 'a' entirely - its H row must vanish
    cat.merge_upsert(
        cat.read("U").limit(0), "U", ["pk"], num_buckets=4,
        bucket_cols=["g"],
        delete_keys=spark.createDataFrame(
            [(3, "a"), (4, "a")], "pk long, g string"
        ),
    )
    ivm.fold_changes_into_hll(
        cat, ivm.table_changes(cat, "U", 1, 2, with_preimages=True),
        "U", "H", ["g"], "v",
    )
    got = _hll_state(cat)
    assert got == _hll_want(cat.read("U"))
    assert "a" not in got


def test_hll_ivm_requires_group_bucketed_upstream(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    up = spark.createDataFrame(
        [(1, "a", "x")], "pk long, g string, v string"
    )
    cat.merge_upsert(up, "U", ["pk"], num_buckets=4)  # key-bucketed
    with pytest.raises(ValueError, match="bucket_cols"):
        ivm.fold_changes_into_hll(
            cat, up.selectExpr("'I' AS op", "*"), "U", "H", ["g"], "v"
        )


def test_hll_ivm_raises_when_rederive_has_no_upstream(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    up = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y")], "pk long, g string, v string"
    )
    cat.merge_upsert(up, "U", ["pk"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_hll(
        cat, up.selectExpr("'I' AS op", "*"), "U", "H", ["g"], "v"
    )
    os.remove(str(tmp_path / "wh" / "U" / "_CURRENT"))
    with pytest.raises(ValueError, match="no current version"):
        ivm.fold_changes_into_hll(
            cat, spark.createDataFrame(
                [("D", 1, "a", "x")], "op string, pk long, g string, v string"
            ),
            "U", "H", ["g"], "v",
        )


def test_hll_ivm_rejects_post_image_only_feed(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    up = spark.createDataFrame(
        [(1, "a", "x")], "pk long, g string, v string"
    )
    cat.merge_upsert(up, "U", ["pk"], num_buckets=4, bucket_cols=["g"])
    with pytest.raises(Exception, match="preimage feed"):
        ivm.fold_changes_into_hll(
            cat, spark.createDataFrame(
                [("U", 1, "a", "q")],
                "op string, pk long, g string, v string",
            ),
            "U", "H", ["g"], "v",
        )


@pytest.mark.slow
def test_stream_join_ivm_two_upstream_alternating_arms(spark, tmp_path):
    """Round-14 (VERDICT r13 #3): BOTH upstreams of the materialized
    join evolve through streams - the fact arm (stream_join_ivm) and
    the new dimension arm (stream_join_ivm_dim) alternate under the
    serialized-alternation contract. The dimension arm bootstraps B
    while A's index already stands (J materializes through dB), a
    crash replay of a dimension trigger (lost checkpoint commit)
    re-folds idempotently, B updates rewrite matched J rows, B deletes
    cascade through the index on an A-quiet run, and the final join
    equals the from-scratch join of both final states."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_join_ivm,
        stream_join_ivm_dim,
    )

    cat = _cat(spark, tmp_path)
    A_SCHEMA = "op string, k long, fk long, av string"
    B_SCHEMA = "op string, fk long, bv string"
    a_dir, b_dir = str(tmp_path / "a_in"), str(tmp_path / "b_in")
    os.makedirs(a_dir)
    os.makedirs(b_dir)

    def run_a():
        stream_join_ivm(
            spark.readStream.schema(A_SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(a_dir),
            cat, "A", "J", "AIdx", "B", ["k"], ["fk"],
            str(tmp_path / "a_feed"), str(tmp_path / "a_ck"),
            num_buckets=4,
        ).awaitTermination()

    def run_b():
        stream_join_ivm_dim(
            spark.readStream.schema(B_SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(b_dir),
            cat, "B", "J", "AIdx", ["k"], ["fk"],
            str(tmp_path / "b_feed"), str(tmp_path / "b_ck"),
            num_buckets=4,
        ).awaitTermination()

    def j_snap():
        return {
            r["k"]: (r["fk"], r["bv"]) for r in cat.read("J").collect()
        }

    # A first: B absent - index builds, J stays empty (nothing to join)
    spark.createDataFrame(
        [("I", 1, 10, "a1"), ("I", 2, 10, "a2"), ("I", 3, 20, "a3"),
         ("I", 4, 99, "a4")], A_SCHEMA
    ).coalesce(1).write.parquet(os.path.join(a_dir, "day0"))
    run_a()
    assert not cat.exists("J") or j_snap() == {}

    # B bootstrap through ITS stream: J materializes via the dB term
    spark.createDataFrame(
        [("I", 10, "b10"), ("I", 20, "b20"), ("I", 30, "b30")], B_SCHEMA
    ).coalesce(1).write.parquet(os.path.join(b_dir, "day0"))
    run_b()
    j0 = j_snap()
    assert j0 == {1: (10, "b10"), 2: (10, "b10"), 3: (20, "b20")}

    # crash replay of the dimension trigger: same state, no doubles
    os.remove(str(tmp_path / "b_ck" / "commits" / "0"))
    crc = str(tmp_path / "b_ck" / "commits" / ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_b()
    assert j_snap() == j0

    # A day 1: FK move, delete, unmatched k=4 moves into 10
    spark.createDataFrame(
        [("U", 1, 20, "a1"), ("D", 2, 10, "a2"), ("U", 4, 10, "a4")],
        A_SCHEMA,
    ).coalesce(1).write.parquet(os.path.join(a_dir, "day1"))
    run_a()
    assert j_snap() == {1: (20, "b20"), 3: (20, "b20"), 4: (10, "b10")}

    # B day 1 (A quiet): update 20's value, delete 10 (kills k=4),
    # insert 99 (k... none left at 99 - no-op via the index)
    spark.createDataFrame(
        [("U", 20, "B20v2"), ("D", 10, "b10"), ("I", 99, "b99")],
        B_SCHEMA,
    ).coalesce(1).write.parquet(os.path.join(b_dir, "day1"))
    run_b()
    j = j_snap()
    assert j == {1: (20, "B20v2"), 3: (20, "B20v2")}
    full = {
        r["k"]: (r["fk"], r["bv"])
        for r in cat.read("A").join(cat.read("B"), "fk").collect()
    }
    assert full == j


# ---------------------------------------------------------------------
# Cross-trigger CDC ordering (round 14): late ops under seq_col
# ---------------------------------------------------------------------


def test_apply_changes_cross_trigger_stale_ops_dropped(spark, tmp_path):
    """Round-14 (VERDICT r13 #5): when the table carries the sequence
    column, a later-trigger op whose sequence does not exceed the
    standing row's is STALE and must be dropped - out-of-order
    delivery across triggers folds to the in-order state. Mixed-order
    rigor: stale update, fresh delete, stale update below base, fresh
    insert, equal-seq re-delivery, and the documented tombstone
    limitation (a delete keeps no sequence, so a later lower-seq op
    re-applies as first contact)."""
    cat = _cat(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, 10, 5), (2, 20, 5), (3, 30, 5)], "k long, v long, seq long"
    )
    cat.merge_upsert(base, "T", ["k"], num_buckets=4)

    # trigger N+1 arrives first: k=1 moves to seq 7
    ivm.apply_changes(
        cat, spark.createDataFrame([(1, 17, 7, "U")],
                              "k long, v long, seq long, op string"),
        "T", ["k"], seq_col="seq", num_buckets=4,
    )
    # trigger N arrives LATE: k=1 seq 6 (stale), k=2 delete seq 6
    # (fresh), k=3 seq 4 (stale - below its base row), k=4 new
    ivm.apply_changes(
        cat, spark.createDataFrame(
            [(1, 16, 6, "U"), (2, None, 6, "D"), (3, 29, 4, "U"),
             (4, 40, 1, "I")],
            "k long, v long, seq long, op string",
        ),
        "T", ["k"], seq_col="seq", num_buckets=4,
    )
    got = {r["k"]: (r["v"], r["seq"]) for r in cat.read("T").collect()}
    assert got[1] == (17, 7), "stale update must not overwrite"
    assert 2 not in got, "fresh delete applies"
    assert got[3] == (30, 5), "update below base sequence is stale"
    assert got[4] == (40, 1), "new key applies"

    # equal-sequence re-delivery across triggers is stale too
    ivm.apply_changes(
        cat, spark.createDataFrame([(1, 99, 7, "U")],
                              "k long, v long, seq long, op string"),
        "T", ["k"], seq_col="seq", num_buckets=4,
    )
    assert {
        r["k"]: r["v"] for r in cat.read("T").collect()
    }[1] == 17

    # pinned LIMITATION: no tombstones - delete at seq 8, then a late
    # seq-6 op re-applies as first contact (docstring contract)
    ivm.apply_changes(
        cat, spark.createDataFrame([(4, None, 8, "D")],
                              "k long, v long, seq long, op string"),
        "T", ["k"], seq_col="seq", num_buckets=4,
    )
    ivm.apply_changes(
        cat, spark.createDataFrame([(4, 41, 6, "U")],
                              "k long, v long, seq long, op string"),
        "T", ["k"], seq_col="seq", num_buckets=4,
    )
    assert {
        r["k"]: (r["v"], r["seq"]) for r in cat.read("T").collect()
    }[4] == (41, 6)


def test_stream_cdc_feed_cross_trigger_stale_op(spark, tmp_path):
    """The streaming CDC arm under a cross-trigger late op: the stale
    op produces NO table change and therefore no feed row, while the
    fresh op in the same late trigger lands and emits - the r13
    streaming IVM arms' in-order assumption, closed under seq_col."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_apply_changes_feed,
    )

    cat = _cat(spark, tmp_path)
    SCHEMA = "op string, k long, v long, seq long"
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    feed_root = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")

    def run():
        stream_apply_changes_feed(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            cat, "T", ["k"], feed_root, ck, seq_col="seq",
            num_buckets=4,
        ).awaitTermination()

    spark.createDataFrame(
        [("I", 1, 10, 5), ("I", 2, 20, 5)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day0"))
    run()
    spark.createDataFrame(
        [("U", 1, 11, 7)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day1"))
    run()
    # late trigger: k=1 at seq 6 is STALE (standing seq 7); k=2 at
    # seq 6 is fresh
    spark.createDataFrame(
        [("U", 1, 16, 6), ("U", 2, 26, 6)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day2"))
    run()
    got = {r["k"]: (r["v"], r["seq"]) for r in cat.read("T").collect()}
    assert got == {1: (11, 7), 2: (26, 6)}
    feed2 = spark.read.parquet(os.path.join(feed_root, "micro_batch=2"))
    ks = {r["k"] for r in feed2.collect()}
    assert ks == {2}, ks  # the stale op emitted nothing downstream


# ---------------------------------------------------------------------
# Vacuum / retention over hardlink-shared versions (round 14)
# ---------------------------------------------------------------------


def test_vacuum_never_corrupts_hardlink_shared_current_snapshot(
    spark, tmp_path
):
    """merge_upsert re-links untouched buckets file-by-file, so
    retained versions SHARE inodes; vacuum of old versions must only
    drop link counts, never bytes the current snapshot still reaches
    - and the orphan cleanup of a failed fold must compose with
    retention (no version list corruption, merges keep working)."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"), retain=4)
    base = spark.createDataFrame(
        [(i, i % 8, i * 10) for i in range(64)], "k long, g long, v long"
    )
    cat.merge_upsert(base, "T", ["k"], num_buckets=8)
    # three sparse merges: each touches ONE key -> 7 buckets re-linked
    for day in range(3):
        cat.merge_upsert(
            spark.createDataFrame(
                [(day, day % 8, 999 + day)], "k long, g long, v long"
            ),
            "T", ["k"], num_buckets=8,
        )
    tdir = str(tmp_path / "wh" / "T")
    vdirs = sorted(d for d in os.listdir(tdir) if d.startswith("v"))
    assert len(vdirs) == 4  # retain=4 kept all
    # PROVE inode sharing across retained versions
    def inodes(vd):
        out = {}
        for root, _, files in os.walk(os.path.join(tdir, vd)):
            for f in files:
                if not f.startswith((".", "_")):
                    out[os.stat(os.path.join(root, f)).st_ino] = f
        return out
    shared = set(inodes(vdirs[-1])) & set(inodes(vdirs[0]))
    assert shared, "expected hardlink-shared files across versions"

    want = {(r["k"], r["g"], r["v"]) for r in cat.read("T").collect()}

    # a failed fold leaves no orphan version dir between merges
    with pytest.raises(Exception, match="preimage feed"):
        ivm.fold_changes_into_stats(
            cat, spark.createDataFrame(
                [("U", 1, 0, 5)], "op string, k long, g long, v long"
            ),
            "TS", ["g"], "v",
        )

    dropped = cat.vacuum("T", keep_last=1)
    assert dropped and sorted(
        d for d in os.listdir(tdir) if d.startswith("v")
    ) == [vdirs[-1]]
    # the current snapshot is byte-reachable and value-identical
    got = {(r["k"], r["g"], r["v"]) for r in cat.read("T").collect()}
    assert got == want

    # merges keep working after the sweep (re-link from current)
    cat.merge_upsert(
        spark.createDataFrame([(63, 7, 1)], "k long, g long, v long"),
        "T", ["k"], num_buckets=8,
    )
    got2 = {(r["k"], r["g"], r["v"]) for r in cat.read("T").collect()}
    assert got2 == (want - {(63, 7, 630)}) | {(63, 7, 1)}


def test_stream_distinct_ivm_replay_never_double_counts(spark, tmp_path):
    """The streaming arm of the COUNT DISTINCT fold: counts are
    arithmetic, so exactly-once rides the per-downstream-table version
    ledger - a replayed trigger (lost checkpoint commit) must skip
    already-applied folds. Group moves and last-copy deletes retract
    registers through the feed-maintained group-bucketed replica; the
    final sketch equals the recompute from the maintained upstream."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_distinct_ivm,
    )

    cat = _cat(spark, tmp_path)
    SCHEMA = "op string, k long, g string, v string"
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)

    def run():
        stream_distinct_ivm(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            cat, "A", "AIdx", "H", ["k"], ["g"], "v",
            str(tmp_path / "feed"), str(tmp_path / "ck"),
            num_buckets=4,
        ).awaitTermination()

    spark.createDataFrame(
        [("I", 1, "a", "x"), ("I", 2, "a", "y"), ("I", 3, "a", "x"),
         ("I", 4, "b", "z"), ("I", 5, "b", None)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day0"))
    run()

    def snap():
        return {
            r["g"]: (r["n"], r["n_vals"], tuple(sorted(r["regs"].items())))
            for r in cat.read("H").collect()
        }

    def want():
        from ghcrawler_datalake_etl_spark.operators.sketches import (
            hll_registers,
        )

        up = cat.read("A")
        regs = {}
        for r in hll_registers(up, "v", ["g"]).collect():
            regs.setdefault(r["g"], {})[r["bucket"]] = r["m_rho"]
        return {
            r["g"]: (
                r["n"], r["nv"],
                tuple(sorted(regs.get(r["g"], {}).items())),
            )
            for r in up.groupBy("g").agg(
                F.count("*").alias("n"), F.count("v").alias("nv")
            ).collect()
        }

    s0 = snap()
    assert s0 == want()
    assert s0["a"][:2] == (3, 3) and s0["b"][:2] == (2, 1)

    # crash replay: arithmetic counts must not double
    os.remove(str(tmp_path / "ck" / "commits" / "0"))
    crc = str(tmp_path / "ck" / "commits" / ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert snap() == s0

    # day 1: delete the last copy of 'y' (register retracts via the
    # replica), move k=4 b->a, insert a new value
    spark.createDataFrame(
        [("D", 2, "a", "y"), ("U", 4, "a", "z"), ("I", 6, "b", "w")],
        SCHEMA,
    ).coalesce(1).write.parquet(os.path.join(sdir, "day1"))
    run()
    s1 = snap()
    assert s1 == want()
    assert s1["a"][:2] == (3, 3) and s1["b"][:2] == (2, 1)


# ---------------------------------------------------------------------
# top-k IVM (fold_changes_into_topk) - round 14
# ---------------------------------------------------------------------


def test_topk_ivm_scenario_horizon_ties_short_arrays_and_emptying(
    spark, tmp_path
):
    """The edge set the operator exists for: a retraction TYING a full
    array's truncation horizon (re-derived through the pruned upstream
    read - the hidden runner-up below the horizon must surface), a
    retraction from a SHORT array (complete multiset - removed in
    place, never re-derived), a retraction strictly below a full
    array's min (array untouched), duplicate values inside the array,
    an all-NULL group (empty array, n_vals=0), an emptied group (row
    deleted), and a group move via preimage changefeed."""
    cat = _cat(spark, tmp_path)
    rows0 = [(1, "a", 10.0), (2, "a", 9.0), (3, "a", 8.0), (4, "a", 8.0),
             (5, "a", 3.0), (6, "b", 5.0), (7, "b", 2.0),
             (8, "n", None)]
    up0 = spark.createDataFrame(rows0, "k long, g string, v double")
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_topk(
        cat, up0.select(F.lit("I").alias("op"), "*"), "U", "T", ["g"], "v",
        k=3, num_buckets=4,
    )
    t = {r["g"]: (r["n"], r["n_vals"], r["topk"]) for r in cat.read("T").collect()}
    assert t == {"a": (5, 5, [10.0, 9.0, 8.0]),
                 "b": (2, 2, [5.0, 2.0]),
                 "n": (1, 0, [])}

    # day 1: retract ONE tied 8 from a (== horizon -> rederive; the
    # OTHER 8 must surface), retract b's 5 (short array, in place),
    # retract a's 3.0 (strictly below horizon - count-only), move k=7
    # b->a at 2.0 (b empties), and the NULL group gains a value
    cat.merge_upsert(
        spark.createDataFrame(
            [(7, "a", 2.0), (9, "n", 4.0)], "k long, g string, v double"
        ),
        "U", ["k"], num_buckets=4, bucket_cols=["g"],
        delete_keys=spark.createDataFrame(
            [(3, "a"), (5, "a"), (6, "b"), (7, "b")], "k long, g string"
        ),
    )
    ivm.fold_changes_into_topk(
        cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
        "U", "T", ["g"], "v", k=3, num_buckets=4,
    )
    t = {r["g"]: (r["n"], r["n_vals"], r["topk"]) for r in cat.read("T").collect()}
    assert t == {"a": (4, 4, [10.0, 9.0, 8.0]),
                 "n": (2, 1, [4.0])}

    # final state must equal the from-scratch top-k of the upstream
    want = {
        r["g"]: (r["n"], r["n_vals"], r["topk"])
        for r in cat.read("U").groupBy("g").agg(
            F.count("*").alias("n"), F.count("v").alias("n_vals"),
            F.slice(F.sort_array(F.collect_list("v"), asc=False), 1, 3)
            .alias("topk"),
        ).collect()
    }
    assert t == want


def test_topk_ivm_requires_group_bucketed_upstream(spark, tmp_path):
    """The re-derivation reads the upstream through read_pruned by
    GROUP - a key-bucketed upstream must be rejected up front."""
    cat = _cat(spark, tmp_path)
    up0 = spark.createDataFrame([(1, "a", 5.0)], "k long, g string, v double")
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4)  # key-bucketed
    with pytest.raises(ValueError, match="bucket_cols"):
        ivm.fold_changes_into_topk(
            cat, up0.select(F.lit("I").alias("op"), "*"), "U", "T", ["g"], "v", k=2
        )


def test_topk_ivm_raises_when_rederive_has_no_upstream(spark, tmp_path):
    """A retraction at a full array's horizon with no upstream current
    version (crashed bootstrap between meta write and pointer flip)
    must raise loudly, never silently keep a stale array."""
    cat = _cat(spark, tmp_path)
    up0 = spark.createDataFrame(
        [(1, "a", 9.0), (2, "a", 8.0), (3, "a", 7.0)],
        "k long, g string, v double",
    )
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_topk(
        cat, up0.select(F.lit("I").alias("op"), "*"), "U", "T", ["g"], "v",
        k=2, num_buckets=4,
    )
    # simulate the crash: meta survives, the version pointer is gone
    os.remove(str(tmp_path / "wh" / "U" / "_CURRENT"))
    feed = spark.createDataFrame(
        [("D", 1, "a", 9.0)], "op string, k long, g string, v double"
    )
    with pytest.raises(ValueError, match="no current version"):
        ivm.fold_changes_into_topk(
            cat, feed, "U", "T", ["g"], "v", k=2, num_buckets=4
        )


def test_topk_ivm_rejects_post_image_only_feed_and_shrunk_k(
    spark, tmp_path
):
    """A plain post-image-only 'U' cannot fold (the moved value's old
    copy would linger) - raise loudly; and a standing array LONGER
    than k means k shrank mid-lifetime, breaking the short-array
    completeness invariant - raise loudly too."""
    cat = _cat(spark, tmp_path)
    up0 = spark.createDataFrame(
        [(1, "a", 9.0), (2, "a", 8.0)], "k long, g string, v double"
    )
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    with pytest.raises(Exception, match="preimage feed"):
        ivm.fold_changes_into_topk(
            cat, spark.createDataFrame(
                [("U", 1, "a", 9.5)], "op string, k long, g string, v double"
            ),
            "U", "T", ["g"], "v", k=2, num_buckets=4,
        )
    ivm.fold_changes_into_topk(
        cat, up0.select(F.lit("I").alias("op"), "*"), "U", "T", ["g"], "v",
        k=2, num_buckets=4,
    )
    with pytest.raises(ValueError, match="k must stay constant"):
        ivm.fold_changes_into_topk(
            cat, spark.createDataFrame(
                [("I", 3, "a", 1.0)], "op string, k long, g string, v double"
            ),
            "U", "T", ["g"], "v", k=1, num_buckets=4,
        )


def test_stream_topk_ivm_replay_never_remerges(spark, tmp_path):
    """The streaming arm of the top-k fold: merge-and-truncate is NOT
    idempotent (a replayed insert re-enters an array that already
    holds it) and the counts are arithmetic, so exactly-once rides the
    per-downstream-table version ledger - a replayed trigger (lost
    checkpoint commit) must skip already-applied folds. A horizon
    retraction re-derives through the feed-maintained group-bucketed
    replica; the final table equals the recompute from the maintained
    upstream."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_topk_ivm,
    )

    cat = _cat(spark, tmp_path)
    SCHEMA = "op string, k long, g string, v double"
    K = 2
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)

    def run():
        stream_topk_ivm(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            cat, "A", "AIdx", "T", ["k"], ["g"], "v", K,
            str(tmp_path / "feed"), str(tmp_path / "ck"),
            num_buckets=4,
        ).awaitTermination()

    spark.createDataFrame(
        [("I", 1, "a", 9.0), ("I", 2, "a", 8.0), ("I", 3, "a", 7.0),
         ("I", 4, "b", 5.0), ("I", 5, "b", None)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day0"))
    run()

    def snap():
        return {
            r["g"]: (r["n"], r["n_vals"], tuple(r["topk"]))
            for r in cat.read("T").collect()
        }

    def want():
        return {
            r["g"]: (r["n"], r["n_vals"], tuple(r["topk"]))
            for r in cat.read("A").groupBy("g").agg(
                F.count("*").alias("n"), F.count("v").alias("n_vals"),
                F.slice(
                    F.sort_array(F.collect_list("v"), asc=False), 1, K
                ).alias("topk"),
            ).collect()
        }

    s0 = snap()
    assert s0 == want()
    assert s0 == {"a": (3, 3, (9.0, 8.0)), "b": (2, 1, (5.0,))}

    # crash replay: a re-merged array would read (9.0, 9.0)
    os.remove(str(tmp_path / "ck" / "commits" / "0"))
    crc = str(tmp_path / "ck" / "commits" / ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert snap() == s0

    # day 1: retract a's horizon value 8.0 (the hidden 7.0 must
    # surface through the replica re-derivation), move k=4 b->a at a
    # new value, insert into b
    spark.createDataFrame(
        [("D", 2, "a", 8.0), ("U", 4, "a", 10.0), ("I", 6, "b", 1.0)],
        SCHEMA,
    ).coalesce(1).write.parquet(os.path.join(sdir, "day1"))
    run()
    s1 = snap()
    assert s1 == want()
    assert s1 == {"a": (3, 3, (10.0, 9.0)), "b": (2, 1, (1.0,))}


def test_topk_ivm_struct_values_argmax_leaderboard(spark, tmp_path):
    """The fold is type-generic: a STRUCT value column turns the
    top-k value array into an arg-top-k leaderboard - rows of
    (score, pk, payload) ordered by score with pk as a deterministic
    tie-break, the production 'top-k docs by quality per language'
    shape. Struct ordering is Spark's lexicographic field order, so
    the merge-and-truncate, in-place subtraction (preimages carry the
    exact struct), and horizon comparison all hold unchanged."""
    cat = _cat(spark, tmp_path)
    rows = [(1, "a", 9.0, "p1"), (2, "a", 7.0, "p2"), (3, "a", 7.0, "p3"),
            (4, "a", 1.0, "p4"), (5, "b", 5.0, "p5")]
    up0 = spark.createDataFrame(
        rows, "k long, g string, score double, payload string"
    ).select(
        "k", "g",
        F.struct("score", "k", "payload").alias("v"),
    )
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_topk(
        cat, up0.select(F.lit("I").alias("op"), "*"), "U", "T", ["g"], "v",
        k=2, num_buckets=4,
    )

    def arrays():
        return {
            r["g"]: [(e["score"], e["k"], e["payload"]) for e in r["topk"]]
            for r in cat.read("T").collect()
        }

    # tie at 7.0 broken by pk DESC: k=3 beats k=2
    assert arrays() == {"a": [(9.0, 1, "p1"), (7.0, 3, "p3")],
                        "b": [(5.0, 5, "p5")]}

    # retract the horizon entry (7.0, 3) - the OTHER 7.0 must surface
    # through the pruned re-derivation; retract b's only entry in place
    cat.merge_upsert(
        spark.createDataFrame([], "k long, g string, score double, payload string")
        .select("k", "g", F.struct("score", "k", "payload").alias("v")),
        "U", ["k"], num_buckets=4, bucket_cols=["g"],
        delete_keys=spark.createDataFrame(
            [(3, "a"), (5, "b")], "k long, g string"
        ),
    )
    ivm.fold_changes_into_topk(
        cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
        "U", "T", ["g"], "v", k=2, num_buckets=4,
    )
    assert arrays() == {"a": [(9.0, 1, "p1"), (7.0, 2, "p2")]}

    # final state == from-scratch arg-top-k of the upstream
    want = {
        r["g"]: [(e["score"], e["k"], e["payload"]) for e in r["topk"]]
        for r in cat.read("U").groupBy("g").agg(
            F.slice(F.sort_array(F.collect_list("v"), asc=False), 1, 2)
            .alias("topk")
        ).collect()
    }
    assert arrays() == want


def test_histogram_quantile_ivm_is_a_stats_fold_composition(spark, tmp_path):
    """Histogram (and therefore quantile) IVM needs ZERO new machinery:
    per-(group, bin) counts are fully retractable, so folding the
    preimage changefeed with group_cols=[g, bin] - the bin derived
    from the value by fixed-width bucketing, on the feed itself -
    maintains the standing histogram; quantiles read off the folded
    cumulative counts exactly as sketch_histogram_quantiles does from
    a batch histogram. Pins the composition: two days of evolution
    (inserts, value moves across bins, deletes, a bin emptying) ==
    the from-scratch histogram, and the median read off the standing
    table equals the exact percentile."""
    cat = _cat(spark, tmp_path)
    W = 10.0  # fixed bin width

    def binned(feed):
        return feed.withColumn(
            "bin", F.floor(F.col("v") / W).cast("long")
        )

    rows0 = [(1, "a", 5.0), (2, "a", 15.0), (3, "a", 25.0),
             (4, "a", 27.0), (5, "b", 95.0)]
    up0 = spark.createDataFrame(rows0, "k long, g string, v double")
    cat.merge_upsert(up0, "U", ["k"], num_buckets=4)
    ivm.fold_changes_into_stats(
        cat, binned(up0.select(F.lit("I").alias("op"), "*")).withColumn(
            "one", F.lit(1)
        ),
        "HIST", ["g", "bin"], "one", num_buckets=4,
    )

    def hist():
        return {(r["g"], r["bin"]): r["n"] for r in cat.read("HIST").collect()}

    assert hist() == {("a", 0): 1, ("a", 1): 1, ("a", 2): 2, ("b", 9): 1}

    # day 1: value moves across bins (25->35), delete 27 (bin 2 keeps
    # one), delete b's only row (bin row must vanish), insert 8.0
    cat.merge_upsert(
        spark.createDataFrame(
            [(3, "a", 35.0), (6, "a", 8.0)], "k long, g string, v double"
        ),
        "U", ["k"], num_buckets=4,
        delete_keys=spark.createDataFrame(
            [(4, "a"), (5, "b")], "k long, g string"
        ),
    )
    ivm.fold_changes_into_stats(
        cat, binned(
            ivm.table_changes(cat, "U", 0, 1, with_preimages=True)
        ).withColumn("one", F.lit(1)),
        "HIST", ["g", "bin"], "one", num_buckets=4,
    )
    assert hist() == {("a", 0): 2, ("a", 1): 1, ("a", 3): 1}

    # equals the from-scratch histogram of the final state
    want = {
        (r["g"], r["bin"]): r["n"]
        for r in binned(cat.read("U")).groupBy("g", "bin").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert hist() == want

    # median of group a read off the standing histogram: cumulative
    # counts give the median BIN exactly (values 5,8,15,35 -> the
    # 50th-percentile mass sits in bin 0 [lower-interpolation], the
    # exact percentile's bin)
    import math

    h = sorted(
        (b, n) for (g, b), n in hist().items() if g == "a"
    )
    total = sum(n for _, n in h)
    target = math.ceil(total * 0.5)
    cum = 0
    for b, n in h:
        cum += n
        if cum >= target:
            med_bin = b
            break
    exact = [5.0, 8.0, 15.0, 35.0]
    exact_median_lower = sorted(exact)[math.ceil(len(exact) * 0.5) - 1]
    assert med_bin == math.floor(exact_median_lower / W)


def test_chained_gold_nonretractable_folds_via_silver_replica(spark, tmp_path):
    """The r13 chained-gold pattern (gold subscribes to the SILVER
    join table's own changefeed) extends to the whole NON-RETRACTABLE
    fold family with zero new machinery: the silver feed maintains a
    group-bucketed silver REPLICA (the batch analog of the streaming
    arms' index_table), and extrema, HLL-distinct, and top-k gold
    views all fold from the same feed, re-deriving tied groups
    through the replica. Day 1 retracts one group's max by DELETE and
    the other's max by FK MOVE (both horizon re-derivations), moves a
    group minimum by value update, and inserts a new global max -
    every gold view must equal its from-scratch recompute."""
    from ghcrawler_datalake_etl_spark.operators.sketches import (
        hll_registers,
    )

    cat = _cat(spark, tmp_path)
    b = spark.createDataFrame(
        [(ck, ck % 2) for ck in (1, 2, 3, 4)], "ck long, nat long"
    )
    a0 = spark.createDataFrame(
        [(1, 1, 100), (2, 2, 200), (3, 3, 300), (4, 4, 400), (5, 1, 50)],
        "k long, ck long, cents long",
    )
    cat.merge_upsert(a0, "A", ["k"], num_buckets=4)
    cat.merge_upsert(b, "B", ["ck"], num_buckets=4)
    cat.merge_upsert(a0, "AIdx", ["k"], num_buckets=4, bucket_cols=["ck"])
    j0 = a0.join(b, "ck").select("k", "ck", "cents", "nat")
    cat.merge_upsert(j0, "J", ["k"], num_buckets=4)
    # the group-bucketed silver replica - the re-derivation target
    cat.merge_upsert(j0, "JRep", ["k"], num_buckets=4, bucket_cols=["nat"])
    feed0 = j0.select(F.lit("I").alias("op"), "*")
    ivm.fold_changes_into_extrema(cat, feed0, "JRep", "GX", ["nat"], "cents",
                                  num_buckets=4)
    ivm.fold_changes_into_hll(cat, feed0, "JRep", "GH", ["nat"], "cents",
                              num_buckets=4)
    ivm.fold_changes_into_topk(cat, feed0, "JRep", "GT", ["nat"], "cents",
                               k=2, num_buckets=4)

    # day 1 on the fact side: delete k4 (nat0's max), FK-move k3 3->2
    # (nat1 -> nat0: retracts nat1's max), value-update k5 50->60
    # (retracts nat1's min), insert k6 (new nat0 max)
    cat.merge_upsert(
        spark.createDataFrame(
            [(3, 2, 300), (5, 1, 60), (6, 4, 500)],
            "k long, ck long, cents long",
        ),
        "A", ["k"], num_buckets=4,
        delete_keys=spark.createDataFrame([(4,)], "k long"),
    )
    j_pre = cat.current_version("J")
    ivm.fold_changes_into_join(
        cat, ivm.table_changes(cat, "A", 0, 1, with_preimages=True),
        None, "J", "AIdx", "B", ["k"], ["ck"], num_buckets=4,
    )
    feed1 = ivm.table_changes(
        cat, "J", j_pre, cat.current_version("J"), with_preimages=True
    ).persist()
    posts = feed1.filter(F.col("op").isin("I", "U_post")).drop("op")
    pres = feed1.filter(F.col("op").isin("D", "U_pre"))
    # replica FIRST (the folds' re-derivations read its post-state)
    cat.merge_upsert(
        posts, "JRep", ["k"], num_buckets=4, bucket_cols=["nat"],
        delete_keys=pres.select("k", "nat"),
    )
    ivm.fold_changes_into_extrema(cat, feed1, "JRep", "GX", ["nat"], "cents",
                                  num_buckets=4)
    ivm.fold_changes_into_hll(cat, feed1, "JRep", "GH", ["nat"], "cents",
                              num_buckets=4)
    ivm.fold_changes_into_topk(cat, feed1, "JRep", "GT", ["nat"], "cents",
                               k=2, num_buckets=4)
    feed1.unpersist()

    final = cat.read("A").join(cat.read("B"), "ck")
    gx = {r["nat"]: (r["n"], r["min_v"], r["max_v"])
          for r in cat.read("GX").collect()}
    assert gx == {0: (3, 200, 500), 1: (2, 60, 100)}
    assert gx == {
        r["nat"]: (r["n"], r["min_v"], r["max_v"])
        for r in final.groupBy("nat").agg(
            F.count("*").alias("n"), F.min("cents").alias("min_v"),
            F.max("cents").alias("max_v")).collect()
    }
    gt = {r["nat"]: tuple(r["topk"]) for r in cat.read("GT").collect()}
    assert gt == {0: (500, 300), 1: (100, 60)}
    want_regs = {}
    for r in hll_registers(final, "cents", ["nat"]).collect():
        want_regs.setdefault(r["nat"], {})[r["bucket"]] = r["m_rho"]
    got_regs = {r["nat"]: dict(r["regs"]) for r in cat.read("GH").collect()}
    assert got_regs == want_regs
