"""Round-15 optimization internals: the table_changes union-aggregate
diff (was a full-outer join), fused bucket-id collects feeding
read_pruned/merge_upsert, and the superset-affected merge contract.

Each test pins the CONTRACT an optimization leaned on, so a future
change that silently breaks the lean (e.g. a superset affected set
resurrecting a delete-only bucket through the hardlink path) fails
here rather than only in a noisy bench."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.sources import ivm
from ghcrawler_datalake_etl_spark.sources.sinks import (
    BucketIds,
    ParquetCatalog,
)


@pytest.fixture
def cat(spark, tmp_path):
    return ParquetCatalog(spark, str(tmp_path / "wh"), retain=3)


def _merge_days(cat, spark):
    day0 = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(40)],
        "k long, v string, n long",
    )
    cat.merge_upsert(day0, "T", ["k"], num_buckets=8)
    ivm.apply_changes(
        cat, spark.createDataFrame(
            [
                (3, "v3x", 30, "U"),
                (7, None, None, "D"),
                (100, "new", 1000, "I"),
            ],
            "k long, v string, n long, op string",
        ),
        "T", ["k"], num_buckets=8,
    )


def test_table_changes_diff_has_no_join(spark, cat):
    """The version diff pairs unique-per-side keys, so it is ONE
    tagged union aggregated by key - a full-outer join can never
    broadcast (sort-merge only: two Exchanges plus two sorts), the
    union-agg form is one Exchange and no Join node at all."""
    _merge_days(cat, spark)
    for pre in (False, True):
        feed = ivm.table_changes(cat, "T", 0, 1, with_preimages=pre)
        p = feed._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in p, p
        assert "SortMergeJoin" not in p, p
        assert p.count("Exchange") <= 1, p


def test_table_changes_union_agg_same_feed(spark, cat):
    """The union-agg diff emits exactly the join-form feed: I carries
    the new row, D the deleted values, U the post-image (or the
    U_pre/U_post pair), unchanged keys never appear."""
    _merge_days(cat, spark)
    got = {(r.op, r.k): (r.v, r.n) for r in ivm.table_changes(cat, "T", 0, 1).collect()}
    assert got == {
        ("U", 3): ("v3x", 30),
        ("D", 7): ("v7", 70),
        ("I", 100): ("new", 1000),
    }
    pre = {
        (r.op, r.k): (r.v, r.n)
        for r in ivm.table_changes(cat, "T", 0, 1, with_preimages=True).collect()
    }
    assert pre == {
        ("U_pre", 3): ("v3", 30),
        ("U_post", 3): ("v3x", 30),
        ("D", 7): ("v7", 70),
        ("I", 100): ("new", 1000),
    }


def test_table_changes_null_values_not_reported(spark, cat):
    """The null-safe value comparison must not report an unchanged
    NULL-valued row, must detect NULL -> value and value -> NULL
    transitions, and a row that gains a NULL in one column while
    keeping another is a single U. (NULL KEYS are outside the merge
    sink's key contract - keys must be non-null, coalesced upstream.)"""
    d0 = spark.createDataFrame(
        [(1, None, None), (2, None, 2), (3, "c", 3), (4, "d", 4)],
        "k long, v string, n long",
    )
    cat.merge_upsert(d0, "T", ["k"], num_buckets=4)
    d1 = spark.createDataFrame(
        [(1, None, None), (2, "b", 2), (3, None, 3), (4, "d", 4)],
        "k long, v string, n long",
    )
    cat.merge_upsert(d1, "T", ["k"], num_buckets=4)
    rows = ivm.table_changes(cat, "T", 0, 1).collect()
    got = sorted((r.op, r.k, r.v, r.n) for r in rows)
    assert got == [("U", 2, "b", 2), ("U", 3, None, 3)]


def test_merge_affected_superset_equivalence(spark, tmp_path):
    """affected_buckets is allowed to be a SUPERSET of the truly
    touched buckets: extra buckets rewrite unchanged content instead
    of hard-linking, and a DELETE-ONLY bucket (all rows removed, no
    delta rows) still drops out - it must never be resurrected via
    the link path. Final content identical to the unassisted merge."""
    base = spark.range(200).selectExpr("id AS k", "id * 2 AS v")
    delta = spark.createDataFrame([(7, 1000), (300, 1)], "k long, v long")
    # delete EVERY key of one bucket so the bucket empties
    all_b = spark.range(200).selectExpr(
        "id AS k",
        "cast(pmod(xxhash64(id), 16) AS int) AS b",
    )
    victim = all_b.filter("b = 5").select("k")
    touched = {
        r.b
        for r in delta.select("k")
        .unionByName(victim)
        .selectExpr("cast(pmod(xxhash64(k), 16) AS int) AS b")
        .collect()
    }
    # a superset of at most half the buckets keeps the sparse
    # per-bucket path (DENSE_REWRITE_FRACTION = 0.5)
    spare = sorted(set(range(16)) - touched)
    superset = sorted(touched | set(spare[: 8 - len(touched)]))
    assert 5 in superset and len(touched) < len(superset) <= 8
    outs = []
    for affected in (None, superset):
        c = ParquetCatalog(
            spark, str(tmp_path / f"wh_{affected is None}"), retain=2
        )
        c.merge_upsert(base, "T", ["k"], num_buckets=16)
        stats = c.merge_upsert(
            delta, "T", ["k"], num_buckets=16, delete_keys=victim,
            affected_buckets=(
                None if affected is None
                else BucketIds(c.layout("T"), affected)
            ),
        )
        if affected is not None:
            assert stats["rewritten"] == len(superset)
        outs.append(sorted((r.k, r.v) for r in c.read("T").collect()))
    assert outs[0] == outs[1]
    # the delete-only bucket's keys are gone
    dead = {r.k for r in victim.collect()}
    assert not (dead & {k for k, _ in outs[1]})


def test_read_pruned_superset_ids_exact_rows(spark, cat):
    """read_pruned(bucket_ids=<superset>) returns exactly the probe's
    matching rows - the semi join keeps row-level exactness while the
    id set only widens the scanned directories."""
    base = spark.range(100).selectExpr("id AS k", "id % 7 AS g", "id AS v")
    cat.merge_upsert(base, "U", ["k"], num_buckets=8, bucket_cols=["g"])
    probe = spark.createDataFrame([(3,)], "g long")
    exact = cat.read_pruned("U", probe)
    wide = cat.read_pruned(
        "U", probe, bucket_ids=BucketIds(cat.layout("U"), list(range(8)))
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, wide.collect())
    )


def test_bucket_ids_multi_matches_per_spec_collects(spark, cat):
    """The fused one-job id collect returns the same sets as the
    per-consumer collects it replaces."""
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (18, 10)], "k long, g long"
    )
    cat.merge_upsert(df, "K", ["k"], num_buckets=16)
    cat.merge_upsert(df, "G", ["k"], num_buckets=8, bucket_cols=["g"])
    fused = cat.bucket_ids(df, ["K", "G"])
    for (table, cols, n), tagged in zip(
        (("K", ["k"], 16), ("G", ["g"], 8)), fused
    ):
        assert tagged.layout == cat.layout(table)
        got = tagged.ids
        want = sorted(
            r[0]
            for r in df.select(
                F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )
        assert got == want


def test_fold_join_unmatched_fk_superset_affected(spark, cat):
    """fold_changes_into_join passes the A-feed's key buckets as the J
    merge's affected SUPERSET; post-images whose FK matches nothing in
    B are the superset's slack - the fold must still land exactly the
    from-scratch join."""
    a0 = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, 30, 300)],
        "k long, ck long, cents long",
    )
    b0 = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "ck long, nat long"
    )
    cat.merge_upsert(a0, "A", ["k"], num_buckets=4)
    cat.merge_upsert(b0, "B", ["ck"], num_buckets=4)
    cat.merge_upsert(a0, "AIdx", ["k"], num_buckets=4, bucket_cols=["ck"])
    cat.merge_upsert(a0.join(b0, "ck"), "J", ["k"], num_buckets=4)
    # day 1: k=4 inserts with an FK that matches NOTHING in B; k=1
    # moves to a dead FK (drops out of J); k=2 deletes
    feed_a = spark.createDataFrame(
        [
            ("I", 4, 99, 400),
            ("U_pre", 1, 10, 100),
            ("U_post", 1, 77, 105),
            ("D", 2, 20, 200),
        ],
        "op string, k long, ck long, cents long",
    )
    ivm.fold_changes_into_join(
        cat, feed_a, None, "J", "AIdx", "B", ["k"], ["ck"], num_buckets=4,
    )
    got = sorted(map(tuple, cat.read("J").collect()))
    a_final = spark.createDataFrame(
        [(3, 30, 300), (4, 99, 400), (1, 77, 105)],
        "k long, ck long, cents long",
    )
    want = sorted(
        map(tuple, a_final.join(b0, "ck").select(*cat.read("J").columns).collect())
    )
    assert got == want


def test_fold_stats_fused_ids_equal_fresh_aggregate(spark, cat):
    """fold_changes_into_stats through the fused-id path (standing
    table merged on the group key, matching bucket count) lands the
    same table as the from-scratch aggregate."""
    day0 = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "c", 7)],
        "k long, g string, v long",
    )
    cat.merge_upsert(day0, "U", ["k"], num_buckets=8)
    ivm.fold_changes_into_stats(
        cat, day0.selectExpr("'I' AS op", "*"), "S", ["g"], "v", num_buckets=4,
    )
    # day 1: move k=3 to group a, delete k=4 (group c empties)
    feed = spark.createDataFrame(
        [
            ("U_pre", 3, "b", 5),
            ("U_post", 3, "a", 5),
            ("D", 4, "c", 7),
        ],
        "op string, k long, g string, v long",
    )
    ivm.fold_changes_into_stats(cat, feed, "S", ["g"], "v", num_buckets=4)
    got = sorted(map(tuple, cat.read("S").collect()))
    final = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5)],
        "k long, g string, v long",
    )
    want = sorted(
        map(
            tuple,
            final.groupBy("g")
            .agg(
                F.count("*").alias("n"),
                F.count("v").alias("n_vals"),
                F.sum("v").alias("sum_v"),
            )
            .select(*cat.read("S").columns)
            .collect(),
        )
    )
    assert got == want


def test_stale_bucket_ids_ignored_after_rebucket(spark, tmp_path):
    """Ids collected under one layout and handed over after the table
    was re-bucketed (another ``num_buckets``) must not prune: their
    tag no longer equals the table's layout, so read_pruned and
    merge_upsert collect their own and give exactly what the
    unassisted calls give. Used raw, the old layout's ids would name
    the wrong bucket directories."""
    base = spark.range(64).selectExpr("id AS k", "id * 3 AS v")
    probe = spark.createDataFrame([(5,), (17,), (40,)], "k long")
    delta = spark.createDataFrame(
        [(5, -1), (17, -2), (99, -3)], "k long, v long"
    )
    outs = []
    for stale in (False, True):
        c = ParquetCatalog(spark, str(tmp_path / f"wh_{stale}"), retain=2)
        c.merge_upsert(base, "T", ["k"], num_buckets=4)
        [ids] = c.bucket_ids(probe, ["T"])
        c.merge_upsert(base, "T", ["k"], num_buckets=16)  # re-bucket
        assert ids.layout != c.layout("T")
        given = ids if stale else None
        pruned = c.read_pruned("T", probe, bucket_ids=given)
        got = sorted(map(tuple, pruned.collect()))
        c.merge_upsert(
            delta, "T", ["k"], num_buckets=16, affected_buckets=given
        )
        outs.append((got, sorted(map(tuple, c.read("T").collect()))))
    assert outs[0] == outs[1]
    assert [k for k, _ in outs[1][0]] == [5, 17, 40]
    assert len(outs[1][1]) == 65  # 64 keys, one new, none duplicated
