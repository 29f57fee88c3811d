"""The ParquetCatalog on-disk snapshot contract: every committed version
records its schema in ``v<n>/_SCHEMA.json`` and every read loads with it;
``_MERGE_META.json`` holds only the bucket layout of the current
version."""

from __future__ import annotations

import json
import os

import pytest

from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return ParquetCatalog(spark, str(tmp_path / "wh"), retain=3)


def _recorded(cat, name):
    with open(os.path.join(cat.current_path(name), "_SCHEMA.json")) as f:
        return json.load(f)


def test_recorded_schema_matches_footer_inference(spark, cat):
    """An overwrite and a merge each record the written frame's schema
    (the merge's physical one, ``_kb`` included); loading with it gives
    the all-nullable schema footer inference gives, and an all-empty
    version reads as an empty frame of the same schema."""
    df = spark.createDataFrame(
        [(1, "a", [1, 2], {"x": 1}, (3, "b"))],
        "k long not null, s string, arr array<int>, m map<string,int>, "
        "st struct<i: int, t: string>",
    )
    cat.overwrite(df, "O")
    inferred = spark.read.parquet(cat.current_path("O")).schema
    assert cat.read("O").schema == inferred
    assert cat.read("O").collect() == df.collect()
    assert [f["name"] for f in _recorded(cat, "O")["fields"]] == df.columns

    cat.overwrite(df.limit(0), "O")
    assert cat.read("O").count() == 0
    assert cat.read("O").schema == inferred

    cat.merge_upsert(df.drop("m"), "M", ["k"], num_buckets=4)
    names = [f["name"] for f in _recorded(cat, "M")["fields"]]
    assert names == ["k", "s", "arr", "st", "_kb"]
    assert cat.read("M").schema == spark.read.parquet(
        cat.current_path("M")
    ).drop("_kb").schema

    cat.merge_upsert(df.drop("m").limit(0), "ME", ["k"], num_buckets=4)
    assert cat.read("ME").count() == 0
    assert cat.read("ME").columns == ["k", "s", "arr", "st"]


def test_merge_meta_is_layout_only_and_dropped_by_overwrite(spark, cat):
    """``_MERGE_META.json`` records the bucket layout and nothing else;
    an overwrite's version is not bucketed, so the overwrite drops it
    and the next merge re-buckets in full instead of linking buckets
    the overwritten version does not have."""
    rows = spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    cat.merge_upsert(rows, "T", ["k"], num_buckets=8)
    assert cat._merge_meta("T") == {
        "key_cols": ["k"], "num_buckets": 8, "bucket_cols": ["k"],
    }
    cat.overwrite(rows, "T")
    assert cat._merge_meta("T") is None
    one = spark.createDataFrame([(1, "z")], "k long, v string")
    assert cat.merge_upsert(one, "T", ["k"], num_buckets=8)["linked"] == 0
    assert cat.read("T").count() == 100
    assert cat.merge_upsert(one, "T", ["k"], num_buckets=8)["linked"] > 0
    got = {r["k"]: r["v"] for r in cat.read("T").collect()}
    assert len(got) == 100 and got[1] == "z" and got[2] == "2"


def test_version_without_recorded_schema_raises(spark, cat):
    """No fallback to footer inference: a version directory missing its
    ``_SCHEMA.json`` fails the read and names the file."""
    cat.overwrite(spark.range(3), "T")
    os.remove(os.path.join(cat.current_path("T"), "_SCHEMA.json"))
    with pytest.raises(FileNotFoundError, match="_SCHEMA.json"):
        cat.read("T")


def test_apply_changes_seq_triggers_leave_no_cache(spark, cat):
    """Each ``apply_changes(seq_col=...)`` trigger on a table carrying
    the sequence column unpersists the reduced feed it persisted, even
    though the cross-trigger stale filter rebinds the feed: the count
    of persistent RDDs does not grow trigger over trigger."""
    cat.merge_upsert(
        spark.createDataFrame(
            [(k, f"v{k}", 0) for k in range(10)], "k long, s string, seq long"
        ),
        "T", ["k"],
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    sizes = []
    for t in range(1, 6):
        cat.apply_changes(
            spark.createDataFrame(
                [("U", t, f"u{t}", t), ("D", t + 5, None, t)],
                "op string, k long, s string, seq long",
            ),
            "T", ["k"], seq_col="seq",
        )
        sizes.append(jsc.getPersistentRDDs().size())
    assert sizes == [before] * 5
    got = {r["k"]: r["s"] for r in cat.read("T").collect()}
    assert got == {0: "v0", 1: "u1", 2: "u2", 3: "u3", 4: "u4", 5: "u5"}
