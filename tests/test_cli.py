"""The S8 stored-procedure surface end-to-end through the argparse CLI
(python -m ghcrawler_datalake_etl_spark ...): stage -> daily
(incremental) -> export, sharing the test session via getOrCreate."""

from __future__ import annotations

import json
import os

import pytest

from ghcrawler_datalake_etl_spark.__main__ import main
from tests.conftest import meta, write_docs


def test_cli_stage_daily_export(spark, tmp_path):
    raw = tmp_path / "raw"
    docs = [
        {
            "_metadata": meta(
                "repo",
                "urn:gh:repo:cli1",
                "2024-01-05T10:00:00Z",
                "2024-01-05T11:00:00Z",
                links={"owner": {"href": "urn:gh:user:owner1"}},
            ),
            "id": 5,
            "name": "cliproj",
            "full_name": "acme/cliproj",
            "owner": {"login": "acme", "id": 7},
        }
    ]
    write_docs(str(raw), docs)
    staging = str(tmp_path / "staging")
    wh = str(tmp_path / "wh")
    out = str(tmp_path / "export")

    assert main(["stage", "--input", str(raw), "--staging", staging,
                 "--date", "2024-01-05"]) == 0
    assert main(["daily", "--staging", staging, "--warehouse", wh,
                 "--date", "2024-01-05", "--tables", "Repo",
                 "--incremental"]) == 0
    assert main(["export", "--warehouse", wh, "--org", "acme",
                 "--repo", "cliproj", "--out", out]) == 0

    assert os.path.isdir(os.path.join(out, "Repo"))
    tsvs = [
        f for f in os.listdir(os.path.join(out, "Repo"))
        if f.startswith("part-") and f.endswith(".csv")
    ]
    assert tsvs, "export produced no TSV part file"
    body = open(os.path.join(out, "Repo", tsvs[0])).read()
    assert "cliproj" in body


def test_tsv_round_trip_typed(spark, tmp_path):
    """write_tsv -> read_tsv under the exported schema reproduces the
    frame exactly, modulo the documented empty-string -> NULL collapse
    (TSV cannot distinguish them)."""
    from pyspark.sql import functions as F
    from ghcrawler_datalake_etl_spark.sources.sinks import read_tsv, write_tsv

    df = spark.createDataFrame(
        [
            (1, "alpha", True, "2024-01-05 01:02:03", 9.5),
            (2, None, False, None, None),
            (3, "", None, "2024-02-29 23:59:59", -0.25),
        ],
        "id long, name string, flag boolean, ts string, score double",
    ).select(
        "id", "name", "flag", F.col("ts").cast("timestamp").alias("ts"),
        "score",
    )
    out = str(tmp_path / "tsv")
    write_tsv(df, out)
    back = read_tsv(spark, out, df.schema)
    norm = df.withColumn(
        "name", F.when(F.col("name") == "", None).otherwise(F.col("name"))
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, norm.collect())
    )
    assert back.schema == df.schema


def test_jsonl_round_trip_lossless(spark, tmp_path):
    """write_jsonl -> read_jsonl reproduces the frame EXACTLY - unlike
    TSV, JSONL keeps '' and NULL distinct - and a malformed line
    yields a NULL row under PERMISSIVE instead of failing the read
    (the stage_json contract)."""
    import os

    from pyspark.sql import functions as F
    from ghcrawler_datalake_etl_spark.sources.sinks import (
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha", True, 9.5),
            (2, None, False, None),
            (3, "", None, -0.25),
        ],
        "id long, name string, flag boolean, score double",
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    assert back.schema == df.schema
    # append a malformed line to the part file: PERMISSIVE -> NULL row
    part = [f for f in os.listdir(out) if f.endswith(".json")][0]
    with open(os.path.join(out, part), "a") as fh:
        fh.write('{"id": broken\n')
    # drop the Hadoop CRC sidecar invalidated by the append, and the
    # session's cached pre-append file size
    crc = os.path.join(out, f".{part}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    spark.catalog.refreshByPath(out)
    back2 = read_jsonl(spark, out, df.schema)
    assert back2.count() == 4
    assert back2.filter(F.col("id").isNull()).count() == 1


def test_catalog_orc_format_round_trip(spark, tmp_path):
    """The versioned catalog is format-blind: an ORC-backed catalog
    supports overwrite, time travel, and the bucket-level merge path
    identically (pointer swap, hardlink relinking, pruning are all
    file-layout mechanics)."""
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"), data_format="orc")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "EtlSourceId long, Name string"
    )
    cat.overwrite(df1, "T")
    assert sorted(map(tuple, cat.read("T").collect())) == [(1, "a"), (2, "b")]
    stats = cat.merge_upsert(
        spark.createDataFrame([(2, "B"), (3, "c")],
                              "EtlSourceId long, Name string"),
        "T", ["EtlSourceId"], num_buckets=4,
    )
    assert stats["rewritten"] >= 1
    got = sorted(map(tuple, cat.read("T").collect()))
    assert got == [(1, "a"), (2, "B"), (3, "c")]
    # snapshot files really are ORC (next to the commit's schema file)
    import os
    files = [f for f in _walk_files(cat.current_path("T"))]
    assert files and all(
        f.endswith((".orc", "_SUCCESS", "_SCHEMA.json")) or "part-" in f
        for f in files
    )
    with pytest.raises(ValueError):
        ParquetCatalog(spark, str(tmp_path / "wh2"), data_format="avro")


def _walk_files(root):
    import os
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            yield os.path.join(dirpath, f)
