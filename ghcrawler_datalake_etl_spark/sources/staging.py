"""Staging ingest: raw GHCrawler JSON -> one partitioned staging table.

Replaces the reference's StageData procedure
(/root/reference/USQL/StageData.usql:5-38).

Architecture: staging stores the RAW document string plus a typed
envelope, exactly mirroring the reference's design where staging keeps
raw bytes (the path->bytes map, /root/reference/USQL/CreateGitHubDataTable.usql:22)
and typed extraction happens later in ProcessDaily. Keeping `data_raw`
opaque makes the staging schema FIXED - eight scalar columns - so the
table is readable across arbitrarily many crawl days regardless of how
document shapes drift (storing an inferred struct instead breaks the
table the first time two days disagree on a field's type). That schema
is declared once, as ``STAGING_SCHEMA``; ``read_staging`` reads with it,
so a day's read costs no Spark job to infer it from the parquet footers.

- Envelope extraction is ONE ``from_json`` against a minimal metadata
  schema (JSON parsers skip unknown fields) - JVM-side, no Python.
- ``FlatJson(silent: true)`` (skip malformed input, StageData.usql:22)
  falls out naturally: ``from_json`` yields NULL for undecodable lines
  and the urn/entity filter drops them.
- The per-day partition swap (:24-36, drop/add/insert) becomes dynamic
  partition overwrite on the ``ingest_date``-partitioned layout - same
  idempotent re-run contract.
- Path-pattern virtual columns ``{IngestDate:yyyy}/{MM}/{dd}/{FileName}``
  (:17-21) become the partition directory + ``input_file_name()``.

Typed extraction (``parse_entity``) parses an entity family with the
schema the catalog declares for it (``plans.catalog.entity_schemas``),
never one inferred from the day, so no day - even one lacking the
family - pays an extra pass or parses to a different schema.

Scale: the daily curation reads exactly one ``ingest_date`` partition
(partition pruning); within a partition, work parallelizes by file split
(``spark.sql.files.maxPartitionBytes``) with no repartition. Raw-string
staging also means re-processing with a corrected entity schema is
always possible - staging is the durable source of truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed staging schema (SURVEY.md 1.1 / FIXTURES.md section 1), mirroring
# Staging.GHCrawler.GitHubData (/root/reference/USQL/CreateGitHubDataTable.usql:15-27).
# ``ingest_date`` is the partition column: a date, as partition inference
# types it, and last, where a partitioned read puts it. A streaming sink's
# output reads in the declared order, so both reads return one order.
STAGING_SCHEMA = T.StructType([
    T.StructField("entity_name", T.StringType()),  # _metadata.type (EntityName)
    T.StructField("fetched_at", T.TimestampType()),  # _metadata.fetchedAt (FetchedAt)
    T.StructField("processed_at", T.TimestampType()),  # _metadata.processedAt (ProcessedAt)
    T.StructField("deleted_at", T.TimestampType()),  # _metadata.deletedAt (DeletedAt)
    T.StructField("urn", T.StringType()),  # _metadata.links.self.href (Urn)
    T.StructField("source_file", T.StringType()),  # extract virtual column (FileName)
    T.StructField("data_raw", T.StringType()),  # the raw document (Data, kept opaque)
    T.StructField("ingest_date", T.DateType()),  # partition key (IngestDate)
])
STAGING_ENVELOPE = STAGING_SCHEMA.fieldNames()

_ENVELOPE_SCHEMA = (
    "struct<_metadata: struct<type: string, fetchedAt: string,"
    " processedAt: string, deletedAt: string,"
    " links: struct<self: struct<href: string>>>>"
)


def _staged(raw: DataFrame, ingest_date: str, source_file: Column) -> DataFrame:
    """The staging projection of raw JSON lines (a ``value`` column):
    the typed envelope, the day, ``source_file`` and the raw document.
    ``stage_json`` and its streaming twin both stage through it."""
    meta = F.from_json(F.col("value"), _ENVELOPE_SCHEMA).getField("_metadata")
    return (
        raw.select(
            meta.getField("type").alias("entity_name"),
            F.lit(ingest_date).alias("ingest_date"),
            meta.getField("fetchedAt").try_cast("timestamp").alias("fetched_at"),
            meta.getField("processedAt").try_cast("timestamp").alias("processed_at"),
            meta.getField("deletedAt").try_cast("timestamp").alias("deleted_at"),
            meta.getField("links").getField("self").getField("href").alias("urn"),
            source_file.alias("source_file"),
            F.col("value").alias("data_raw"),
        )
        # FlatJson(silent: true) equivalent: malformed/non-document lines
        # parse to NULL metadata and are dropped.
        .filter(F.col("entity_name").isNotNull() & F.col("urn").isNotNull())
    )


def stage_json(
    spark: SparkSession,
    input_path: str,
    staging_path: str,
    ingest_date: str,
) -> None:
    """Ingest one day's JSON-lines documents into the staging table.

    Re-running the same day overwrites exactly that day's partition
    (dynamic partition overwrite == the reference's partition swap,
    StageData.usql:24-36).
    """
    staged = _staged(spark.read.text(input_path), ingest_date, F.input_file_name())
    (
        staged.write.mode("overwrite")
        # per-write override, NOT session-conf reliance: under the
        # static default a vanilla session's re-stage of day N would
        # silently TRUNCATE every other day's partition (found round-11
        # while probing under a plain SparkSession.builder session -
        # the factory session masked it)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_date")
        .parquet(staging_path)
    )


def read_staging(
    spark: SparkSession, staging_path: str, ingest_date: str | None = None
) -> DataFrame:
    """Scan staging with its declared schema (``STAGING_SCHEMA``, so no
    Spark job reads the footers), optionally pruned to one date partition
    (S3, /root/reference/USQL/ProcessDaily.usql:33-35)."""
    df = spark.read.schema(STAGING_SCHEMA).parquet(staging_path)
    if ingest_date is not None:
        df = df.filter(F.col("ingest_date") == ingest_date)
    return df


def parse_entity(filtered: DataFrame, schema: T.StructType) -> DataFrame:
    """Typed parse of one entity family's raw documents: replaces
    ``data_raw`` with a ``data`` struct.

    ``schema`` is the family's catalog schema
    (``plans.catalog.entity_schemas``) - SURVEY.md 1.3: one explicit
    StructType per entity, never inference in production - so this is a
    single lazy JVM-side ``from_json`` whatever the day holds.
    """
    return filtered.withColumn("data", F.from_json(F.col("data_raw"), schema)).drop(
        "data_raw"
    )
