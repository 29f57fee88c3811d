"""ProcessDaily-equivalent: run the entity-spec catalog over one staged day.

The reference's ProcessDaily.usql is 3,593 lines of 24 mechanically
similar sections (/root/reference/USQL/ProcessDaily.usql); each section
here is ``build_table(spec)`` dispatching to the five pattern transforms.
The one-time backfill scripts (CreateAndInitialize*.usql) are the same
transforms with no previous snapshot - ``init_mode=True``.

Scale/plan notes:
- The day's staging partition is scanned once and cached (the reference
  re-scans it per section - quirk Q6, SURVEY.md 2.11); each entity filter
  then prunes from memory.
- Each entity family parses with the schema the catalog fixes for it
  (``plans.catalog.ENTITY_SCHEMAS``, SURVEY.md 1.3), so every path a spec
  reads exists; absent and malformed values project as typed NULLs (the
  reference's ``Get*`` are total), whatever the day holds.
- Writes go through the atomic-swap catalog (fixes Q8) with file counts
  scaled by the reference's relative-size hints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ghcrawler_datalake_etl_spark.functions.core import (
    greatest_touched,
    latest_by,
    pii_hash,
)
from ghcrawler_datalake_etl_spark.operators.patterns import (
    array_child,
    collection_refresh,
    snapshot_upsert,
    traffic_series,
    version_log,
)
from ghcrawler_datalake_etl_spark.plans.catalog import (
    CATALOG,
    ENTITY_SCHEMAS,
    ORIGIN_PATH,
    RESOURCES_PATH,
    UNIQUE_PATH,
    EntitySpec,
    Field,
    entity_schemas,
)
from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
from ghcrawler_datalake_etl_spark.sources.staging import parse_entity, read_staging

_TYPE = {
    "string": T.StringType(),
    "long": T.LongType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}

# Envelope columns every curated table carries, from staging metadata
# (the reference emits EtlSourceId/Etl* per table, e.g.
# /root/reference/USQL/ProcessDaily.usql:98-103,141-145).
_ENVELOPE = ("EtlSourceId", "EtlIngestDate", "FetchedAt", "ProcessedAt", "DeletedAt")


def typed_field(root: str, fld: Field) -> Column:
    """Typed path extraction, total like the reference's Utility.Get*: a
    path a document lacks parses to NULL under the declared schema, and a
    malformed value casts to a typed NULL (SURVEY.md 2.6 F1-F6). try_cast,
    not cast: under ANSI mode (Spark 4 default) a plain cast would abort
    the whole daily run on one bad document. ``pii`` fields are always
    pseudonymized (``pii_hash``, the reference's GetPiiString)."""
    col = F.col(f"{root}.{fld.path}")
    if fld.type == "pii":
        return pii_hash(col).alias(fld.name)
    return col.try_cast(_TYPE[fld.type]).alias(fld.name)


def _entity_filter(spec: EntitySpec) -> Column:
    op, val = spec.entity_filter
    c = F.col("entity_name")
    if op == "eq":
        return c == val  # P1
    if op == "like":
        return c.like(val)  # P2
    if op == "isin":
        return c.isin(*val)  # P3
    raise ValueError(f"unknown entity filter op {op}")


def _envelope_cols(with_urn: bool = False) -> list[Column]:
    """Staging-metadata columns every curated table carries.

    ``with_urn`` adds the reference's redundant leading ``Urn`` column
    (same value as EtlSourceId - scalar/traffic/log tables carry both,
    child tables don't; e.g. Commit CTAS leads with Urn while CommitFile
    starts at CommitUrn, /root/reference/USQL/CreateAndInitializeCommit.usql
    vs CreateAndInitializeCommitFile.usql). EtlIngestDate is a UTC
    timestamp like the reference's DateTime.Parse(IngestDate)
    (/root/reference/USQL/ProcessDaily.usql:32)."""
    cols = [
        F.col("urn").alias("EtlSourceId"),
        F.col("ingest_date").try_cast("timestamp").alias("EtlIngestDate"),
        F.col("fetched_at").alias("FetchedAt"),
        F.col("processed_at").alias("ProcessedAt"),
        F.col("deleted_at").alias("DeletedAt"),
    ]
    if with_urn:
        cols.insert(0, F.col("urn").alias("Urn"))
    return cols


def _touched() -> Column:
    return greatest_touched("DeletedAt", "ProcessedAt")


def project_entity(entity_day: DataFrame, spec: EntitySpec) -> DataFrame:
    """Wide typed projection over the parsed entity rows (P7)."""
    cols = _envelope_cols(with_urn=True) + [
        typed_field("data", f) for f in spec.fields
    ]
    return entity_day.select(*cols)


def build_table(
    spec: EntitySpec,
    entity_day: DataFrame,
    previous: DataFrame | None,
) -> DataFrame:
    """Compute the new full snapshot for one spec (one ProcessDaily
    section). ``entity_day`` is the day's staging rows already filtered
    to the spec's entity family and parsed (``data`` struct present)."""
    if spec.pattern == "A":
        new_df = project_entity(entity_day, spec)
        return snapshot_upsert(
            new_df,
            previous,
            keys=list(spec.key),
            order_by=[_touched()],
            tiebreakers=["FetchedAt"],
        )

    if spec.pattern == "B":
        # Dedup parents BEFORE exploding (ref keeps RowNumber==1 inside the
        # explode filter, /root/reference/USQL/ProcessDaily.usql:292).
        parents = entity_day.select(
            *_envelope_cols(),
            *[typed_field("data", f) for f in spec.fields],
            F.col(f"data.{spec.array_path}").alias("_array"),
        )
        dedup_keys = [k for k in spec.key if k in parents.columns] or ["EtlSourceId"]
        parents = latest_by(parents, dedup_keys, [_touched(), F.col("FetchedAt")])
        exploded = array_child(
            parents,
            "_array",
            [c for c in parents.columns if c != "_array"],
            spec.child_id,
        )
        new_df = exploded.select(
            *[c for c in exploded.columns if c != "element"],
            *[typed_field("element", f) for f in spec.element_fields],
        )
        if spec.extra.get("ordinal_internal"):
            # the reference's final projection overwrites the explode
            # ordinal with an element field of the same role (e.g.
            # EventPayloadReleaseAssetId = the asset's own id,
            # /root/reference/USQL/ProcessDaily.usql:1397-1398); the
            # ordinal stays internal.
            new_df = new_df.drop(spec.child_id)
        # Replace-by-parent: a re-crawled parent's children are replaced
        # wholesale (handles shrinking arrays). The literal reference
        # dedups child rows by EtlSourceId ALONE (e.g. CommitFile,
        # /root/reference/USQL/ProcessDaily.usql:329-331), which would
        # collapse every child of a document to one arbitrary row - a
        # latent bug in the Q1/Q3 family; we implement the intended
        # semantics (child key = parent key + array position, wholesale
        # refresh on re-crawl) and pin it by test.
        if previous is None:
            return new_df
        refreshed = parents.select(*dedup_keys).distinct()
        carryover = previous.join(F.broadcast(refreshed), dedup_keys, "left_anti")
        return new_df.unionByName(carryover, allowMissingColumns=True)

    if spec.pattern == "C":
        origin_like = spec.extra.get("origin_like")
        # Collection pages carry origin (owner) + resources (member hrefs)
        # links (/root/reference/USQL/ProcessDaily.usql:39-61).
        pages = entity_day.select(
            typed_field("data", Field(spec.origin_col, ORIGIN_PATH)),
            typed_field("data", Field("UniqueUrn", UNIQUE_PATH)),
            F.col(f"data.{RESOURCES_PATH}").alias("resources"),
            F.col("processed_at").alias("ProcessedAt"),
            F.col("fetched_at").alias("FetchedAt"),
            F.col("ingest_date").try_cast("timestamp").alias("EtlIngestDate"),
        ).filter(F.col(spec.origin_col).isNotNull())
        if origin_like:
            # The `members` entity feeds OrgMembers and TeamMembers from one
            # scan, split by origin URN (ProcessDaily.usql:1747-1763).
            pages = pages.filter(F.col(spec.origin_col).like(origin_like))
        members = collection_refresh(
            pages,
            previous,
            origin_col=spec.origin_col,
            member_col=spec.member_col,
            page_order=[F.col("ProcessedAt"), F.col("FetchedAt")],
            # page-constant passthroughs: the reference's membership rows
            # carry the page's timestamps + UniqueUrn
            # (/root/reference/USQL/ProcessDaily.usql:82-91)
            extra_cols=("FetchedAt", "ProcessedAt", "EtlIngestDate", "UniqueUrn"),
        )
        return members

    if spec.pattern == "D":
        base = entity_day.select(
            *_envelope_cols(with_urn=True),
            *[typed_field("data", f) for f in spec.fields],
            F.posexplode_outer(F.col(f"data.{spec.array_path}")).alias(
                "_pos", "element"
            ),
        ).filter(F.col("element").isNotNull())
        new_df = base.select(
            *[c for c in base.columns if c not in ("element", "_pos")],
            *[typed_field("element", f) for f in spec.element_fields],
        )
        unordered = bool(spec.extra.get("unordered_dedup"))
        return traffic_series(
            new_df,
            previous,
            natural_key=list(spec.key),
            order_by=None if unordered else [_touched(), F.col("FetchedAt")],
        )

    if spec.pattern == "E":
        new_df = project_entity(entity_day, spec)
        return version_log(
            new_df,
            previous,
            keys=list(spec.key),
            order_by=[_touched()],
            tiebreakers=["FetchedAt"],
        )

    raise ValueError(f"unknown pattern {spec.pattern}")


def build_delta(
    spec: EntitySpec,
    entity_day: DataFrame,
    previous: DataFrame,
) -> DataFrame:
    """Incremental form of build_table for the keyed snapshot patterns
    (A/E): the merged result restricted to the keys the day TOUCHES.

    Semantics are identical to the full path - the day's typed rows are
    resolved against the previous snapshot's rows FOR THOSE KEYS with
    the same latest-wins window (the old row can still win a late
    re-crawl), so handing the result to ``ParquetCatalog.merge_upsert``
    (delta-wins per key) reproduces ``build_table`` + ``overwrite``
    exactly while rewriting only the touched hash buckets. The
    reference rewrites every table in full daily
    (/root/reference/USQL/ProcessDaily.usql:142-177, TRUNCATE+INSERT) -
    at 100 TB that full rewrite IS the job's cost, which is why the
    incremental path exists.
    """
    if spec.pattern not in ("A", "E"):
        raise ValueError(f"build_delta supports patterns A/E, not {spec.pattern}")
    new_df = project_entity(entity_day, spec)
    keys = list(spec.key)
    prev_subset = previous.join(
        F.broadcast(new_df.select(*keys).distinct()), keys, "left_semi"
    )
    resolve = snapshot_upsert if spec.pattern == "A" else version_log
    return resolve(
        new_df,
        prev_subset,
        keys=keys,
        order_by=[_touched()],
        tiebreakers=["FetchedAt"],
    )


def run_daily(
    spark: SparkSession,
    staging_path: str,
    ingest_date: str,
    catalog: ParquetCatalog,
    specs: tuple[EntitySpec, ...] = CATALOG,
    init_mode: bool = False,
    incremental: bool = False,
) -> list[str]:
    """Run every spec for one day (ProcessDaily); ``init_mode`` ignores
    previous snapshots (CreateAndInitialize* backfill path).

    Each entity family is parsed once, with the schema its specs declare
    (``plans.catalog.ENTITY_SCHEMAS``, built at import; specs outside the
    catalog get theirs built here). A family absent from the day parses
    to no rows, so its tables are rebuilt from the previous snapshot
    alone.

    ``incremental=True`` routes the keyed snapshot patterns (A/E)
    through ``build_delta`` + ``merge_upsert``: only the hash buckets
    the day's keys land in are rewritten, untouched buckets hard-link
    into the new version. Results are identical to the full path (the
    first incremental run of a table pays a one-time re-bucket).
    Patterns B/C/D keep the full rewrite (their refresh unit is the
    parent document / collection page, not a row key).
    """
    staging_day = read_staging(spark, staging_path, ingest_date).cache()  # Q6
    schemas = (
        ENTITY_SCHEMAS if all(s in CATALOG for s in specs) else entity_schemas(specs)
    )
    parsed: dict = {}  # one parse per entity family, shared across specs (Q6)
    built = []
    try:
        for spec in specs:
            fkey = spec.entity_filter
            if fkey not in parsed:
                filtered = staging_day.filter(_entity_filter(spec))
                parsed[fkey] = parse_entity(filtered, schemas[fkey]).cache()
            previous = None if init_mode else catalog.read_or_none(spec.table)
            if incremental and spec.pattern in ("A", "E"):
                # first run bootstraps the bucketed layout through the
                # same sink, so day 2 is already link-incremental
                delta = (
                    build_table(spec, parsed[fkey], None)
                    if previous is None
                    else build_delta(spec, parsed[fkey], previous)
                )
                catalog.merge_upsert(delta, spec.table, list(spec.key))
            else:
                snapshot = build_table(spec, parsed[fkey], previous)
                catalog.overwrite(
                    snapshot,
                    spec.table,
                    num_files=max(1, spec.size_hint // 20),
                    sort_by=[k for k in spec.key if k in snapshot.columns],
                )
            built.append(spec.table)
    finally:
        for df in parsed.values():
            df.unpersist()
        staging_day.unpersist()
    return built
