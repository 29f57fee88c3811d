"""ProcessDaily-equivalent: run the entity-spec catalog over one staged day.

The reference's ProcessDaily.usql is 3,593 lines of 24 mechanically
similar sections (/root/reference/USQL/ProcessDaily.usql); each section
here is ``build_table(spec)``, which runs the spec's plan through one of
three merge policies: latest-wins by key (patterns A, D and E; D is A
over the exploded series array), replace children by parent (B) and
replace members by origin (C). The one-time backfill scripts
(CreateAndInitialize*.usql) are the same transforms with no previous
snapshot - ``init_mode=True``.

Scale/plan notes:
- The day's staging partition is scanned once and cached (the reference
  re-scans it per section - quirk Q6, SURVEY.md 2.11). It is the day's
  one cache: each spec filters its entity family (SQL text from the
  spec) from it and parses that family itself. Under AQE a cached frame
  costs a job of its own the first time a query reads it, so only a
  frame every spec reads is worth one; a family is read by one or two.
- Each entity family parses with the schema its specs fix for it
  (``plans.catalog.entity_schemas``, SURVEY.md 1.3), so every path a spec
  reads exists; absent and malformed values project as typed NULLs (the
  reference's ``Get*`` are total), whatever the day holds.
- Each projection is SQL text compiled from the spec (``typed_field``)
  and run with one ``selectExpr``: a per-field ``Column`` chain costs a
  few py4j round trips, about 4 ms a field over the catalog's 884.
- Every table is recomputed and replaced in full through the atomic-swap
  catalog (``ParquetCatalog.overwrite``, fixes Q8), like the reference's
  TRUNCATE+INSERT (reference USQL/ProcessDaily.usql:142-177); the final
  stage's partitions, which AQE sizes from the data, set the file count.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.functions.core import greatest_touched, latest_by
from ghcrawler_datalake_etl_spark.operators.patterns import (
    array_child,
    collection_refresh,
    snapshot_upsert,
)
from ghcrawler_datalake_etl_spark.plans.catalog import CATALOG, EntitySpec, entity_schemas
from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
from ghcrawler_datalake_etl_spark.sources.staging import parse_entity, read_staging

if TYPE_CHECKING:
    from ghcrawler_datalake_etl_spark.plans.catalog import Field

# Envelope columns every curated table carries, from staging metadata
# (the reference emits EtlSourceId/Etl* per table, e.g.
# reference USQL/ProcessDaily.usql:98-103,141-145). EtlIngestDate is a
# UTC timestamp like the reference's DateTime.Parse(IngestDate)
# (reference USQL/ProcessDaily.usql:32).
_ENVELOPE_SQL = (
    "urn AS EtlSourceId",
    "try_cast(ingest_date AS timestamp) AS EtlIngestDate",
    "fetched_at AS FetchedAt",
    "processed_at AS ProcessedAt",
    "deleted_at AS DeletedAt",
)
_ENVELOPE = tuple(e.rsplit(" AS ", 1)[1] for e in _ENVELOPE_SQL)
# The reference's redundant leading Urn (same value as EtlSourceId):
# scalar/traffic/log tables carry it, child tables don't (Commit's CTAS
# leads with Urn, CommitFile's starts at CommitUrn,
# reference USQL/CreateAndInitializeCommit.usql vs
# CreateAndInitializeCommitFile.usql).
_URN = "urn AS Urn"


def _q(path: str) -> str:
    """SQL reference to a dotted path, every segment backquoted (element
    paths such as ``distinct`` and names such as ``Position`` are SQL
    words)."""
    return ".".join(f"`{part}`" for part in path.split("."))


def typed_field(root: str, fld: Field) -> str:
    """Typed path extraction as SQL text, total like the reference's
    Utility.Get*: a path a document lacks parses to NULL under the
    declared schema, and a malformed value casts to a typed NULL
    (SURVEY.md 2.6 F1-F6). try_cast, not cast: under ANSI mode (Spark 4
    default) a plain cast would abort the whole daily run on one bad
    document. The catalog's type names are Spark SQL type names. ``pii``
    fields are always pseudonymized with sha2-256 (the reference's
    GetPiiString); the leaf is a string and NULL stays NULL."""
    ref = _q(f"{root}.{fld.path}")
    if fld.type == "pii":
        return f"sha2({ref}, 256) AS `{fld.name}`"
    return f"try_cast({ref} AS {fld.type}) AS `{fld.name}`"


def _typed(root: str, fields: tuple[Field, ...]) -> list[str]:
    return [typed_field(root, f) for f in fields]


def _touched() -> Column:
    return greatest_touched("DeletedAt", "ProcessedAt")


def _select(spec: EntitySpec, rows: DataFrame, *cols: str) -> DataFrame:
    """The day's projected rows, kept where the spec's ``where`` holds."""
    out = rows.selectExpr(*cols)
    return out.filter(spec.where) if spec.where else out


def build_table(
    spec: EntitySpec,
    entity_day: DataFrame,
    previous: DataFrame | None,
) -> DataFrame:
    """Compute the new full snapshot for one spec (one ProcessDaily
    section). ``entity_day`` is the day's staging rows already filtered
    to the spec's entity family and parsed (``data`` struct present).
    Every column list comes from the spec: the projections are its
    fields as SQL text (``typed_field``, the wide typed projection P7)."""
    names = [f.name for f in spec.fields]
    array = _q(f"data.{spec.array_path}") if spec.array_path else None
    if spec.pattern in ("A", "D", "E"):
        # E is A keyed on (entity key, version timestamp): RepoLog's
        # (EtlSourceId, UpdatedAt) key keeps every observed version
        # (reference USQL/ProcessDaily.usql:2621,2628-2631). D is A over
        # one row per series element: the reference's literal MAP_AGG
        # collapses the series (bug Q3, ProcessDaily.usql:3267-3274), and
        # a re-fetch refreshes a day's counts (:3293-3295).
        rows = entity_day
        cols = [_URN, *_ENVELOPE_SQL, *_typed("data", spec.fields)]
        if array:
            rows = rows.selectExpr("*", f"explode({array}) AS element")
            rows = rows.filter("element IS NOT NULL")
            cols += _typed("element", spec.element_fields)
        return snapshot_upsert(
            _select(spec, rows, *cols),
            previous,
            keys=list(spec.key),
            order_by=[_touched()],
            tiebreakers=["FetchedAt"],
        )

    if spec.pattern == "B":
        # Dedup parents BEFORE exploding (ref keeps RowNumber==1 inside the
        # explode filter, /root/reference/USQL/ProcessDaily.usql:292).
        key = list(spec.key)
        parents = _select(
            spec, entity_day, *_ENVELOPE_SQL, *_typed("data", spec.fields),
            f"{array} AS _array",
        )
        version = [_touched(), F.col("FetchedAt")]
        parents = latest_by(parents, key, version)
        if previous is not None:
            # Latest parent version wins, wholesale (SURVEY.md 2.9 B: UNION
            # ALL previous, then W1): a day version at least as new as the
            # stored one replaces all of the parent's children, a tie going
            # to the day so a re-run is idempotent; an older one (a late
            # re-crawl) loses with its children. A struct compares field by
            # field with NULLs lowest, ``latest_by``'s order. Only the day's
            # parents are broadcast; the previous snapshot is never shuffled.
            day = parents.select(*key, F.struct(*version).alias("_day"))
            stored = previous.join(F.broadcast(day), key, "left")
            newer = F.struct(*version) > F.col("_day")
            carryover = stored.filter(F.col("_day").isNull() | newer).drop("_day")
            stale = stored.filter(newer).select(*key)
            parents = parents.join(F.broadcast(stale), key, "left_anti")
        # With no child_id the position stays internal: the reference's
        # final projection overwrites the explode ordinal with an element
        # field of the same role (EventPayloadReleaseAssetId = the asset's
        # own id, reference USQL/ProcessDaily.usql:1397-1398).
        parent_cols = [*_ENVELOPE, *names]
        exploded = array_child(parents, "_array", parent_cols, spec.child_id or "_pos")
        child_id = [spec.child_id] if spec.child_id else []
        new_df = exploded.selectExpr(
            *map(_q, parent_cols + child_id), *_typed("element", spec.element_fields)
        )
        # Replace-by-parent: the latest parent version's children replace
        # the stored ones wholesale (handles shrinking arrays). The literal
        # reference dedups child rows by EtlSourceId ALONE (e.g. CommitFile,
        # /root/reference/USQL/ProcessDaily.usql:329-331), which would
        # collapse every child of a document to one arbitrary row - a
        # latent bug in the Q1/Q3 family; we implement the intended
        # semantics (child key = parent key + array position, wholesale
        # refresh on re-crawl) and pin it by test.
        if previous is None:
            return new_df
        return new_df.unionByName(carryover, allowMissingColumns=True)

    if spec.pattern == "C":
        # Collection pages carry origin (owner) + resources (member hrefs)
        # links (/root/reference/USQL/ProcessDaily.usql:39-61).
        origin, member = spec.key
        pages = _select(
            spec, entity_day, *_typed("data", spec.fields), f"{array} AS resources",
            *_ENVELOPE_SQL[1:4],  # EtlIngestDate, FetchedAt, ProcessedAt
        ).filter(F.col(origin).isNotNull())
        return collection_refresh(
            pages,
            previous,
            origin_col=origin,
            member_col=member,
            page_order=[F.col("ProcessedAt"), F.col("FetchedAt")],
            # page-constant passthroughs: the reference's membership rows
            # carry the page's timestamps + UniqueUrn
            # (/root/reference/USQL/ProcessDaily.usql:82-91)
            extra_cols=(
                "FetchedAt", "ProcessedAt", "EtlIngestDate",
                *(n for n in names if n != origin),
            ),
        )

    raise ValueError(f"unknown pattern {spec.pattern}")


def run_daily(
    spark: SparkSession,
    staging_path: str,
    ingest_date: str,
    catalog: ParquetCatalog,
    specs: tuple[EntitySpec, ...] = CATALOG,
    init_mode: bool = False,
) -> list[str]:
    """Run every spec for one day (ProcessDaily); ``init_mode`` ignores
    previous snapshots (CreateAndInitialize* backfill path).

    The cached staging day is the one cache: each spec parses its entity
    family from it, with the union of the paths the specs being run read
    from that family (``plans.catalog.entity_schemas``). A family absent
    from the day parses to no rows, so its tables are rebuilt from the
    previous snapshot alone. Every spec's new snapshot (``build_table``)
    replaces the table in full (``overwrite``), so a day that failed
    part-way re-runs to the same warehouse.
    """
    staging_day = read_staging(spark, staging_path, ingest_date).cache()  # Q6
    schemas = entity_schemas(specs)
    built = []
    try:
        for spec in specs:
            fkey = spec.entity_filter
            entity_day = parse_entity(staging_day.filter(fkey), schemas[fkey])
            previous = None if init_mode else catalog.read_or_none(spec.table)
            snapshot = build_table(spec, entity_day, previous)
            catalog.overwrite(snapshot, spec.table, sort_by=list(spec.key))
            built.append(spec.table)
    finally:
        staging_day.unpersist()
    return built
