"""The five composite ETL patterns - the reference's "query templates"
(SURVEY.md section 2.9), re-expressed as config-driven DataFrame
transforms. They reduce to three merge policies: latest-wins by key
(``snapshot_upsert``: A, D and E), replace children by parent
(``array_child``: B) and replace members by origin
(``collection_refresh``: C).

Each function is pure DataFrame-in / DataFrame-out so the same transform
serves the daily path (ProcessDaily) and the one-time
backfill path (CreateAndInitialize*): the backfill is just the transform
with an empty/absent previous snapshot. All logic is Column expressions
(no Python UDFs) so every pattern stays on the Tungsten codegen path and
scales by partitioning alone.

Scale notes (100 TB discipline):
- The only shuffles are the ones the semantics require: one exchange per
  dedup (hash by key) and, for collection refresh, one for the anti-join.
- Dedup is the window form (parity with the reference's ROW_NUMBER);
  ``functions.core.latest_by(strategy="max_by")`` is the sort-free
  hash-aggregate alternative for wide inputs.
- Union-with-snapshot never re-reads more than the snapshot's columns;
  explodes happen AFTER the parent dedup so the array blow-up applies to
  the minimal row set (mirrors /root/reference/USQL/ProcessDaily.usql:292).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.functions.core import greatest_touched, latest_by


def _union_snapshot(new_df: DataFrame, snapshot_df: DataFrame | None) -> DataFrame:
    """UNION ALL with the previous snapshot (A4 / SURVEY.md 2.4).

    Ref: /root/reference/USQL/ProcessDaily.usql:133-135. ``unionByName``
    removes the reference's column-order sensitivity (P8).
    """
    if snapshot_df is None:
        return new_df
    return new_df.unionByName(snapshot_df, allowMissingColumns=True)


def snapshot_upsert(
    new_df: DataFrame,
    snapshot_df: DataFrame | None,
    keys: Sequence[str],
    order_by: Sequence[Column] | None = None,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Pattern A - scalar-entity snapshot upsert (14 reference tables).

    scan+filter -> wide typed projection (caller) -> UNION ALL previous
    snapshot -> latest-wins dedup on ``keys`` ordered by
    ``greatest(DeletedAt, ProcessedAt)`` desc -> full rewrite.
    Ref canonical: Commit, /root/reference/USQL/ProcessDaily.usql:98-177.

    Pattern E (RepoLog's version log) is the same transform keyed on
    (entity key, version timestamp), so every observed version is kept
    and re-crawls of one version dedupe to the latest fetch
    (reference USQL/ProcessDaily.usql:2621,2628-2631,2747-2859).

    Pattern D (Clones/Views/Referrers/Paths traffic series) is A with an
    explode: the caller projects one row per series element and upserts
    on the natural key, e.g. (RepoUrn, DataDate), so a newer fetch
    refreshes a day's counts (:3293-3295). The reference's literal
    MAP_AGG collapses the series (bug Q3, :3267-3274) and its
    Referrers/Paths ROW_NUMBER has no ORDER BY (W2/Q2, :3387); latest-wins
    is one of the picks that allows.

    ``order_by`` defaults to the reference's F10 "last touched" ordering,
    which expects ``deleted_at``/``processed_at`` columns present.
    ``tiebreakers`` adds trailing deterministic sort keys (the reference
    breaks timestamp ties arbitrarily - SURVEY.md section 7.4.1; we pin a
    total order so re-runs are bit-identical).
    """
    unioned = _union_snapshot(new_df, snapshot_df)
    order = list(order_by) if order_by is not None else [
        greatest_touched("deleted_at", "processed_at")
    ]
    order += [F.col(c) for c in tiebreakers]
    return latest_by(unioned, keys, order)


def array_child(
    parent_df: DataFrame,
    array_col: str,
    parent_cols: Sequence[str],
    child_id_col: str,
    element_alias: str = "element",
) -> DataFrame:
    """Pattern B core - nested-array child extraction (7 reference tables).

    The reference explodes a path->bytes map, parses the array index out
    of the path string, and MAP_AGGs the pieces back together (X3,
    /root/reference/USQL/ProcessDaily.usql:277-324, ~48 LoC per entity).
    With native arrays a single ``posexplode`` replaces the whole
    explode-pivot-reassemble dance: position == the parsed index,
    struct fields == the reassembled map (SURVEY.md 2.5).

    Callers dedupe parents FIRST (latest_by) so the explode multiplies
    the minimal row set, then project typed child fields from
    ``element_alias``. Child key = (parent key, ``child_id_col``).
    """
    return parent_df.select(
        *parent_cols,
        F.posexplode_outer(F.col(array_col)).alias(child_id_col, element_alias),
    ).filter(F.col(element_alias).isNotNull())


def collection_refresh(
    pages_df: DataFrame,
    existing_df: DataFrame | None,
    origin_col: str,
    member_col: str,
    page_order: Sequence[Column],
    resources_col: str = "resources",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Pattern C - collection membership replace-by-owner (7 tables).

    GHCrawler emits each collection page with an ``origin`` (owner) link
    and a ``resources.hrefs`` member list. Semantics
    (/root/reference/USQL/ProcessDaily.usql:20-91, Collaborators):

    1. latest page per origin (W1 ordered by ProcessedAt, :39-44)
    2. explode member hrefs -> (origin, member) rows (:46-61)
    3. carry over existing rows ONLY for origins not refreshed today
       (left join + IS NULL == anti-join, :63-80 / J2)
    4. union + DISTINCT (:82-91)

    Step 3 replaces an origin's members whatever the age of today's
    page, as the reference does (J2, SURVEY.md 2.3 and 2.9 C): unlike
    pattern B's children, a late page is not compared with the stored
    membership.

    ``pages_df`` columns: ``origin_col``, ``resources_col`` (array of
    member urns), the ``page_order`` ordering columns, and ``extra_cols``
    passthroughs. Returns distinct (origin, member, *extra) rows.

    Scale: the refreshed-origins set is tiny relative to the snapshot -
    AQE broadcasts it, so the anti-join is shuffle-free on the big side.
    """
    latest_pages = latest_by(pages_df, [origin_col], page_order)
    members = (
        latest_pages.select(
            origin_col,
            *extra_cols,
            F.explode(F.col(resources_col)).alias(member_col),
        )
        .filter(F.col(member_col).isNotNull())
        .distinct()
    )
    if existing_df is None:
        return members
    refreshed = members.select(origin_col).distinct()
    carryover = existing_df.join(F.broadcast(refreshed), origin_col, "left_anti")
    return members.unionByName(carryover, allowMissingColumns=True).distinct()

