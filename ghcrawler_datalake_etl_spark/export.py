"""Query/export layer: the GetRepoData equivalent.

The reference's only query-shaped consumer
(/root/reference/USQL/GetRepoData-unused.usql:7-134): point-filter one
repo, fan out joins Repo -> Event -> EventPayload* and Repo -> Issue ->
IssueLabel, and export 8 TSVs. Each export is (child table, join column,
hop table) - one-hop children join the repo URN directly; payload/label
tables reach the repo through their parent (Event.Urn == EventUrn,
Issue.Urn == IssueUrn; GetRepoData-unused.usql:42-70,105).

Plan shape: the repo URNs come from the point filter (a handful of
rows), collected once. One-hop children filter their join column with
them as a literal IN, which the parquet scan takes as a pushed-down
filter. Two-hop children left-semi join the hop table filtered the same
way, broadcast (no shuffle of the big side; the ADLA compiler made the
same choice, SURVEY.md 3.3). A hop set (all event URNs of one repo) is
never collected: a popular repo's events are unbounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog, write_tsv

# (table, join column, hop) - the 8 reference outputs
# (GetRepoData-unused.usql:17-110). hop=None: join column carries the
# repo URN; hop=("Event"|"Issue"): join column carries the hop table's
# URN, and the hop table's RepoUrn reaches the repo. Every join column
# and hop RepoUrn is a declared field of its table's spec (pinned by
# tests/test_patterns.py), so the joins need no column check.
DEFAULT_EXPORTS: tuple[tuple[str, str, str | None], ...] = (
    ("Event", "RepoUrn", None),
    ("EventPayloadCommit", "EventUrn", "Event"),
    ("EventPayloadIssueLabel", "EventUrn", "Event"),
    ("EventPayloadPage", "EventUrn", "Event"),
    ("EventPayloadPullRequest", "EventUrn", "Event"),
    ("EventPayloadReleaseAsset", "EventUrn", "Event"),
    ("Issue", "RepoUrn", None),
    ("IssueLabel", "IssueUrn", "Issue"),
)


def select_repo(catalog: ParquetCatalog, owner_login: str, name: str) -> DataFrame:
    """Point filter (GetRepoData-unused.usql:13)."""
    repo = catalog.read("Repo")
    return repo.filter(
        (F.col("OwnerLogin") == owner_login) & (F.col("Name") == name)
    )


def export_repo_data(
    catalog: ParquetCatalog,
    owner_login: str,
    name: str,
    out_folder: str,
) -> dict[str, int]:
    """Join fan-out + TSV export for one repo. Returns rows per export,
    counted while each TSV is written (one execution per export). Every
    TSV keeps its table's columns in the table's order."""
    repo = select_repo(catalog, owner_login, name)
    counts = {"Repo": write_tsv(repo, os.path.join(out_folder, "Repo"))}
    # The point filter returns a handful of rows (one repo, or a few urns
    # sharing an owner and name), so its URNs travel as literals.
    urns = [r.EtlSourceId for r in repo.select("EtlSourceId").collect()]

    def of_repo(table: str, key: str = "RepoUrn") -> DataFrame:
        return catalog.read(table).filter(F.col(key).isin(urns))

    for table, key, hop in DEFAULT_EXPORTS:
        if not catalog.exists(table) or (hop and not catalog.exists(hop)):
            continue
        if hop is None:
            rows = of_repo(table, key)
        else:
            # A popular repo's hop set is unbounded: broadcast it, never
            # collect it. A join condition, not USING, keeps the child's
            # column order.
            child = catalog.read(table)
            hop_set = F.broadcast(
                of_repo(hop).select(F.col("EtlSourceId").alias("_urn"))
            )
            rows = child.join(hop_set, child[key] == hop_set["_urn"], "left_semi")
        counts[table] = write_tsv(rows, os.path.join(out_folder, table))
    return counts
