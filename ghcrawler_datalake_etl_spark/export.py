"""Query/export layer: the GetRepoData equivalent.

The reference's only query-shaped consumer
(/root/reference/USQL/GetRepoData-unused.usql:7-134): point-filter one
repo, fan out joins Repo -> Event -> EventPayload* and Repo -> Issue ->
IssueLabel, and export 8 TSVs. Each export is (child table, join column,
hop table) - one-hop children join the repo URN directly; payload/label
tables reach the repo through their parent (Event.Urn == EventUrn,
Issue.Urn == IssueUrn; GetRepoData-unused.usql:42-70,105).

Plan shape: the repo side is a point filter (one row) - broadcast it so
every child scan is a pushdown-filtered scan + broadcast hash join, no
shuffle of the big side (the ADLA compiler made the same choice;
SURVEY.md 3.3). The hop sets (event/issue URNs of ONE repo) stay small,
so the second hop broadcasts too.
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
    counted while each TSV is written (one execution per join)."""
    repo = select_repo(catalog, owner_login, name)
    repo_urns = F.broadcast(
        repo.select(F.col("EtlSourceId").alias("_urn")).distinct()
    )
    counts = {"Repo": write_tsv(repo, os.path.join(out_folder, "Repo"))}

    # URN set per hop table (e.g. all Event URNs of this repo), computed
    # lazily once and broadcast into each second-hop join.
    hop_urns: dict[str, DataFrame] = {}

    def urns_of(hop: str) -> DataFrame:
        if hop not in hop_urns:
            parent = catalog.read(hop)
            hop_urns[hop] = F.broadcast(
                parent.join(
                    repo_urns, parent["RepoUrn"] == repo_urns["_urn"], "inner"
                )
                .select(F.col("EtlSourceId").alias("_urn"))
                .distinct()
            )
        return hop_urns[hop]

    for table, key, hop in DEFAULT_EXPORTS:
        if not catalog.exists(table) or (hop and not catalog.exists(hop)):
            continue
        child = catalog.read(table)
        target = urns_of(hop) if hop else repo_urns
        joined = child.join(
            target, child[key] == target["_urn"], "inner"
        ).drop("_urn")
        counts[table] = write_tsv(joined, os.path.join(out_folder, table))
    return counts
