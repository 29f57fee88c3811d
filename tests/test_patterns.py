"""Golden-output tests for the five ETL patterns over GHCrawler-shaped
fixtures (SURVEY.md section 5.1-5.2), pinning the quirk decisions Q1-Q5
(SURVEY.md 2.11).

Two synthetic crawl days:
  day1 2024-01-01: commit c1+c2, repo r1 v1, collaborators pages for
                   r1 {u1,u2} and r2 {u9}, clones series, issue i1,
                   user u1, org/team member pages.
  day2 2024-01-02: re-crawl of c1 (newer), new c3, repo r1 v2,
                   collaborators page ONLY for r1 {u2,u3}, clones
                   re-report of an overlapping day with updated counts.
"""

from __future__ import annotations

import pytest

from ghcrawler_datalake_etl_spark.pipeline import run_daily
from ghcrawler_datalake_etl_spark.plans.catalog import CATALOG, spec_for
from ghcrawler_datalake_etl_spark.sources import ivm
from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
from ghcrawler_datalake_etl_spark.sources.staging import read_staging, stage_json
from tests.conftest import meta, write_docs

T1 = "2024-01-01T06:00:00Z"
T2 = "2024-01-02T06:00:00Z"
REPO_URN = "urn:gh:repo:1"
REPO2_URN = "urn:gh:repo:2"


def commit_doc(sha, urn, fetched, processed, message, adds, files, parents,
               deleted=None):
    return {
        "_metadata": meta("commit", urn, fetched, processed, deleted,
                          {"repo": {"href": REPO_URN}}),
        "sha": sha,
        "commit": {
            "author": {"date": "2023-12-30T01:00:00Z", "name": "Ann Author",
                       "email": "ann@example.com"},
            "committer": {"date": "2023-12-30T01:00:00Z", "name": "Con C",
                          "email": "con@example.com"},
            "message": message,
            "comment_count": 0,
        },
        "stats": {"additions": adds, "deletions": 1, "total": adds + 1},
        "author": {"login": "ann", "id": 101},
        "committer": {"login": "con", "id": 102},
        "files": files,
        "parents": parents,
    }


def repo_doc(urn, fetched, processed, stars, updated_at):
    return {
        "_metadata": meta("repo", urn, fetched, processed, None,
                          {"owner": {"href": "urn:gh:user:owner1"}}),
        "id": 1, "name": "proj", "full_name": "acme/proj",
        "owner": {"login": "acme", "id": 7},
        "private": False, "fork": False, "language": "Python",
        "forks_count": 2, "stargazers_count": stars, "watchers_count": stars,
        "subscribers_count": 3, "open_issues_count": 4, "size": 100,
        "default_branch": "main",
        "created_at": "2020-01-01T00:00:00Z", "updated_at": updated_at,
        "pushed_at": updated_at,
    }


def collab_page(origin, members, fetched, processed, n):
    urn = f"{origin}:collab_page:{n}"
    return {
        "_metadata": meta(
            "collaborators", urn, fetched, processed, None,
            {"origin": {"href": origin},
             "unique": {"href": f"{urn}:{processed}"},
             "resources": {"hrefs": members}},
        ),
    }


def members_page(origin, members, fetched, processed):
    urn = f"{origin}:members_page"
    return {
        "_metadata": meta(
            "members", urn, fetched, processed, None,
            {"origin": {"href": origin},
             "resources": {"hrefs": members}},
        ),
    }


def clones_doc(urn, fetched, processed, series):
    return {
        "_metadata": meta("clones", urn, fetched, processed, None,
                          {"repo": {"href": REPO_URN}}),
        "clones": series,
    }


def issue_doc(urn, fetched, processed, labels):
    return {
        "_metadata": meta("issue", urn, fetched, processed, None,
                          {"repo": {"href": REPO_URN},
                           "user": {"href": "urn:gh:user:101"}}),
        "id": 11, "number": 1, "state": "open", "title": "bug",
        "body": "it broke", "user": {"login": "ann"}, "comments": 2,
        "created_at": "2023-12-31T00:00:00Z",
        "updated_at": "2023-12-31T12:00:00Z",
        "locked": False, "labels": labels,
    }


def user_doc(urn, fetched, processed, email="ann@example.com"):
    doc = {
        "_metadata": meta("user", urn, fetched, processed, None),
        "id": 101, "login": "ann", "name": "Ann Author",
        "email": email, "company": "ACME", "location": "NYC",
        "hireable": True, "public_repos": 5, "followers": 10, "following": 3,
        "type": "User", "site_admin": False,
        "created_at": "2019-01-01T00:00:00Z",
        "updated_at": "2023-12-01T00:00:00Z",
    }
    if email is None:
        del doc["email"]
    return doc


DAY1 = [
    commit_doc("c1", "urn:gh:commit:c1", T1, T1, "first", 10,
               files=[{"sha": "f1", "filename": "a.py", "status": "modified",
                       "additions": 5, "deletions": 1, "changes": 6,
                       "patch": "@@"},
                      {"sha": "f2", "filename": "b.py", "status": "added",
                       "additions": 5, "deletions": 0, "changes": 5,
                       "patch": "@@"}],
               parents=[{"sha": "p0", "url": "urn:gh:commit:p0"}]),
    commit_doc("c2", "urn:gh:commit:c2", T1, T1, "second", 3,
               files=[{"sha": "f3", "filename": "c.py", "status": "removed",
                       "additions": 0, "deletions": 9, "changes": 9,
                       "patch": None}],
               parents=[{"sha": "c1", "url": "urn:gh:commit:c1"},
                        {"sha": "p1", "url": "urn:gh:commit:p1"}]),
    repo_doc(REPO_URN, T1, T1, stars=100, updated_at="2023-12-31T00:00:00Z"),
    collab_page(REPO_URN, ["urn:gh:user:u1", "urn:gh:user:u2"], T1, T1, 1),
    collab_page(REPO2_URN, ["urn:gh:user:u9"], T1, T1, 1),
    members_page("urn:gh:org:o1", ["urn:gh:user:u1", "urn:gh:user:u2"], T1, T1),
    members_page("urn:gh:team:t1", ["urn:gh:user:u2"], T1, T1),
    clones_doc("urn:gh:clones:r1", T1, T1,
               [{"timestamp": "2023-12-30T00:00:00Z", "count": 5, "uniques": 2},
                {"timestamp": "2023-12-31T00:00:00Z", "count": 7, "uniques": 3}]),
    issue_doc("urn:gh:issue:i1", T1, T1,
              [{"name": "bug", "color": "red", "default": True},
               {"name": "p1", "color": "blue", "default": False}]),
    user_doc("urn:gh:user:101", T1, T1),
]

DAY2 = [
    # re-crawl of c1: newer processedAt, message/stats changed, 1 file now
    commit_doc("c1", "urn:gh:commit:c1", T2, T2, "first-amended", 20,
               files=[{"sha": "f1b", "filename": "a.py", "status": "modified",
                       "additions": 20, "deletions": 1, "changes": 21,
                       "patch": "@@"}],
               parents=[{"sha": "p0", "url": "urn:gh:commit:p0"}]),
    commit_doc("c3", "urn:gh:commit:c3", T2, T2, "third", 1,
               files=[], parents=[{"sha": "c2", "url": "urn:gh:commit:c2"}]),
    repo_doc(REPO_URN, T2, T2, stars=150, updated_at="2024-01-01T18:00:00Z"),
    # r1 collaborators refreshed (u1 dropped, u3 added); r2 NOT re-crawled
    collab_page(REPO_URN, ["urn:gh:user:u2", "urn:gh:user:u3"], T2, T2, 2),
    # clones re-report: overlapping day 2023-12-31 count corrected 7 -> 8
    clones_doc("urn:gh:clones:r1", T2, T2,
               [{"timestamp": "2023-12-31T00:00:00Z", "count": 8, "uniques": 3},
                {"timestamp": "2024-01-01T00:00:00Z", "count": 4, "uniques": 4}]),
    # a user without an email
    user_doc("urn:gh:user:102", T2, T2, email=None),
]

SPEC_SUBSET = tuple(
    spec_for(t)
    for t in (
        "Commit", "CommitFile", "CommitParent", "Repo", "RepoLog", "User",
        "Issue", "IssueLabel", "RepoCollaborators", "OrgMembers",
        "TeamMembers", "Clones",
    )
)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Stage both days and run the daily pipeline twice; also re-run day2
    to assert idempotence."""
    root = tmp_path_factory.mktemp("etl")
    raw1 = str(root / "raw" / "2024-01-01")
    raw2 = str(root / "raw" / "2024-01-02")
    staging = str(root / "staging")
    write_docs(raw1, DAY1)
    write_docs(raw2, DAY2)
    catalog = ParquetCatalog(spark, str(root / "warehouse"))
    stage_json(spark, raw1, staging, "2024-01-01")
    run_daily(spark, staging, "2024-01-01", catalog, specs=SPEC_SUBSET)
    stage_json(spark, raw2, staging, "2024-01-02")
    run_daily(spark, staging, "2024-01-02", catalog, specs=SPEC_SUBSET)
    # idempotence: re-stage + re-run day2 (partition swap + dedup absorb it)
    stage_json(spark, raw2, staging, "2024-01-02")
    run_daily(spark, staging, "2024-01-02", catalog, specs=SPEC_SUBSET)
    return catalog, staging


def rows(catalog, table, *cols, where=None):
    df = catalog.read(table)
    if where is not None:
        df = df.filter(where)
    if cols:
        df = df.select(*cols)
    return sorted([tuple(r) for r in df.collect()])


def test_staging_partition_swap_idempotent(spark, warehouse):
    _, staging = warehouse
    day2 = read_staging(spark, staging, "2024-01-02")
    assert day2.count() == len(DAY2)
    # entity_name/urn extracted from _metadata
    assert day2.filter("entity_name = 'commit'").count() == 2


def test_staging_swap_is_dynamic_under_static_session(
    spark, tmp_path_factory
):
    """Round-11: the partition swap must be a PER-WRITE property of
    stage_json, not a session-conf accident - under a session whose
    partitionOverwriteMode is the static default, staging day 2 must
    not truncate day 1's partition (found while probing under a plain
    SparkSession.builder session: every earlier day silently
    vanished)."""
    root = tmp_path_factory.mktemp("staticstage")
    raw1, raw2 = str(root / "d1"), str(root / "d2")
    write_docs(raw1, DAY1)
    write_docs(raw2, DAY2)
    staging = str(root / "staging")
    s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    stage_json(s2, raw1, staging, "2024-01-01")
    stage_json(s2, raw2, staging, "2024-01-02")
    assert read_staging(s2, staging, "2024-01-01").count() == len(DAY1)
    assert read_staging(s2, staging, "2024-01-02").count() == len(DAY2)


def test_pattern_a_latest_wins(spark, warehouse):
    catalog, _ = warehouse
    got = rows(catalog, "Commit", "CommitSha", "CommitMessage", "StatsAdditions")
    assert got == [("c1", "first-amended", 20), ("c2", "second", 3),
                   ("c3", "third", 1)]


def test_pattern_a_pii_scrubbed(spark, warehouse):
    """PII fields hold the sha2-256 hex of the cleartext; an absent one
    stays NULL."""
    import hashlib

    catalog, _ = warehouse
    assert rows(catalog, "User", "EtlSourceId", "Email") == [
        ("urn:gh:user:101", hashlib.sha256(b"ann@example.com").hexdigest()),
        ("urn:gh:user:102", None),
    ]


def test_pattern_b_commitfile_posexplode(spark, warehouse):
    catalog, _ = warehouse
    got = rows(catalog, "CommitFile", "CommitSha", "CommitFileId", "FileName",
               "Additions")
    # c1 re-crawl has ONE file: the day1 second file must be gone
    assert got == [("c1", 0, "a.py", 20), ("c2", 0, "c.py", 0)]


def test_pattern_b_commitparent_overwrite_not_append(spark, warehouse):
    catalog, _ = warehouse
    # Q1: the reference never truncates CommitParent (unbounded re-append);
    # we overwrite like its siblings. Three commits -> 4 parent edges once.
    got = rows(catalog, "CommitParent", "CommitSha", "CommitParentId",
               "CommitParentSha")
    assert got == [("c1", 0, "p0"), ("c2", 0, "c1"), ("c2", 1, "p1"),
                   ("c3", 0, "c2")]


def test_pattern_c_replace_by_owner(spark, warehouse):
    catalog, _ = warehouse
    got = rows(catalog, "RepoCollaborators", "RepoUrn", "UserUrn")
    # r1 replaced by day2 page; r2 carried over untouched (anti-join)
    assert got == [
        (REPO_URN, "urn:gh:user:u2"), (REPO_URN, "urn:gh:user:u3"),
        (REPO2_URN, "urn:gh:user:u9"),
    ]


def test_pattern_c_members_split_by_origin(spark, warehouse):
    catalog, _ = warehouse
    org = rows(catalog, "OrgMembers", "OrgUrn", "UserUrn")
    team = rows(catalog, "TeamMembers", "TeamUrn", "UserUrn")
    assert org == [("urn:gh:org:o1", "urn:gh:user:u1"),
                   ("urn:gh:org:o1", "urn:gh:user:u2")]
    assert team == [("urn:gh:team:t1", "urn:gh:user:u2")]


def test_pattern_d_one_row_per_series_element(spark, warehouse):
    catalog, _ = warehouse
    got = rows(catalog, "Clones", "DataDate", "Count", "Uniques")
    # Q3 fixed: every series element is a row; overlapping 12-31 updated 7->8
    dates_counts = [(str(d)[:10], c) for d, c, _ in got]
    assert dates_counts == [("2023-12-30", 5), ("2023-12-31", 8),
                            ("2024-01-01", 4)]


def test_pattern_e_version_log_keeps_all_versions(spark, warehouse):
    catalog, _ = warehouse
    repo = rows(catalog, "Repo", "StargazersCount")
    assert repo == [(150,)]  # snapshot: latest only
    log = rows(catalog, "RepoLog", "StargazersCount", "UpdatedAt")
    assert len(log) == 2 and sorted(s for s, _ in log) == [100, 150]


def test_export_repo_data_fan_out(spark, warehouse, tmp_path):
    """GetRepoData equivalent: point-filter the fixture repo, fan out to
    one-hop (Issue) and two-hop (Issue -> IssueLabel) children, TSVs on
    disk with headers."""
    import csv

    from ghcrawler_datalake_etl_spark.export import export_repo_data

    catalog, _ = warehouse
    out = tmp_path / "export"
    counts = export_repo_data(catalog, "acme", "proj", str(out))
    assert counts["Repo"] == 1
    assert counts["Issue"] == 1
    assert counts["IssueLabel"] == 2  # two labels via the Issue hop
    part = next(p for p in (out / "Repo").iterdir() if p.suffix == ".csv")
    with open(part) as f:
        rows = list(csv.DictReader(f, delimiter="\t"))
    assert rows[0]["Name"] == "proj" and rows[0]["OwnerLogin"] == "acme"
    # every TSV carries its table's columns in the table's order (a USING
    # join would move the join column first and keep the counts)
    for table in counts:
        assert tsv_rows(out, table)[0] == catalog.read(table).columns, table
    # unknown repo exports an empty Repo set and no child rows
    counts2 = export_repo_data(catalog, "acme", "nope", str(tmp_path / "e2"))
    assert counts2["Repo"] == 0 and counts2.get("Issue", 0) == 0


def tsv_rows(out, table):
    """Header and data rows of one exported TSV (a single part file)."""
    import csv

    (part,) = (p for p in (out / table).iterdir() if p.suffix == ".csv")
    with open(part) as f:
        return list(csv.reader(f, delimiter="\t"))


def test_export_repo_data_keeps_every_repo_of_one_name(spark, tmp_path):
    """A transferred repo can leave two ``Repo`` rows with one owner and
    name under different urns. The export keeps both, and the one-hop
    (Issue) and two-hop (Issue -> IssueLabel) children of both; another
    repo's children stay out."""
    from ghcrawler_datalake_etl_spark.export import export_repo_data

    def issue_of(urn, repo_urn, labels):
        doc = issue_doc(urn, T1, T1, [{"name": n, "color": "red", "default": False}
                                      for n in labels])
        doc["_metadata"]["links"]["repo"]["href"] = repo_urn
        return doc

    other = repo_doc("urn:gh:repo:3", T1, T1, 5, "2023-12-31T00:00:00Z")
    other["name"] = "other"
    docs = [
        repo_doc(REPO_URN, T1, T1, 100, "2023-12-31T00:00:00Z"),
        repo_doc(REPO2_URN, T1, T1, 7, "2023-12-31T00:00:00Z"),
        other,
        issue_of("urn:gh:issue:i1", REPO_URN, ["bug", "p1"]),
        issue_of("urn:gh:issue:i2", REPO2_URN, ["old"]),
        issue_of("urn:gh:issue:i3", "urn:gh:repo:3", ["x", "y"]),
    ]
    write_docs(str(tmp_path / "raw"), docs)
    stage_json(spark, str(tmp_path / "raw"), str(tmp_path / "stg"), "2024-01-01")
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    run_daily(spark, str(tmp_path / "stg"), "2024-01-01", catalog,
              specs=tuple(spec_for(t) for t in ("Repo", "Issue", "IssueLabel")))

    out = tmp_path / "export"
    counts = export_repo_data(catalog, "acme", "proj", str(out))
    assert counts == {"Repo": 2, "Issue": 2, "IssueLabel": 3}

    def column(table, name):
        header, *rows = tsv_rows(out, table)
        assert header == catalog.read(table).columns, table
        return sorted(r[header.index(name)] for r in rows)

    assert column("Repo", "EtlSourceId") == [REPO_URN, REPO2_URN]
    assert column("Issue", "RepoUrn") == [REPO_URN, REPO2_URN]
    assert column("IssueLabel", "IssueUrn") == [
        "urn:gh:issue:i1", "urn:gh:issue:i1", "urn:gh:issue:i2"]


def jobs_of(spark, action):
    """Spark jobs that ``action()`` runs, counted by its job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_daily_costs_at_most_two_jobs_per_spec(spark, tmp_path):
    """The cached staging day is ``run_daily``'s one cache. A cache of
    each parsed family would cost a job of its own under AQE the first
    time a spec reads it (3 jobs for the first spec of a family, not 2).
    Over three families of two specs each, the day stays within 2 jobs
    a spec, plus one to fill the staging-day cache. Staging is read with
    its declared schema, so no job reads the parquet footers."""
    specs = tuple(spec_for(t) for t in (
        "Commit", "CommitFile", "Repo", "RepoLog", "Issue", "IssueLabel"))
    staging = str(tmp_path / "stg")
    write_docs(str(tmp_path / "raw"), DAY1)
    stage_json(spark, str(tmp_path / "raw"), staging, "2024-01-01")
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    jobs = jobs_of(spark, lambda: run_daily(spark, staging, "2024-01-01", catalog,
                                            specs=specs, init_mode=True))
    assert jobs <= 2 * len(specs) + 1, jobs


def test_export_costs_at_most_two_jobs_per_tsv(spark, warehouse, tmp_path):
    """The export collects the point filter's repo URNs once and filters
    each child with them, so a TSV costs its write and at most one more
    job (the Repo URNs' collect, or a broadcast hop set)."""
    from ghcrawler_datalake_etl_spark.export import export_repo_data

    catalog, _ = warehouse
    counts = {}
    jobs = jobs_of(spark, lambda: counts.update(
        export_repo_data(catalog, "acme", "proj", str(tmp_path / "out"))))
    assert len(counts) == 3  # Repo, Issue, IssueLabel
    assert jobs <= 2 * len(counts), jobs


def test_default_exports_join_columns_are_declared():
    """Every export's join column is a declared field of its table's
    spec, and so is ``RepoUrn`` of each hop table: export_repo_data
    joins them unconditionally, so a spec edit that drops one fails
    here instead of silently skipping an export."""
    from ghcrawler_datalake_etl_spark.export import DEFAULT_EXPORTS

    def fields(table):
        return {f.name for f in spec_for(table).fields}

    for table, key, hop in DEFAULT_EXPORTS:
        assert key in fields(table), (table, key)
        if hop:
            assert "RepoUrn" in fields(hop), hop


def test_issue_labels_pattern_b_by_issue_urn(spark, warehouse):
    catalog, _ = warehouse
    got = rows(catalog, "IssueLabel", "IssueLabelId", "Name", "Color")
    assert got == [(0, "bug", "red"), (1, "p1", "blue")]


def test_catalog_time_travel_and_vacuum(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "wh"), retain=3)
    for i in range(3):
        cat.overwrite(
            spark.createDataFrame([(i, f"snap{i}")], "k long, v string"),
            "t",
        )
    assert cat.versions("t") == [0, 1, 2]
    assert cat.read("t").collect()[0]["v"] == "snap2"
    # time travel to a retained snapshot
    assert cat.read("t", version=0).collect()[0]["v"] == "snap0"
    # a fourth write rotates the oldest out (retain=3)
    cat.overwrite(
        spark.createDataFrame([(3, "snap3")], "k long, v string"), "t"
    )
    assert cat.versions("t") == [1, 2, 3]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.read("t", version=0)
    # explicit vacuum keeps only the current snapshot
    dropped = cat.vacuum("t", keep_last=1)
    assert dropped == [1, 2]
    assert cat.versions("t") == [3]
    assert cat.read("t").collect()[0]["v"] == "snap3"


def test_catalog_default_retention_protects_previous_reader(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cat.overwrite(spark.createDataFrame([(1,)], "k long"), "t")
    lazy_old = cat.read("t")  # plan pinned to v0's files
    cat.overwrite(spark.createDataFrame([(2,)], "k long"), "t")
    # default retain=2: v0 still on disk, the old plan must still run
    assert lazy_old.collect()[0]["k"] == 1
    assert cat.read("t").collect()[0]["k"] == 2


def test_merge_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    """Incremental daily merge: day N+1 must rewrite only the hash
    buckets containing delta keys; every other bucket's data files are
    REUSED (hardlinked - same inode) in the new snapshot, and the merged
    table reads identically to a full TRUNCATE+INSERT rewrite."""
    import os

    from pyspark.sql import functions as F

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    day1 = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit("day1").alias("val")
    )
    s0 = cat.merge_upsert(day1, "T", ["k"], num_buckets=16)
    assert s0["rewritten"] > 0 and s0["linked"] == 0  # bootstrap

    # delta touches 3 keys -> at most 3 of 16 buckets
    delta = spark.createDataFrame(
        [(5, "day2"), (6, "day2"), (1005, "day2")], "k long, val string"
    )
    v_before = cat.current_path("T")
    inodes_before = {}
    for d in os.listdir(v_before):
        if d.startswith("_kb="):
            inodes_before[d] = {
                f: os.stat(os.path.join(v_before, d, f)).st_ino
                for f in os.listdir(os.path.join(v_before, d))
            }

    stats = cat.merge_upsert(delta, "T", ["k"], num_buckets=16)
    assert stats["rewritten"] <= 3
    assert stats["rewritten"] + stats["linked"] >= len(inodes_before)

    v_after = cat.current_path("T")
    assert v_after != v_before
    # unaffected buckets share inodes with the previous snapshot
    relinked = 0
    for d, files in inodes_before.items():
        after_dir = os.path.join(v_after, d)
        after = {
            f: os.stat(os.path.join(after_dir, f)).st_ino
            for f in os.listdir(after_dir)
        }
        if after == files:
            relinked += 1
    assert relinked == stats["linked"]

    # semantics identical to full rewrite: delta wins per key, the rest
    # carries over
    got = {r.k: r.val for r in cat.read("T").collect()}
    assert len(got) == 1001
    assert got[5] == "day2" and got[6] == "day2" and got[1005] == "day2"
    assert got[4] == "day1" and got[999] == "day1"
    assert "_kb" not in cat.read("T").columns

    # empty delta: nothing rewritten, everything linked, data unchanged
    empty = spark.createDataFrame([], "k long, val string")
    s2 = cat.merge_upsert(empty, "T", ["k"], num_buckets=16)
    assert s2["rewritten"] == 0
    assert {r.k: r.val for r in cat.read("T").collect()} == got

    # changing the bucket count rebuckets once (full rewrite), then
    # results still match
    s3 = cat.merge_upsert(delta, "T", ["k"], num_buckets=8)
    assert s3["linked"] == 0
    assert {r.k: r.val for r in cat.read("T").collect()} == got


def test_merge_upsert_dense_delta_falls_back_to_full_rewrite(
    spark, tmp_path
):
    """A delta touching more than dense_rewrite_fraction of the buckets
    must skip the per-bucket merge machinery and do the bucketed full
    rewrite (round-3 bench: dense merge lost to the plain rewrite) -
    nothing hardlinked, every non-empty bucket rewritten, read-back
    semantics identical to the pruned path."""
    from pyspark.sql import functions as F

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    day1 = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit("day1").alias("val")
    )
    cat.merge_upsert(day1, "T", ["k"], num_buckets=16)

    # 400 uniformly-hashed keys touch (virtually) all 16 buckets
    dense = spark.range(0, 1000, 2).select(
        F.col("id").alias("k"), F.lit("day2").alias("val")
    )
    stats = cat.merge_upsert(dense, "T", ["k"], num_buckets=16)
    assert stats["linked"] == 0, "dense fallback must not link buckets"
    assert stats["rewritten"] == 16

    got = {r.k: r.val for r in cat.read("T").collect()}
    assert len(got) == 1000
    assert got[0] == "day2" and got[998] == "day2"
    assert got[1] == "day1" and got[999] == "day1"

    # a sparse follow-up on the SAME table still prunes + links
    sparse = spark.createDataFrame([(3, "day3")], "k long, val string")
    s2 = cat.merge_upsert(sparse, "T", ["k"], num_buckets=16)
    assert s2["rewritten"] == 1 and s2["linked"] == 15
    assert cat.read("T").filter(F.col("k") == 3).first().val == "day3"


def test_run_daily_late_recrawl_loses_and_delete_marker_wins(spark, tmp_path):
    """Day 3 on a standing Commit/RepoLog warehouse, the adversarial
    cases of the latest-wins rewrite: a LATE re-crawl of c1, older than
    the stored day-2 row, must lose (resolution is by last touched, not
    by arrival), and c2's delete marker must win. Pattern B follows its
    parent: the stale c1 crawl (no files, no parents) leaves day 2's
    children of c1, and c2's delete marker clears c2's."""
    T0 = "2024-01-01T00:00:00Z"
    T3 = "2024-01-03T06:00:00Z"
    day3 = [
        commit_doc("c2", "urn:gh:commit:c2", T3, T3, "second", 3,
                   files=[], parents=[], deleted=T3),
        commit_doc("c1", "urn:gh:commit:c1", T0, T0, "stale-first", 1,
                   files=[], parents=[]),
        repo_doc(REPO_URN, T3, T3, stars=170,
                 updated_at="2024-01-02T18:00:00Z"),
    ]
    staging = str(tmp_path / "staging")
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    for day, docs in (("2024-01-01", DAY1), ("2024-01-02", DAY2),
                      ("2024-01-03", day3)):
        write_docs(str(tmp_path / day), docs)
        stage_json(spark, str(tmp_path / day), staging, day)
        run_daily(spark, staging, day, catalog,
                  specs=(spec_for("Commit"), spec_for("RepoLog"),
                         spec_for("CommitFile"), spec_for("CommitParent")))

    commits = {r.EtlSourceId: r for r in catalog.read("Commit").collect()}
    # the late day-3 re-crawl of c1 LOST to the newer stored day-2 row
    assert commits["urn:gh:commit:c1"].CommitMessage == "first-amended"
    # c2's delete marker won (DeletedAt > ProcessedAt orders last)
    assert commits["urn:gh:commit:c2"].DeletedAt is not None
    # RepoLog keeps every repo version
    assert rows(catalog, "RepoLog", "StargazersCount") == [(100,), (150,), (170,)]
    # children follow the winning parent version: the stale c1 crawl left
    # day 2's file and parent, c2's delete marker cleared c2's children
    assert rows(catalog, "CommitFile", "CommitSha", "FileName") == [("c1", "a.py")]
    assert rows(catalog, "CommitParent", "CommitSha", "CommitParentSha") == [
        ("c1", "p0"), ("c3", "c2")]


def referrers_doc(urn, fetched, processed, series):
    return {
        "_metadata": meta("referrers", urn, fetched, processed, None,
                          {"repo": {"href": REPO_URN}}),
        "referrers": series,
    }


#: one spec per pattern, plus pattern D's key with ProcessedAt in it
#: (Referrers); Commit last, so a failure at the last write leaves every other
#: pattern already re-applied (RepoLog is pattern A's code)
RERUN_SPECS = tuple(
    spec_for(t)
    for t in ("RepoLog", "CommitFile", "RepoCollaborators", "Clones",
              "Referrers", "Commit")
)
RERUN_DAYS = (
    ("2024-01-01", DAY1 + [
        referrers_doc("urn:gh:referrers:r1", T1, T1,
                      [{"referrer": "google.com", "count": 5, "uniques": 2},
                       {"referrer": "github.com", "count": 3, "uniques": 1}]),
    ]),
    ("2024-01-02", DAY2 + [
        referrers_doc("urn:gh:referrers:r1", T2, T2,
                      [{"referrer": "google.com", "count": 7, "uniques": 3}]),
    ]),
)


@pytest.fixture(scope="module")
def rerun_base(spark, tmp_path_factory):
    """Both days staged, and a warehouse holding day 1."""
    root = tmp_path_factory.mktemp("rerun")
    staging = str(root / "staging")
    for day, docs in RERUN_DAYS:
        write_docs(str(root / day), docs)
        stage_json(spark, str(root / day), staging, day)
    base = str(root / "day1")
    run_daily(spark, staging, "2024-01-01", ParquetCatalog(spark, base),
              specs=RERUN_SPECS)
    return root, staging, base


@pytest.mark.parametrize("init_mode", [False, True], ids=["standing", "init"])
def test_failed_day_reruns_to_the_same_warehouse(
    spark, rerun_base, monkeypatch, init_mode
):
    """Day 2's last table write fails inside its Spark job, leaving an
    uncommitted version directory and every other table at day 2.
    Re-running day 2 must give the warehouse a clean run gives: each
    pattern is idempotent under re-applying the same day. A table reads
    only its own previous snapshot, so failing at the last write covers
    both states a failure at any k leaves: tables written and not."""
    import shutil

    from pyspark.sql import functions as F

    root, staging, base = rerun_base
    mode = "init" if init_mode else "standing"

    def day2(path):
        catalog = ParquetCatalog(spark, path)
        run_daily(spark, staging, "2024-01-02", catalog, specs=RERUN_SPECS,
                  init_mode=init_mode)
        return catalog

    shutil.copytree(base, root / f"clean_{mode}")
    clean = day2(str(root / f"clean_{mode}"))
    write = ParquetCatalog.overwrite
    calls = []

    def failing(self, df, name, *args, **kwargs):
        calls.append(name)
        if len(calls) == len(RERUN_SPECS):
            df = df.filter(F.raise_error(f"injected failure writing {name}")
                           .isNull())
        return write(self, df, name, *args, **kwargs)

    path = str(root / f"rerun_{mode}")
    shutil.copytree(base, path)
    with monkeypatch.context() as m:
        m.setattr(ParquetCatalog, "overwrite", failing)
        with pytest.raises(Exception, match="injected failure writing Commit"):
            day2(path)
    failed = ParquetCatalog(spark, path)
    assert failed.current_version("Commit") == 0  # still day 1: v1 never committed
    assert all(failed.current_version(s.table) == 1 for s in RERUN_SPECS[:-1])
    rerun = day2(path)
    for spec in RERUN_SPECS:
        got, want = rerun.read(spec.table), clean.read(spec.table)
        assert got.dtypes == want.dtypes, spec.table
        diff = got.exceptAll(want).unionByName(want.exceptAll(got))
        assert diff.isEmpty(), spec.table


def test_pattern_d_key_tie_keeps_the_latest_fetch(spark, tmp_path):
    """Referrers' key (RepoUrn, Referrer, ProcessedAt) ties when one
    processing pass is fetched twice. The latest fetch wins, within one
    day and against the standing snapshot: a late-arriving older fetch
    loses to the stored newer one, whatever the order of arrival."""
    p = "2024-01-01T06:00:00Z"
    f1, f2, f3 = ("2024-01-01T07:00:00Z", "2024-01-01T08:00:00Z",
                  "2024-01-01T09:00:00Z")
    f4 = "2024-01-02T06:00:00Z"
    urn = "urn:gh:referrers:r1"

    def doc(fetched, counts):
        return referrers_doc(urn, fetched, p, [
            {"referrer": r, "count": c, "uniques": 1} for r, c in counts.items()
        ])

    days = (
        ("2024-01-01", [doc(f3, {"google.com": 9, "github.com": 4}),
                        doc(f1, {"google.com": 5, "github.com": 3})],
         {"google.com": 9, "github.com": 4}),
        ("2024-01-02", [doc(f4, {"github.com": 8}),
                        doc(f2, {"google.com": 7, "github.com": 6})],
         {"google.com": 9, "github.com": 8}),
    )
    staging = str(tmp_path / "staging")
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    for day, docs, want in days:
        write_docs(str(tmp_path / day), docs)
        stage_json(spark, str(tmp_path / day), staging, day)
        run_daily(spark, staging, day, catalog, specs=(spec_for("Referrers"),))
        got = catalog.read("Referrers").select("Referrer", "Count").collect()
        assert dict(got) == want, day


def test_merge_upsert_one_file_per_bucket(spark, tmp_path):
    """The partitioned write must repartition by bucket first: without
    it every shuffle task writes a fragment into every bucket dir
    (tasks x buckets small files) and the next day's snapshot read
    pays for listing and scanning all of them."""
    import glob
    import os

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path))
    day1 = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v")
    cat.merge_upsert(day1, "T", ["k"], num_buckets=8)
    delta = spark.range(0, 2000, 400).selectExpr("id AS k", "id * 3 AS v")
    cat.merge_upsert(delta, "T", ["k"], num_buckets=8)
    cur = cat.current_path("T")
    for bdir in sorted(glob.glob(os.path.join(cur, "_kb=*"))):
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1, (
            f"{os.path.basename(bdir)} has {len(files)} files - "
            "partitioned write is fragmenting buckets"
        )



def test_apply_changes_cdc_ops(spark, tmp_path):
    """CDC apply: deletes remove keys via the anti-join set, upserts
    update/insert, untouched buckets re-link (same pruned path as
    merge_upsert), and the result lands as one new atomic version."""
    from pyspark.sql import functions as F

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, val string"
    )
    cat.merge_upsert(base, "T", ["k"], num_buckets=16)
    v0 = max(cat.versions("T"))

    changes = spark.createDataFrame(
        [
            (1, None, "D"),          # delete existing
            (2, "updated", "U"),     # update existing
            (200, "new", "I"),       # insert new key
            (999, None, "D"),        # delete absent key: no-op
        ],
        "k long, val string, op string",
    )
    stats = ivm.apply_changes(cat, changes, "T", ["k"], num_buckets=16)
    got = {r["k"]: r["val"] for r in cat.read("T").collect()}
    assert 1 not in got
    assert got[2] == "updated"
    assert got[200] == "new"
    assert len(got) == 100  # -1 delete +1 insert
    assert max(cat.versions("T")) == v0 + 1
    # pruned path: only the touched buckets rewrote, the rest linked
    assert 1 <= stats["rewritten"] <= 4
    assert stats["rewritten"] + stats["linked"] == 16


def test_apply_changes_delete_only_and_conflict(spark, tmp_path):
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, v long"
    )
    cat.merge_upsert(base, "T", ["k"], num_buckets=4)

    # delete-only feed
    feed = spark.createDataFrame(
        [(3, None, "D"), (7, None, "D")], "k long, v long, op string"
    )
    ivm.apply_changes(cat, feed, "T", ["k"], num_buckets=4)
    keys = {r["k"] for r in cat.read("T").collect()}
    assert keys == set(range(20)) - {3, 7}

    # same key carries D and U in one feed: the upsert wins (documented)
    feed = spark.createDataFrame(
        [(5, 999, "D"), (5, 555, "U")], "k long, v long, op string"
    )
    ivm.apply_changes(cat, feed, "T", ["k"], num_buckets=4)
    got = {r["k"]: r["v"] for r in cat.read("T").collect()}
    assert got[5] == 555


def test_apply_changes_seq_col_orders_mixed_feed(spark, tmp_path):
    """VERDICT r7 #5: with ``seq_col`` the feed reduces to the final op
    per key by sequence order, so insert-then-delete deletes and
    delete-then-insert inserts - no caller pre-reduction needed."""
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(i, i * 10, 0) for i in range(10)], "k long, v long, seq long"
    )
    cat.merge_upsert(base, "T", ["k"], num_buckets=4)

    feed = spark.createDataFrame(
        [
            # k=1: insert then delete -> final op is DELETE
            (1, 111, 1, "U"),
            (1, None, 2, "D"),
            # k=2: delete then re-insert -> final op is INSERT
            (2, None, 1, "D"),
            (2, 222, 2, "U"),
            # k=3: three updates out of order -> highest seq wins
            (3, 31, 2, "U"),
            (3, 33, 3, "U"),
            (3, 30, 1, "U"),
            # k=50: brand-new key, delete then insert
            (50, 500, 2, "I"),
            (50, None, 1, "D"),
            # k=4: equal-seq tie delete+upsert -> upsert wins (pinned)
            (4, 444, 7, "D"),
            (4, 440, 7, "U"),
        ],
        "k long, v long, seq long, op string",
    )
    ivm.apply_changes(cat, feed, "T", ["k"], seq_col="seq", num_buckets=4)
    got = {r["k"]: (r["v"], r["seq"]) for r in cat.read("T").collect()}
    assert 1 not in got, "insert-then-delete must end deleted"
    assert got[2] == (222, 2), "delete-then-insert must end inserted"
    assert got[3] == (33, 3), "highest sequence wins"
    assert got[50] == (500, 2)
    assert got[4] == (440, 7), "equal-seq tie resolves upsert-over-delete"
    # untouched keys unchanged (seq column joined the schema as data)
    assert got[0] == (0, 0) and got[9] == (90, 0)

    # without seq_col the legacy upsert-wins contract is unchanged
    feed2 = spark.createDataFrame(
        [(6, 666, 9, "U"), (6, None, 10, "D")],
        "k long, v long, seq long, op string",
    )
    ivm.apply_changes(cat, feed2, "T", ["k"], num_buckets=4)
    got = {r["k"]: r["v"] for r in cat.read("T").collect()}
    assert got[6] == 666
