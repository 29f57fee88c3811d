"""Declarative entity-spec catalog: the 31-table output surface of the
reference (SURVEY.md section 1.4) as data, not code.

The reference hand-writes each table's wide typed projection as a
30-140-line SELECT (e.g. Commit at /root/reference/USQL/ProcessDaily.usql:98-129,
Event at :502-634). Those scripts are mechanically repetitive; here each
table is one ``EntitySpec``, the whole plan ``pipeline.build_table``
runs through the patterns' three merge policies. Column lists hold the
load-bearing columns per entity (keys, link urns, timestamps, counters,
PII fields); the machinery is column-count-agnostic, so widening a spec
is data entry, not code.

The reference types each GitHub API object out again in every script
that embeds it. Here each is declared once, as a module-level tuple of
``Field``s that carries its reference citation: the user (``USER``),
the repository (``REPOSITORY``), a pull request's base or head branch
(``BRANCH``), the milestone (``MILESTONE``) and the commit (``COMMIT``).
A table composes its columns from them with ``embed``, which prefixes
each column name and path, in the reference's column order; RepoLog
reuses Repo's tuple (``REPO_FIELDS``). Widening an object is one edit.

Path convention: ``fields`` paths are dotted struct paths inside the
staging ``data`` column (native nesting replaces the reference's
flattened path->bytes map, SURVEY.md 1.1). Envelope columns
(entity_name, ingest_date, fetched_at, processed_at, deleted_at, urn)
come from staging metadata and are added to every table automatically by
the pipeline: ``urn`` doubles as ``EtlSourceId``
(/root/reference/USQL/StageData.usql:29-35).

The specs also fix each entity family's parse schema
(``entity_schemas``, SURVEY.md 1.3): the union of the paths its specs
read, every leaf a string that the projector then types.
``ENTITY_SCHEMAS``, the schemas of the whole catalog, is built at
import, so a conflicting spec edit fails there.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# Field types understood by the projector (pipeline.typed_field): the
# Spark SQL type names string, long, boolean, timestamp, and pii (string
# scrubbed via sha2 - SURVEY.md F3).


@dataclass(frozen=True)
class Field:
    name: str  # output column name
    path: str  # dotted path inside data struct
    type: str = "string"


@dataclass(frozen=True)
class EntitySpec:
    """One curated table: the whole plan ``pipeline.build_table`` runs.

    pattern: the merge policy (SURVEY.md 2.9). A scalar snapshot, D
    traffic series and E version log are latest-wins by ``key`` (D is A
    over the exploded series array, E is A keyed on the version
    timestamp); B replaces a parent's nested-array children; C replaces
    a collection's members by origin.
    entity_filter: SQL predicate over the staging columns that selects
    the entity family (P1-P3), e.g. ``"entity_name LIKE '%Event'"``;
    specs with the same text share one parse.
    key: dedup key columns (latest wins) - pattern A/B/D/E; pattern C's
    (origin, member) pair, the pair collection_refresh keeps unique.
    Every table is sorted by its key at write.
    fields: typed extractions from the document (pattern C: the origin
    and unique links).
    array_path: pattern B/C/D source array inside data (pattern C: the
    member hrefs, an array of strings).
    child_id: pattern B's output name for the array position (the
    reference parses it out of ``files[3].x`` path strings); None when
    the reference replaces it with an element field.
    where: SQL predicate over the projected rows of the day, applied
    before the merge (the reference splits one scan into two tables by
    origin, ProcessDaily.usql:1747-1763).
    """

    table: str
    pattern: str
    entity_filter: str
    fields: tuple[Field, ...]
    key: tuple[str, ...] = ("EtlSourceId",)
    array_path: str | None = None
    child_id: str | None = None
    element_fields: tuple[Field, ...] = ()
    where: str | None = None
    ref: str = ""


# Collection-page links every pattern C spec reads
# (reference USQL/ProcessDaily.usql:39-61).
ORIGIN_PATH = "_metadata.links.origin.href"
UNIQUE_PATH = "_metadata.links.unique.href"
RESOURCES_PATH = "_metadata.links.resources.hrefs"


def embed(name: str, path: str, group: tuple[Field, ...]) -> tuple[Field, ...]:
    """``group`` as an object embedded at ``path``: every column name
    gains the prefix ``name`` and every path the prefix ``path``."""
    return tuple(Field(name + f.name, f"{path}.{f.path}", f.type) for f in group)


# -- The shared GitHub API objects, each declared once (module docstring).

# The user summary: Commit's Author*/Committer* (reference
# USQL/ProcessDaily.usql:98-129) and every other user a table embeds.
USER = (
    Field('Id', 'id', 'long'),
    Field('Login', 'login'),
    Field('SiteAdmin', 'site_admin', 'boolean'),
    Field('Type', 'type'),
)

# The repository summary: Repo's Parent*/Source* (reference
# USQL/ProcessDaily.usql:2506-2745) and the repo of a pull request branch.
REPOSITORY = (
    Field('CreatedAt', 'created_at', 'timestamp'),
    Field('DefaultBranch', 'default_branch'),
    Field('Description', 'description'),
    Field('Fork', 'fork', 'boolean'),
    Field('Forks', 'forks', 'long'),
    Field('ForksCount', 'forks_count', 'long'),
    Field('FullName', 'full_name'),
    Field('HasDownloads', 'has_downloads', 'boolean'),
    Field('HasIssues', 'has_issues', 'boolean'),
    Field('HasPages', 'has_pages', 'boolean'),
    Field('HasWiki', 'has_wiki', 'boolean'),
    Field('Homepage', 'homepage'),
    Field('Id', 'id', 'long'),
    Field('Language', 'language'),
    Field('Name', 'name'),
    Field('OpenIssues', 'open_issues', 'long'),
    Field('OpenIssuesCount', 'open_issues_count', 'long'),
    *embed('Owner', 'owner', USER),
    Field('Private', 'private', 'boolean'),
    Field('PushedAt', 'pushed_at', 'timestamp'),
    Field('Size', 'size', 'long'),
    Field('StargazersCount', 'stargazers_count', 'long'),
    Field('UpdatedAt', 'updated_at', 'timestamp'),
    Field('Watchers', 'watchers', 'long'),
    Field('WatchersCount', 'watchers_count', 'long'),
)

# A pull request's base or head branch: PullRequest's Base*/Head*
# (reference USQL/ProcessDaily.usql:1963-2266).
BRANCH = (
    Field('Label', 'label'),
    Field('Ref', 'ref'),
    *embed('Repo', 'repo', REPOSITORY),
    Field('Sha', 'sha'),
    *embed('User', 'user', USER),
)

# An issue's or pull request's milestone: Issue's Milestone* (reference
# USQL/ProcessDaily.usql:1455-1570).
MILESTONE = (
    Field('ClosedAt', 'closed_at', 'timestamp'),
    Field('ClosedIssues', 'closed_issues', 'long'),
    Field('CreatedAt', 'created_at', 'timestamp'),
    *embed('Creator', 'creator', USER),
    Field('Description', 'description'),
    Field('DueOn', 'due_on', 'timestamp'),
    Field('Id', 'id', 'long'),
    Field('Number', 'number', 'long'),
    Field('OpenIssues', 'open_issues', 'long'),
    Field('State', 'state'),
    Field('Title', 'title'),
    Field('UpdatedAt', 'updated_at', 'timestamp'),
)

# A commit as Commit and PullRequestCommit both read it (reference
# USQL/ProcessDaily.usql:98-129 and :2271-2356).
COMMIT = (
    Field('CommitSha', 'sha'),
    Field('Url', 'url'),
    *embed('Author', 'author', USER),
    Field('CommitAuthorDate', 'commit.author.date', 'timestamp'),
    Field('CommitAuthorEmail', 'commit.author.email', 'pii'),
    Field('CommitAuthorName', 'commit.author.name', 'pii'),
    Field('CommitCommentCount', 'commit.comment_count', 'long'),
    Field('CommitCommitterDate', 'commit.committer.date', 'timestamp'),
    Field('CommitCommitterEmail', 'commit.committer.email', 'pii'),
    Field('CommitCommitterName', 'commit.committer.name', 'pii'),
    Field('CommitMessage', 'commit.message'),
    Field('CommitTreeSha', 'commit.tree.sha'),
    *embed('Committer', 'committer', USER),
    Field('StatsAdditions', 'stats.additions', 'long'),
    Field('StatsDeletions', 'stats.deletions', 'long'),
    Field('StatsTotal', 'stats.total', 'long'),
)


# The Repo table's columns (reference USQL/ProcessDaily.usql:2506-2745);
# RepoLog keeps every version of the same projection (:2747-2859).
REPO_FIELDS = (
    Field('OwnerUrn', '_metadata.links.owner.href'),
    Field('SiblingsUrn', '_metadata.links.siblings.href'),
    Field('Name', 'name'),
    Field('RepoId', 'id', 'long'),
    Field('OwnerLogin', 'owner.login'),
    Field('CreatedAt', 'created_at', 'timestamp'),
    Field('DefaultBranch', 'default_branch'),
    Field('Description', 'description'),
    Field('Fork', 'fork', 'boolean'),
    Field('Forks', 'forks', 'long'),
    Field('ForksCount', 'forks_count', 'long'),
    Field('FullName', 'full_name'),
    Field('HasDownloads', 'has_downloads', 'boolean'),
    Field('HasIssues', 'has_issues', 'boolean'),
    Field('HasPages', 'has_pages', 'boolean'),
    Field('HasWiki', 'has_wiki', 'boolean'),
    Field('Homepage', 'homepage'),
    Field('Language', 'language'),
    Field('NetworkCount', 'network_count', 'long'),
    Field('OpenIssues', 'open_issues', 'long'),
    Field('OpenIssuesCount', 'open_issues_count', 'long'),
    *embed('Organization', 'organization', USER),
    Field('OwnerId', 'owner.id', 'long'),
    Field('OwnerSiteAdmin', 'owner.site_admin', 'boolean'),
    Field('OwnerType', 'owner.type'),
    *embed('Parent', 'parent', REPOSITORY),
    Field('PermissionsAdmin', 'permissions.admin', 'boolean'),
    Field('PermissionsPull', 'permissions.pull', 'boolean'),
    Field('PermissionsPush', 'permissions.push', 'boolean'),
    Field('IsPrivate', 'private', 'boolean'),
    Field('PushedAt', 'pushed_at', 'timestamp'),
    Field('Size', 'size', 'long'),
    *embed('Source', 'source', REPOSITORY),
    Field('StargazersCount', 'stargazers_count', 'long'),
    Field('SubscribersCount', 'subscribers_count', 'long'),
    Field('UpdatedAt', 'updated_at', 'timestamp'),
    Field('Watchers', 'watchers', 'long'),
    Field('WatchersCount', 'watchers_count', 'long'),
    Field('TeamsPageUrn', '_metadata.links.teams.href'),
    Field('CollaboratorsPageUrn', '_metadata.links.collaborators.href'),
    Field('ContributorsPageUrn', '_metadata.links.contributors.href'),
    Field('SubscribersPageUrn', '_metadata.links.subscribers.href'),
    Field('IssuesUrn', '_metadata.links.issues.href'),
    Field('CommitsUrn', '_metadata.links.commits.href'),
    Field('SchemaVersion', '_metadata.version', 'long'),
)


CATALOG: tuple[EntitySpec, ...] = (
    # -- Pattern A: scalar entity snapshots (full reference-name column
    #    lists, mechanically reconciled against the CTAS select lists in
    #    /root/reference/USQL/CreateAndInitialize*.usql) ----------------
    EntitySpec(
        table='Commit',
        pattern='A',
        entity_filter="entity_name = 'commit'",
        ref="/root/reference/USQL/ProcessDaily.usql:98-177",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            *COMMIT,
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='CommitComment',
        pattern='A',
        entity_filter="entity_name = 'commit_comment'",
        ref="/root/reference/USQL/ProcessDaily.usql:184-245",
        fields=(
            Field('CommitUrn', '_metadata.links.commit.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('CommitSha', 'commit_id'),
            Field('CommitCommentId', 'id', 'long'),
            Field('Body', 'body'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('Line', 'line', 'long'),
            Field('Path', 'path'),
            Field('Position', 'position', 'long'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('User', 'user', USER),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='Issue',
        pattern='A',
        entity_filter="entity_name = 'issue'",
        ref="/root/reference/USQL/ProcessDaily.usql:1455-1570",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('Number', 'number', 'long'),
            Field('IssueId', 'id', 'long'),
            *embed('Assignee', 'assignee', USER),
            Field('Body', 'body'),
            Field('ClosedAt', 'closed_at', 'timestamp'),
            *embed('ClosedBy', 'closed_by', USER),
            Field('Comments', 'comments', 'long'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('Locked', 'locked', 'boolean'),
            *embed('Milestone', 'milestone', MILESTONE),
            Field('PullRequestUrl', 'pull_request.url'),
            Field('State', 'state'),
            Field('Title', 'title'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('User', 'user', USER),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('ClosedByUrn', '_metadata.links.closed_by.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='IssueComment',
        pattern='A',
        entity_filter="entity_name = 'issue_comment'",
        ref="/root/reference/USQL/ProcessDaily.usql:1577-1630",
        fields=(
            Field('IssueUrn', '_metadata.links.issue.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('IssueCommentId', 'id', 'long'),
            Field('Body', 'body'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('User', 'user', USER),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='Org',
        pattern='A',
        entity_filter="entity_name = 'org'",
        ref="/root/reference/USQL/ProcessDaily.usql:1864-1955",
        fields=(
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('Login', 'login'),
            Field('Url', 'url'),
            Field('OrgId', 'id', 'long'),
            Field('Description', 'description'),
            Field('Name', 'name'),
            Field('Company', 'company'),
            Field('Blog', 'blog'),
            Field('Email', 'email', 'pii'),
            Field('PublicRepos', 'public_repos', 'long'),
            Field('PublicGists', 'public_gists', 'long'),
            Field('Followers', 'followers', 'long'),
            Field('Following', 'following', 'long'),
            Field('HtmlUrl', 'html_url'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            Field('Type', 'type'),
            Field('TotalPrivateRepos', 'total_private_repos', 'long'),
            Field('OwnedPrivateRepos', 'owned_private_repos', 'long'),
            Field('PrivateGists', 'private_gists', 'long'),
            Field('DiskUsage', 'disk_usage', 'long'),
            Field('Collaborators', 'collaborators', 'long'),
            Field('BillingEmail', 'billing_email', 'pii'),
            Field('PlanName', 'plan.name'),
            Field('PlanSpace', 'plan.space', 'long'),
            Field('PlanFilledSeats', 'plan.filled_seats', 'long'),
            Field('PlanSeats', 'plan.seats', 'long'),
            Field('ReposUrn', '_metadata.links.repos.href'),
            Field('MembersUrn', '_metadata.links.members.href'),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='PullRequest',
        pattern='A',
        entity_filter="entity_name = 'pull_request'",
        ref="/root/reference/USQL/ProcessDaily.usql:1963-2266",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('Number', 'number', 'long'),
            Field('PullRequestId', 'id', 'long'),
            Field('LinksCommentsHref', '_links.comments.href'),
            Field('LinksCommitsHref', '_links.commits.href'),
            Field('LinksHtmlHref', '_links.html.href'),
            Field('LinksIssueHref', '_links.issue.href'),
            Field('LinksReviewCommentHref', '_links.review_comment.href'),
            Field('LinksReviewCommentsHref', '_links.review_comments.href'),
            Field('LinksSelfHref', '_links.self.href'),
            Field('LinksStatusesHref', '_links.statuses.href'),
            Field('Additions', 'additions', 'long'),
            *embed('Assignee', 'assignee', USER),
            *embed('Base', 'base', BRANCH),
            Field('Body', 'body'),
            Field('ChangedFiles', 'changed_files', 'long'),
            Field('ClosedAt', 'closed_at', 'timestamp'),
            Field('Comments', 'comments', 'long'),
            Field('Commits', 'commits', 'long'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('Deletions', 'deletions', 'long'),
            *embed('Head', 'head', BRANCH),
            Field('Locked', 'locked', 'boolean'),
            Field('MergeCommitSha', 'merge_commit_sha'),
            Field('Mergeable', 'mergeable', 'boolean'),
            Field('MergeableState', 'mergeable_state'),
            Field('Merged', 'merged', 'boolean'),
            Field('MergedAt', 'merged_at', 'timestamp'),
            *embed('MergedBy', 'merged_by', USER),
            *embed('Milestone', 'milestone', MILESTONE),
            Field('ReviewComments', 'review_comments', 'long'),
            Field('State', 'state'),
            Field('Title', 'title'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('User', 'user', USER),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('MergedByUrn', '_metadata.links.merged_by.href'),
            Field('AssigneeUrn', '_metadata.links.assignee.href'),
            Field('HeadUrn', '_metadata.links.head.href'),
            Field('BaseUrn', '_metadata.links.base.href'),
            Field('StatusesUrn', '_metadata.links.statuses.href'),
            Field('CommitsUrn', '_metadata.links.commits.href'),
            Field('IssueUrn', '_metadata.links.issue.href'),
            Field('IssueCommentsUrn', '_metadata.links.issue_comments.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='PullRequestCommit',
        pattern='A',
        entity_filter="entity_name = 'pull_request_commit'",
        ref="/root/reference/USQL/ProcessDaily.usql:2271-2356",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('PullRequestUrn', '_metadata.links.pull_request.href'),
            *COMMIT,
            Field('CommitCommentsUrn', '_metadata.links.pull_request_commit_comments.href'),
            Field('AuthorUrn', '_metadata.links.author.href'),
            Field('CommitterUrn', '_metadata.links.committer.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='PullRequestCommitComment',
        pattern='A',
        entity_filter="entity_name = 'pull_request_commit_comment'",
        ref="/root/reference/USQL/ProcessDaily.usql:2361-2422",
        fields=(
            Field('CommitUrn', '_metadata.links.pull_request_commit.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('CommitSha', 'commit_id'),
            Field('CommitCommentId', 'id', 'long'),
            Field('Body', 'body'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('Line', 'line', 'long'),
            Field('Path', 'path'),
            Field('Position', 'position', 'long'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('User', 'user', USER),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='PullRequestComment',
        pattern='A',
        entity_filter="entity_name = 'review_comment'",
        ref="/root/reference/USQL/ProcessDaily.usql:2428-2499",
        fields=(
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('PullRequestReviewId', 'pull_request_review_id', 'long'),
            Field('LinksHtmlHref', '_links.html.href'),
            Field('LinksPullRequestHref', '_links.pull_request.href'),
            Field('LinksSelfHref', '_links.self.href'),
            Field('Body', 'body'),
            Field('CommitId', 'commit_id'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('DiffHunk', 'diff_hunk'),
            Field('OriginalCommitId', 'original_commit_id'),
            Field('OriginalPosition', 'original_position', 'long'),
            Field('Path', 'path'),
            Field('Position', 'position', 'long'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('User', 'user', USER),
            Field('PullRequestUrn', '_metadata.links.pull_request.href'),
            Field('UserUrn', '_metadata.links.user.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='Repo',
        pattern='A',
        entity_filter="entity_name = 'repo'",
        ref="/root/reference/USQL/ProcessDaily.usql:2506-2745",
        fields=REPO_FIELDS,
    ),
    EntitySpec(
        table='Team',
        pattern='A',
        entity_filter="entity_name = 'team'",
        ref="/root/reference/USQL/ProcessDaily.usql:3086-3147",
        fields=(
            Field('OrganizationUrn', '_metadata.links.org.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('TeamId', 'id', 'long'),
            Field('Name', 'name'),
            Field('Slug', 'slug'),
            Field('Description', 'description'),
            Field('Privacy', 'privacy'),
            Field('Url', 'url'),
            Field('Permission', 'permission'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            Field('MembersCount', 'members_count', 'long'),
            Field('ReposCount', 'repos_count', 'long'),
            Field('MembersUrn', '_metadata.links.members.href'),
            Field('ReposUrn', '_metadata.links.repos.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='User',
        pattern='A',
        entity_filter="entity_name = 'user'",
        ref="/root/reference/USQL/ProcessDaily.usql:3153-3220",
        fields=(
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('Login', 'login'),
            Field('UserId', 'id', 'long'),
            Field('Bio', 'bio'),
            Field('Blog', 'blog', 'pii'),
            Field('Company', 'company', 'pii'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('Email', 'email', 'pii'),
            Field('Followers', 'followers', 'long'),
            Field('Following', 'following', 'long'),
            Field('Hireable', 'hireable', 'boolean'),
            Field('Location', 'location'),
            Field('Name', 'name', 'pii'),
            Field('PublicGists', 'public_gists', 'long'),
            Field('PublicRepos', 'public_repos', 'long'),
            Field('SiteAdmin', 'site_admin', 'boolean'),
            Field('Type', 'type'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='Event',
        pattern='A',
        entity_filter="entity_name LIKE '%Event'",
        ref="/root/reference/USQL/ProcessDaily.usql:502-782",
        fields=(
            Field('ActorUrn', '_metadata.links.actor.href'),
            Field('SiblingsUrn', '_metadata.links.siblings.href'),
            Field('ActorId', 'actor.id', 'long'),
            Field('ActorLogin', 'actor.login'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('OrgId', 'org.id', 'long'),
            Field('OrgLogin', 'org.login'),
            Field('PayloadAction', 'payload.action'),
            Field('PayloadBefore', 'payload.before'),
            Field('PayloadCommentLinksHtmlHref', 'payload.comment._links.html.href'),
            Field('PayloadCommentLinksPullRequestHref', 'payload.comment._links.pull_request.href'),
            Field('PayloadCommentLinksSelfHref', 'payload.comment._links.self.href'),
            Field('PayloadCommentBody', 'payload.comment.body'),
            Field('PayloadCommentCommitId', 'payload.comment.commit_id'),
            Field('PayloadCommentCreatedAt', 'payload.comment.created_at', 'timestamp'),
            Field('PayloadCommentDiffHunk', 'payload.comment.diff_hunk'),
            Field('PayloadCommentId', 'payload.comment.id', 'long'),
            Field('PayloadCommentLine', 'payload.comment.line', 'long'),
            Field('PayloadCommentOriginalCommitId', 'payload.comment.original_commit_id'),
            Field('PayloadCommentOriginalPosition', 'payload.comment.original_position', 'long'),
            Field('PayloadCommentPath', 'payload.comment.path'),
            Field('PayloadCommentPosition', 'payload.comment.position', 'long'),
            Field('PayloadCommentUpdatedAt', 'payload.comment.updated_at', 'timestamp'),
            *embed('PayloadCommentUser', 'payload.comment.user', USER),
            Field('PayloadDescription', 'payload.description'),
            Field('PayloadDistinctSize', 'payload.distinct_size', 'long'),
            Field('PayloadForkeeCreatedAt', 'payload.forkee.created_at', 'timestamp'),
            Field('PayloadForkeeDefaultBranch', 'payload.forkee.default_branch'),
            Field('PayloadForkeeDescription', 'payload.forkee.description'),
            Field('PayloadForkeeFork', 'payload.forkee.fork', 'boolean'),
            Field('PayloadForkeeForks', 'payload.forkee.forks', 'long'),
            Field('PayloadForkeeForksCount', 'payload.forkee.forks_count', 'long'),
            Field('PayloadForkeeFullName', 'payload.forkee.full_name'),
            Field('PayloadForkeeHasDownloads', 'payload.forkee.has_downloads', 'boolean'),
            Field('PayloadForkeeHasIssues', 'payload.forkee.has_issues', 'boolean'),
            Field('PayloadForkeeHasPages', 'payload.forkee.has_pages', 'boolean'),
            Field('PayloadForkeeHasWiki', 'payload.forkee.has_wiki', 'boolean'),
            Field('PayloadForkeeHomepage', 'payload.forkee.homepage'),
            Field('PayloadForkeeId', 'payload.forkee.id', 'long'),
            Field('PayloadForkeeLanguage', 'payload.forkee.language'),
            Field('PayloadForkeeName', 'payload.forkee.name'),
            Field('PayloadForkeeOpenIssues', 'payload.forkee.open_issues', 'long'),
            Field('PayloadForkeeOpenIssuesCount', 'payload.forkee.open_issues_count', 'long'),
            *embed('PayloadForkeeOwner', 'payload.forkee.owner', USER),
            Field('PayloadForkeePrivate', 'payload.forkee.private', 'boolean'),
            Field('PayloadForkeePublic', 'payload.forkee.public', 'boolean'),
            Field('PayloadForkeePushedAt', 'payload.forkee.pushed_at', 'timestamp'),
            Field('PayloadForkeeSize', 'payload.forkee.size', 'long'),
            Field('PayloadForkeeStargazersCount', 'payload.forkee.stargazers_count', 'long'),
            Field('PayloadForkeeUpdatedAt', 'payload.forkee.updated_at', 'timestamp'),
            Field('PayloadForkeeWatchers', 'payload.forkee.watchers', 'long'),
            Field('PayloadForkeeWatchersCount', 'payload.forkee.watchers_count', 'long'),
            Field('PayloadHead', 'payload.head'),
            *embed('PayloadIssueAssignee', 'payload.issue.assignee', USER),
            Field('PayloadIssueBody', 'payload.issue.body'),
            Field('PayloadIssueClosedAt', 'payload.issue.closed_at', 'timestamp'),
            Field('PayloadIssueComments', 'payload.issue.comments', 'long'),
            Field('PayloadIssueCreatedAt', 'payload.issue.created_at', 'timestamp'),
            Field('PayloadIssueId', 'payload.issue.id', 'long'),
            Field('PayloadIssueLocked', 'payload.issue.locked', 'boolean'),
            *embed('PayloadIssueMilestone', 'payload.issue.milestone', MILESTONE),
            Field('PayloadIssueNumber', 'payload.issue.number', 'long'),
            Field('PayloadIssueState', 'payload.issue.state'),
            Field('PayloadIssueTitle', 'payload.issue.title'),
            Field('PayloadIssueUpdatedAt', 'payload.issue.updated_at', 'timestamp'),
            *embed('PayloadIssueUser', 'payload.issue.user', USER),
            Field('PayloadMasterBranch', 'payload.master_branch'),
            *embed('PayloadMember', 'payload.member', USER),
            Field('PayloadNumber', 'payload.number', 'long'),
            Field('PayloadPushId', 'payload.push_id', 'long'),
            Field('PayloadPusherType', 'payload.pusher_type'),
            Field('PayloadRef', 'payload.ref'),
            Field('PayloadRefType', 'payload.ref_type'),
            *embed('PayloadReleaseAuthor', 'payload.release.author', USER),
            Field('PayloadReleaseBody', 'payload.release.body'),
            Field('PayloadReleaseCreatedAt', 'payload.release.created_at', 'timestamp'),
            Field('PayloadReleaseDraft', 'payload.release.draft', 'boolean'),
            Field('PayloadReleaseId', 'payload.release.id', 'long'),
            Field('PayloadReleaseName', 'payload.release.name'),
            Field('PayloadReleasePrerelease', 'payload.release.prerelease', 'boolean'),
            Field('PayloadReleasePublishedAt', 'payload.release.published_at', 'timestamp'),
            Field('PayloadReleaseTagName', 'payload.release.tag_name'),
            Field('PayloadReleaseTargetCommitish', 'payload.release.target_commitish'),
            Field('PayloadSize', 'payload.size', 'long'),
            Field('IsPublic', 'public', 'boolean'),
            Field('RepoId', 'repo.id', 'long'),
            Field('RepoName', 'repo.name'),
            Field('Type', 'type'),
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('OrgUrn', '_metadata.links.org.href'),
            Field('IssueUrn', '_metadata.links.issue.href'),
            Field('PullRequestUrn', '_metadata.links.pull_request.href'),
            Field('CommentUrn', '_metadata.links.comment.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    EntitySpec(
        table='EventPayloadPullRequest',
        pattern='A',
        entity_filter="entity_name LIKE 'PullRequest%Event'",
        key=('EventUrn',),
        ref="/root/reference/USQL/ProcessDaily.usql:1078-1343",
        fields=(
            Field('EventUrn', '_metadata.links.self.href'),
            Field('EventPayloadPullRequestId', 'payload.pull_request.id', 'long'),
            Field('Additions', 'payload.pull_request.additions', 'long'),
            *embed('Assignee', 'payload.pull_request.assignee', USER),
            *embed('Base', 'payload.pull_request.base', BRANCH),
            Field('Body', 'payload.pull_request.body'),
            Field('ChangedFiles', 'payload.pull_request.changed_files', 'long'),
            Field('ClosedAt', 'payload.pull_request.closed_at', 'timestamp'),
            Field('Comments', 'payload.pull_request.comments', 'long'),
            Field('Commits', 'payload.pull_request.commits', 'long'),
            Field('CreatedAt', 'payload.pull_request.created_at', 'timestamp'),
            Field('Deletions', 'payload.pull_request.deletions', 'long'),
            *embed('Head', 'payload.pull_request.head', BRANCH),
            Field('Locked', 'payload.pull_request.locked', 'boolean'),
            Field('MergeCommitSha', 'payload.pull_request.merge_commit_sha'),
            Field('Mergeable', 'payload.pull_request.mergeable', 'boolean'),
            Field('MergeableState', 'payload.pull_request.mergeable_state'),
            Field('Merged', 'payload.pull_request.merged', 'boolean'),
            Field('MergedAt', 'payload.pull_request.merged_at', 'timestamp'),
            *embed('MergedBy', 'payload.pull_request.merged_by', USER),
            *embed('Milestone', 'payload.pull_request.milestone', MILESTONE),
            Field('Number', 'payload.pull_request.number', 'long'),
            Field('ReviewComments', 'payload.pull_request.review_comments', 'long'),
            Field('State', 'payload.pull_request.state'),
            Field('Title', 'payload.pull_request.title'),
            Field('UpdatedAt', 'payload.pull_request.updated_at', 'timestamp'),
            *embed('User', 'payload.pull_request.user', USER),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
    ),
    # -- Pattern B: nested-array child tables --------------------------
    EntitySpec(
        table='CommitFile',
        pattern='B',
        entity_filter="entity_name = 'commit'",
        array_path='files',
        child_id='CommitFileId',
        ref="/root/reference/USQL/ProcessDaily.usql:252-351",
        fields=(
            Field('CommitUrn', '_metadata.links.self.href'),
            Field('CommitSha', 'sha'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('CommitFileSha', 'sha'),
            Field('FileName', 'filename'),
            Field('Status', 'status'),
            Field('Additions', 'additions', 'long'),
            Field('Deletions', 'deletions', 'long'),
            Field('Changes', 'changes', 'long'),
        ),
    ),
    EntitySpec(
        table='CommitParent',
        pattern='B',
        entity_filter="entity_name = 'commit'",
        array_path='parents',
        child_id='CommitParentId',
        ref="/root/reference/USQL/ProcessDaily.usql:359-421",
        fields=(
            Field('CommitUrn', '_metadata.links.self.href'),
            Field('CommitSha', 'sha'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('CommitParentSha', 'sha'),
        ),
    ),
    EntitySpec(
        table='EventPayloadCommit',
        pattern='B',
        entity_filter="entity_name = 'PushEvent'",
        array_path='payload.commits',
        child_id='EventPayloadCommitId',
        key=('EventUrn',),
        ref="/root/reference/USQL/ProcessDaily.usql:788-875",
        fields=(
            Field('EventUrn', '_metadata.links.self.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('EventPayloadCommitSha', 'sha'),
            Field('AuthorEmail', 'author.email', 'pii'),
            Field('AuthorName', 'author.name', 'pii'),
            Field('Distinct', 'distinct', 'boolean'),
            Field('Message', 'message'),
        ),
    ),
    EntitySpec(
        table='EventPayloadIssueLabel',
        pattern='B',
        entity_filter="entity_name IN ('IssueEvent', 'IssueCommentEvent')",
        array_path='payload.issue.labels',
        child_id='EventPayloadIssueLabelId',
        key=('EventUrn',),
        ref="/root/reference/USQL/ProcessDaily.usql:882-965",
        fields=(
            Field('EventUrn', '_metadata.links.self.href'),
            Field('EventId', 'id', 'long'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('Color', 'color'),
            Field('Name', 'name'),
        ),
    ),
    EntitySpec(
        table='EventPayloadPage',
        pattern='B',
        entity_filter="entity_name = 'GollumEvent'",
        array_path='payload.pages',
        child_id='EventPayloadPageId',
        key=('EventUrn',),
        ref="/root/reference/USQL/ProcessDaily.usql:971-1071",
        fields=(
            Field('EventUrn', '_metadata.links.self.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('EventPayloadPageSha', 'sha'),
            Field('Action', 'action'),
            Field('PageName', 'page_name'),
            Field('Summary', 'summary'),
            Field('Title', 'title'),
        ),
    ),
    EntitySpec(
        table='EventPayloadReleaseAsset',
        pattern='B',
        entity_filter="entity_name = 'ReleaseEvent'",
        array_path='payload.release.assets',
        key=('EventUrn',),
        ref="/root/reference/USQL/ProcessDaily.usql:1348-1449",
        fields=(
            Field('EventUrn', '_metadata.links.self.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('EventPayloadReleaseAssetId', 'id', 'long'),
            Field('ContentType', 'content_type'),
            Field('CreatedAt', 'created_at', 'timestamp'),
            Field('DownloadCount', 'download_count', 'long'),
            Field('Name', 'name'),
            Field('Size', 'size', 'long'),
            Field('State', 'state'),
            Field('UpdatedAt', 'updated_at', 'timestamp'),
            *embed('Uploader', 'uploader', USER),
        ),
    ),
    EntitySpec(
        table='IssueLabel',
        pattern='B',
        entity_filter="entity_name = 'issue'",
        array_path='labels',
        child_id='IssueLabelId',
        key=('IssueUrn',),
        ref="/root/reference/USQL/ProcessDaily.usql:1636-1726",
        fields=(
            Field('IssueUrn', '_metadata.links.self.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('Color', 'color'),
            Field('Name', 'name'),
        ),
    ),
    # -- Pattern C: collection membership (output = OriginUrn, MemberUrn,
    #    FetchedAt, ProcessedAt, EtlIngestDate, UniqueUrn - e.g.
    #    /root/reference/USQL/ProcessDaily.usql:82-91) ---------------------
    EntitySpec(
        table='RepoCollaborators',
        pattern='C',
        entity_filter="entity_name = 'collaborators'",
        key=('RepoUrn', 'UserUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:20-91",
        array_path=RESOURCES_PATH,
        fields=(
            Field('RepoUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
    ),
    EntitySpec(
        table='RepoContributors',
        pattern='C',
        entity_filter="entity_name = 'contributors'",
        key=('RepoUrn', 'UserUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:428-494",
        array_path=RESOURCES_PATH,
        fields=(
            Field('RepoUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
    ),
    EntitySpec(
        table='RepoStargazers',
        pattern='C',
        entity_filter="entity_name = 'stargazers'",
        key=('RepoUrn', 'UserUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:2939-3007",
        array_path=RESOURCES_PATH,
        fields=(
            Field('RepoUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
    ),
    EntitySpec(
        table='RepoSubscribers',
        pattern='C',
        entity_filter="entity_name = 'subscribers'",
        key=('RepoUrn', 'UserUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:3013-3080",
        array_path=RESOURCES_PATH,
        fields=(
            Field('RepoUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
    ),
    EntitySpec(
        table='RepoTeams',
        pattern='C',
        entity_filter="entity_name = 'teams'",
        key=('RepoUrn', 'TeamUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:2865-2932",
        array_path=RESOURCES_PATH,
        fields=(
            Field('RepoUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
    ),
    EntitySpec(
        table='OrgMembers',
        pattern='C',
        entity_filter="entity_name = 'members'",
        key=('OrgUrn', 'UserUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:1732-1829",
        array_path=RESOURCES_PATH,
        fields=(
            Field('OrgUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
        where="OrgUrn LIKE '%:org:%'",
    ),
    EntitySpec(
        table='TeamMembers',
        pattern='C',
        entity_filter="entity_name = 'members'",
        key=('TeamUrn', 'UserUrn'),
        ref="/root/reference/USQL/ProcessDaily.usql:1831-1859",
        array_path=RESOURCES_PATH,
        fields=(
            Field('TeamUrn', ORIGIN_PATH),
            Field('UniqueUrn', UNIQUE_PATH),
        ),
        where="TeamUrn LIKE '%:team:%'",
    ),
    # -- Pattern D: traffic time-series, pattern A over the exploded
    #    series: one row per element, the latest fetch wins per key. The
    #    reference's Referrers/Paths ROW_NUMBER has no ORDER BY (W2/Q2,
    #    ProcessDaily.usql:3387), so the latest-wins pick is one of the
    #    rows it allows ------------------------------------------------
    EntitySpec(
        table='Clones',
        pattern='D',
        entity_filter="entity_name = 'clones'",
        array_path='clones',
        key=('RepoUrn', 'DataDate'),
        ref="/root/reference/USQL/ProcessDaily.usql:3227-3313",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('DataDate', 'timestamp', 'timestamp'),
            Field('Count', 'count', 'long'),
            Field('Uniques', 'uniques', 'long'),
        ),
    ),
    EntitySpec(
        table='Views',
        pattern='D',
        entity_filter="entity_name = 'views'",
        array_path='views',
        key=('RepoUrn', 'DataDate'),
        ref="/root/reference/USQL/ProcessDaily.usql:3505-3591",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('DataDate', 'timestamp', 'timestamp'),
            Field('Count', 'count', 'long'),
            Field('Uniques', 'uniques', 'long'),
        ),
    ),
    EntitySpec(
        table='Referrers',
        pattern='D',
        entity_filter="entity_name = 'referrers'",
        array_path='referrers',
        key=('RepoUrn', 'Referrer', 'ProcessedAt'),
        ref="/root/reference/USQL/ProcessDaily.usql:3318-3406",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('Referrer', 'referrer'),
            Field('Count', 'count', 'long'),
            Field('Uniques', 'uniques', 'long'),
        ),
    ),
    EntitySpec(
        table='Paths',
        pattern='D',
        entity_filter="entity_name = 'paths'",
        array_path='paths',
        key=('RepoUrn', 'Path', 'ProcessedAt'),
        ref="/root/reference/USQL/ProcessDaily.usql:3411-3499",
        fields=(
            Field('RepoUrn', '_metadata.links.repo.href'),
            Field('SchemaVersion', '_metadata.version', 'long'),
        ),
        element_fields=(
            Field('Path', 'path'),
            Field('Title', 'title'),
            Field('Count', 'count', 'long'),
            Field('Uniques', 'uniques', 'long'),
        ),
    ),
    # -- Pattern E: version log (same projection as Repo, key keeps every
    #    observed version - /root/reference/USQL/ProcessDaily.usql:2747-2859)
    EntitySpec(
        table='RepoLog',
        pattern='E',
        entity_filter="entity_name = 'repo'",
        key=('EtlSourceId', 'UpdatedAt'),
        ref="/root/reference/USQL/ProcessDaily.usql:2747-2859",
        fields=REPO_FIELDS,
    ),
)


def spec_for(table: str) -> EntitySpec:
    for s in CATALOG:
        if s.table == table:
            return s
    raise KeyError(table)


_ELEMENT = "[]"  # path segment: the element of an array


def _spec_paths(spec: EntitySpec) -> list[str]:
    """The paths a spec reads; an array with no element fields is an
    array of strings."""
    paths = [f.path for f in spec.fields]
    if spec.array_path:
        element = f"{spec.array_path}.{_ELEMENT}"
        paths += [f"{element}.{f.path}" for f in spec.element_fields] or [element]
    return paths


def _to_type(node: dict | None, path: str) -> T.DataType:
    if node is None:
        return T.StringType()
    if _ELEMENT in node:
        if len(node) > 1:
            raise ValueError(f"{path} is both an array and a struct")
        return T.ArrayType(_to_type(node[_ELEMENT], path))
    return T.StructType(
        [T.StructField(k, _to_type(v, f"{path}.{k}")) for k, v in node.items()]
    )


def entity_schemas(specs: tuple[EntitySpec, ...]) -> dict[str, T.StructType]:
    """``entity_filter`` -> the ``from_json`` schema of the specs that
    share it: the union of the paths they read, every leaf a string.

    The projector's ``try_cast`` types the leaves. Spark's JSON reader
    hands a number, boolean, object or array read into a string leaf
    over as its JSON text, so ``123`` and ``"123"`` both type as 123.
    Raises ``ValueError`` when a path is a leaf in one spec and a struct
    or array in another."""
    trees: dict[str, dict] = {}
    for spec in specs:
        tree = trees.setdefault(spec.entity_filter, {})
        for path in _spec_paths(spec):
            node, *parts, last = [tree] + path.split(".")
            for part in parts:
                node = node.setdefault(part, {})
                if node is None:
                    raise ValueError(f"{path}: {part} is both a leaf and a struct")
            if node.setdefault(last, None) is not None:
                raise ValueError(f"{path} is both a leaf and a struct")
    return {k: _to_type(tree, "data") for k, tree in trees.items()}


# Built once, at import: a conflicting catalog edit fails here, not on
# some later crawl day.
ENTITY_SCHEMAS = entity_schemas(CATALOG)
