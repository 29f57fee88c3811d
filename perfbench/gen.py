"""Deterministic, seeded GHCrawler corpus generator and its ground truth.

``CrawlGenerator.day()`` emits one crawl day of JSON-lines documents that
feed every entity family of the catalog: the 12 scalar entities, nine
``*Event`` types (so the ``%Event`` / ``PullRequest%Event`` / ``isin``
filters overlap), the seven collection families and the four traffic
families. Every day mixes new keys with same-day and cross-day re-crawls
(skewed toward popular repos), a few ``deletedAt > processedAt`` docs,
overlapping 14-day traffic windows, shrinking collection pages, repo
versions for RepoLog and a handful of malformed lines.

``Truth`` replays the generated days with the documented semantics of
the five patterns and yields the row count every curated table must
have. The package never sees this module: it receives only the files.

Field paths come from ``catalog_fields.json``, a frozen copy of the
entity specs, so a later edit to the package's catalog does not change
the benchmark's inputs.
"""

from __future__ import annotations

import json
import os
import bisect
import random
from datetime import datetime, timedelta, timezone
from string import Template

HERE = os.path.dirname(os.path.abspath(__file__))
SPECS = json.load(open(os.path.join(HERE, "catalog_fields.json")))

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# document type -> share of a day's documents
MIX = {
    "repo": 6, "user": 5, "org": 1, "team": 1, "commit": 12,
    "commit_comment": 3, "issue": 7, "issue_comment": 6, "pull_request": 5,
    "pull_request_commit": 3, "pull_request_commit_comment": 2,
    "review_comment": 3,
    "PushEvent": 6, "IssueEvent": 3, "IssueCommentEvent": 3,
    "GollumEvent": 2, "ReleaseEvent": 2, "PullRequestEvent": 3,
    "PullRequestReviewCommentEvent": 2, "WatchEvent": 2, "ForkEvent": 2,
    "collaborators": 2, "contributors": 2, "stargazers": 2,
    "subscribers": 1, "teams": 1, "members": 2,
    "clones": 1, "views": 1, "referrers": 1, "paths": 1,
}
COLLECTIONS = ("collaborators", "contributors", "stargazers", "subscribers", "teams")
TRAFFIC_WINDOW = ("clones", "views")
TRAFFIC_LIST = ("referrers", "paths")
EVENTS = tuple(t for t in MIX if t.endswith("Event"))
REPO_CHILDREN = tuple(
    t for t in MIX
    if t not in ("repo", "user", "org", "team", "members") + COLLECTIONS
    + TRAFFIC_WINDOW + TRAFFIC_LIST
)
MALFORMED = (
    '{"_metadata": {"type": "repo", "fetchedAt": "2024-01-01T00:00:00Z"',
    "not json at all",
    '{"_metadata": {"type": "user"}, "login": "no-self-link"}',
)


def ts(ms: int) -> str:
    """ISO-8601 UTC with milliseconds, as GHCrawler writes it."""
    return (EPOCH + timedelta(milliseconds=ms)).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def ingest_date(day: int) -> str:
    return (EPOCH + timedelta(days=day)).strftime("%Y-%m-%d")


def _matches(flt, typ: str) -> bool:
    op, val = flt
    if op == "eq":
        return typ == val
    if op == "isin":
        return typ in val
    pre, _, post = val.partition("%")  # 'like' with one '%'
    return typ.startswith(pre) and typ.endswith(post) and len(typ) >= len(pre + post)


def _put(doc: dict, path: str, value) -> None:
    """Set a dotted path unless it collides with a leaf or subtree."""
    parts = path.split(".")
    for p in parts[:-1]:
        nxt = doc.setdefault(p, {})
        if not isinstance(nxt, dict):
            return
        doc = nxt
    if parts[-1] not in doc:
        doc[parts[-1]] = value


def _filler(path: str, typ: str):
    leaf = path.rsplit(".", 1)[-1]
    if typ == "long":
        return "@@n@@"
    if typ == "boolean":
        return False
    if typ == "timestamp":
        return "@@ts@@"
    if typ == "pii":
        return f"{leaf}-@@k@@@example.com"
    return f"{leaf}-@@k@@"


def _template(doc: dict) -> Template:
    text = json.dumps(doc, separators=(",", ":"))
    for name in ("self", "repo", "origin", "unique", "res", "arr0", "arr1",
                 "deleted", "fetched", "processed", "ts", "n", "id", "updated",
                 "name", "owner", "number", "sha", "type"):
        text = text.replace(f'"@@{name}@@"', "${" + name + "}")
    return Template(text.replace("@@k@@", "${k}"))


def _build_templates() -> dict[str, tuple[Template, dict]]:
    """One JSON template per document type: the union of the fields of
    every spec whose entity filter matches the type."""
    out = {}
    for typ in MIX:
        doc: dict = {"_metadata": {
            "type": "@@type@@", "fetchedAt": "@@fetched@@",
            "processedAt": "@@processed@@", "deletedAt": "@@deleted@@",
            "version": 1, "links": {"self": {"href": "@@self@@"}},
        }}
        arrays = {}
        for spec in SPECS:
            if not _matches(spec["filter"], typ):
                continue
            if spec["array_path"]:
                arrays[spec["array_path"]] = spec["element_fields"]
        for spec in SPECS:
            if _matches(spec["filter"], typ):
                for path, ftyp in spec["fields"]:
                    if path in arrays:
                        continue
                    _put(doc, path, _filler(path, ftyp))
        links = doc["_metadata"]["links"]
        if typ in COLLECTIONS or typ == "members":
            links["origin"] = {"href": "@@origin@@"}
            links["unique"] = {"href": "@@unique@@"}
            links["resources"] = {"hrefs": "@@res@@"}
        elif typ not in ("repo", "user", "org", "team"):
            links.setdefault("repo", {})["href"] = "@@repo@@"
        if typ == "repo":
            doc.update(id="@@id@@", name="@@name@@", updated_at="@@updated@@")
            doc["owner"]["login"] = "@@owner@@"
        if typ in ("issue", "pull_request"):
            doc["number"] = "@@number@@"
        if typ in ("commit", "pull_request_commit"):
            doc["sha"] = "@@sha@@"
        elems = {}  # array path -> (placeholder, element template)
        for j, (path, fields) in enumerate(arrays.items()):
            parent = doc
            parts = path.split(".")
            for p in parts[:-1]:
                parent = parent.setdefault(p, {})
            parent[parts[-1]] = f"@@arr{j}@@"
            elem: dict = {}
            for fpath, ftyp in fields:
                _put(elem, fpath, _filler(fpath, ftyp))
            elems[path] = (f"arr{j}", json.dumps(elem, separators=(",", ":")))
        out[typ] = (_template(doc), elems)
    return out


class CrawlGenerator:
    """Seeded multi-day GHCrawler crawl.

    ``reuse`` is the share of a day's keyed documents that re-crawl an
    existing key; ``skew`` is the Zipf exponent of repo popularity (both
    re-crawls and new children land on popular repos more often).
    """

    def __init__(self, seed: int, n_repos: int = 400, reuse: float = 0.3,
                 skew: float = 1.1):
        self.rng = random.Random(seed)
        self.reuse = reuse
        self.n_repos = n_repos
        self.n_users = n_repos * 4
        self.n_orgs = max(4, n_repos // 20)
        self.n_teams = max(4, n_repos // 10)
        weights = [1.0 / (i + 1) ** skew for i in range(n_repos)]
        order = list(range(1, n_repos + 1))
        self.rng.shuffle(order)  # popularity rank is not the repo id
        self._repo_ids = order
        self._repo_cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self._repo_cum.append(acc)
        self.templates = _build_templates()
        self.keys: dict[str, list] = {t: [] for t in MIX}  # type -> [key]
        self.known: dict[str, dict] = {t: {} for t in MIX}  # type -> urn -> key
        self.by_repo: dict[str, dict] = {t: {} for t in MIX}  # type -> rid -> [key]
        self.repo_version: dict[int, int] = {}
        self.members: dict[str, list[str]] = {}  # collection urn -> members
        self.counter = 0
        self.days = 0

    def popular_repo(self) -> int:
        x = self.rng.random() * self._repo_cum[-1]
        return self._repo_ids[min(bisect.bisect(self._repo_cum, x), self.n_repos - 1)]

    @staticmethod
    def owner_name(rid: int) -> tuple[str, str]:
        return f"owner{rid % 97}", f"repo{rid}"

    def _new_key(self, typ: str) -> dict:
        c = self.counter
        if typ == "repo":
            rid = self.rng.randint(1, self.n_repos)
            return {"urn": f"urn:repo:{rid}", "rid": rid}
        if typ == "user":
            return {"urn": f"urn:user:{c}", "rid": 0}
        if typ in ("org", "team"):
            n = self.n_orgs if typ == "org" else self.n_teams
            return {"urn": f"urn:{typ}:{self.rng.randint(1, n)}", "rid": 0}
        if typ == "members":
            kind = self.rng.choice(("org", "team"))
            n = self.n_orgs if kind == "org" else self.n_teams
            origin = f"urn:{kind}:{self.rng.randint(1, n)}"
            return {"urn": origin + ":members", "rid": 0, "origin": origin}
        rid = self.popular_repo()
        if typ in COLLECTIONS + TRAFFIC_WINDOW + TRAFFIC_LIST:
            return {"urn": f"urn:repo:{rid}:{typ}", "rid": rid,
                    "origin": f"urn:repo:{rid}"}
        return {"urn": f"urn:repo:{rid}:{typ}:{c}", "rid": rid, "n": c}

    def _pick_key(self, typ: str, today: dict, reuse: float) -> dict:
        r = self.rng.random()
        if today[typ] and r < reuse * 0.3:
            return self.rng.choice(today[typ])  # same-day re-crawl
        if self.keys[typ] and r < reuse:
            # cross-day re-crawl, skewed toward popular repos
            of_repo = self.by_repo[typ].get(self.popular_repo())
            return self.rng.choice(of_repo or self.keys[typ])
        key = self._new_key(typ)
        if key["urn"] in self.known[typ]:
            return self.known[typ][key["urn"]]
        self.known[typ][key["urn"]] = key
        self.keys[typ].append(key)
        self.by_repo[typ].setdefault(key["rid"], []).append(key)
        return key

    def _array(self, elem_tpl: str, n: int) -> str:
        k = self.counter
        return "[" + ",".join(
            elem_tpl.replace("@@k@@", f"{k}-{i}").replace('"@@n@@"', str(i))
            .replace("@@ts@@", ts(i * 1000))
            for i in range(n)
        ) + "]"

    def day(self, n_docs: int, reuse: float | None = None,
            malformed: int = 3) -> tuple[str, list[str], list[dict]]:
        """Generate the next crawl day. Returns (ingest_date, lines, docs):
        ``docs`` is the per-document record ``Truth`` replays."""
        reuse = self.reuse if reuse is None else reuse
        d = self.days
        self.days += 1
        base_ms = d * 86_400_000 + 3_600_000
        step = max(1, min(200, 60_000_000 // max(n_docs, 1)))
        types = list(MIX)
        weights = [MIX[t] for t in types]
        # every family appears every day: a family absent from a day's
        # staging makes run_daily fail on its traffic (pattern D) specs
        chosen = types + self.rng.choices(types, weights, k=max(0, n_docs - len(types)))
        self.rng.shuffle(chosen)
        today: dict[str, list] = {t: [] for t in MIX}
        lines, docs = [], []
        day_start = d * 86_400_000
        for i, typ in enumerate(chosen):
            self.counter += 1
            key = self._pick_key(typ, today, reuse)
            today[typ].append(key)
            processed = base_ms + i * step
            fetched = processed - 30_000
            deleted = processed + 60_000 if self.rng.random() < 0.01 else None
            tpl, elems = self.templates[typ]
            rec = {"type": typ, "urn": key["urn"], "processed": processed,
                   "fetched": fetched, "deleted": deleted, "arrays": {}}
            vals = {
                "type": json.dumps(typ), "self": json.dumps(key["urn"]),
                "repo": json.dumps(f"urn:repo:{key['rid']}"),
                "fetched": json.dumps(ts(fetched)),
                "processed": json.dumps(ts(processed)),
                "deleted": "null" if deleted is None else json.dumps(ts(deleted)),
                "ts": json.dumps(ts(processed - 86_400_000)),
                "n": str(self.counter), "k": str(self.counter),
                "origin": "null", "unique": "null", "res": "null",
                "id": "0", "updated": "null", "name": '""', "owner": '""',
                "number": str(key.get("n", 0)), "sha": json.dumps(key["urn"][-12:]),
            }
            if typ == "repo":
                rid = key["rid"]
                owner, name = self.owner_name(rid)
                v = self.repo_version.get(rid, 0)
                if v == 0 or self.rng.random() < 0.5:
                    v += 1  # a new repo version; else a re-crawl of the same one
                self.repo_version[rid] = v
                vals.update(id=str(rid), name=json.dumps(name), owner=json.dumps(owner),
                            updated=json.dumps(ts(v * 3_600_000)))
                rec["updated"] = v
                rec["owner_name"] = (owner, name)
            elif typ in COLLECTIONS or typ == "members":
                origin = key["origin"]
                prev = self.members.get(key["urn"])
                if prev and self.rng.random() < 0.5:
                    mem = prev[: max(0, len(prev) - self.rng.randint(1, 3))]  # shrinks
                else:
                    space = self.n_teams if typ == "teams" else self.n_users
                    kind = "team" if typ == "teams" else "user"
                    mem = sorted({f"urn:{kind}:{self.rng.randint(1, space)}"
                                  for _ in range(self.rng.randint(0, 12))})
                self.members[key["urn"]] = mem
                vals.update(origin=json.dumps(origin), unique=json.dumps(key["urn"]),
                            res=json.dumps(mem), repo="null",
                            self=json.dumps(f"{key['urn']}:pages:{self.counter}"))
                rec["urn"] = f"{key['urn']}:pages:{self.counter}"
                rec["origin"] = origin
                rec["members"] = mem
            elif typ in TRAFFIC_WINDOW:
                # 14 daily points ending today: consecutive days overlap
                days = [day_start - j * 86_400_000 for j in range(14)]
                arr = [{"timestamp": ts(x), "count": self.rng.randint(1, 50),
                        "uniques": self.rng.randint(1, 9)} for x in days]
                vals["arr0"] = json.dumps(arr, separators=(",", ":"))
                rec["points"] = days
            elif typ in TRAFFIC_LIST:
                n = self.rng.randint(1, 8)
                fld = "referrer" if typ == "referrers" else "path"
                arr = [{fld: f"{fld}-{j}", "title": f"t{j}", "count": j + 1,
                        "uniques": 1} for j in range(n)]
                if typ == "referrers":
                    for a in arr:
                        del a["title"]
                vals["arr0"] = json.dumps(arr, separators=(",", ":"))
                rec["points"] = [a[fld] for a in arr]
            for path, (slot, elem) in elems.items():
                if typ in TRAFFIC_WINDOW + TRAFFIC_LIST:
                    break
                n = self.rng.randint(0, 4)
                vals[slot] = self._array(elem, n)
                rec["arrays"][path] = n
            lines.append(tpl.substitute(vals))
            docs.append(rec)
        for j in range(malformed):
            lines.insert(self.rng.randint(0, len(lines)), MALFORMED[j % len(MALFORMED)])
        return ingest_date(d), lines, docs


class Truth:
    """Replays generated days through the patterns' documented semantics.

    A: one row per key. B: the children of the latest parent document of
    the most recent day the parent appeared. C: the members of each
    origin's latest page, replaced per refreshed origin. D: distinct
    natural keys. E: one row per (key, version)."""

    def __init__(self):
        self.a: dict[str, set] = {}
        self.b: dict[str, dict] = {}
        self.c: dict[str, dict] = {}
        self.d: dict[str, set] = {}
        self.e: set = set()
        self.repos: dict[str, tuple[str, str]] = {}
        self.docs = 0

    def add_day(self, docs: list[dict]) -> None:
        self.docs += len(docs)
        latest: dict[tuple, dict] = {}
        for rec in docs:
            # B dedups parents by last-touched time; C orders collection
            # pages by processedAt alone
            touched = (max(rec["processed"], rec["deleted"] or 0), rec["fetched"])
            page = (rec["processed"], rec["fetched"])
            typ = rec["type"]
            for spec in SPECS:
                if not _matches(spec["filter"], typ):
                    continue
                t, p = spec["table"], spec["pattern"]
                if p == "A":
                    self.a.setdefault(t, set()).add(rec["urn"])
                elif p == "E":
                    self.e.add((rec["urn"], rec["updated"]))
                elif p in ("B", "C"):
                    if p == "C" and spec["origin_like"]:
                        if spec["origin_like"].strip("%") not in rec["origin"]:
                            continue
                    k = (t, rec["origin"] if p == "C" else rec["urn"])
                    rank = page if p == "C" else touched
                    if k not in latest or rank > latest[k][0]:
                        latest[k] = (rank, rec)
                elif p == "D":
                    pts = rec["points"]
                    if typ in TRAFFIC_WINDOW:
                        keys = {(rec["urn"], x) for x in pts}
                    else:
                        keys = {(rec["urn"], x, rec["processed"]) for x in pts}
                    self.d.setdefault(t, set()).update(keys)
            if typ == "repo":
                self.repos[rec["urn"]] = rec["owner_name"]
        for (t, k), (_, rec) in latest.items():
            spec = next(s for s in SPECS if s["table"] == t)
            if spec["pattern"] == "B":
                self.b.setdefault(t, {})[k] = rec["arrays"].get(spec["array_path"], 0)
            elif rec["members"]:
                # an empty latest page refreshes nothing: explode yields no
                # row, so the origin's previous members carry over
                self.c.setdefault(t, {})[k] = len(set(rec["members"]))

    def row_counts(self) -> dict[str, int]:
        out = {}
        for spec in SPECS:
            t, p = spec["table"], spec["pattern"]
            if p == "A":
                out[t] = len(self.a.get(t, ()))
            elif p == "B":
                out[t] = sum(self.b.get(t, {}).values())
            elif p == "C":
                out[t] = sum(self.c.get(t, {}).values())
            elif p == "D":
                out[t] = len(self.d.get(t, ()))
            else:
                out[t] = len(self.e)
        return out


def write_day(lines: list[str], path: str, n_files: int = 4) -> int:
    """Write a day's lines as ``n_files`` JSON-lines files; returns bytes."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for f in range(n_files):
        chunk = "\n".join(lines[f::n_files]) + "\n"
        with open(os.path.join(path, f"part-{f:03d}.json"), "w") as fh:
            fh.write(chunk)
        total += len(chunk.encode())
    return total
