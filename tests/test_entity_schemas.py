"""Catalog-declared entity schemas (SURVEY.md 1.3): every family parses
with one schema built from its specs, so a day that lacks a family, a
day of nothing but malformed lines and type drift between documents all
curate without raising."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ghcrawler_datalake_etl_spark.pipeline import run_daily
from ghcrawler_datalake_etl_spark.plans.catalog import (
    CATALOG,
    ENTITY_SCHEMAS,
    ORIGIN_PATH,
    RESOURCES_PATH,
    UNIQUE_PATH,
    EntitySpec,
    Field,
    entity_schemas,
    spec_for,
)
from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
from ghcrawler_datalake_etl_spark.sources.staging import stage_json
from tests.conftest import meta, write_docs
from tests.test_patterns import DAY1, T1

STRING = T.StringType()


def _resolve(dtype: T.DataType, path: str) -> T.DataType:
    for part in path.split("."):
        assert isinstance(dtype, T.StructType) and part in dtype.fieldNames(), path
        dtype = dtype[part].dataType
    return dtype


@pytest.mark.parametrize("spec", CATALOG, ids=lambda s: s.table)
def test_every_spec_path_resolves_in_its_family_schema(spec):
    schema = ENTITY_SCHEMAS[spec.entity_filter]
    for f in spec.fields:
        assert _resolve(schema, f.path) == STRING
    if spec.array_path:
        array = _resolve(schema, spec.array_path)
        assert isinstance(array, T.ArrayType)
        for f in spec.element_fields:
            assert _resolve(array.elementType, f.path) == STRING
    if spec.pattern == "C":
        assert _resolve(schema, ORIGIN_PATH) == STRING
        assert _resolve(schema, UNIQUE_PATH) == STRING
        assert _resolve(schema, RESOURCES_PATH) == T.ArrayType(STRING)


def test_every_catalog_family_has_a_schema():
    assert set(ENTITY_SCHEMAS) == {s.entity_filter for s in CATALOG}


def _spec(table, fields=(), array_path=None, element_fields=()):
    return EntitySpec(
        table=table,
        pattern="B" if array_path else "A",
        entity_filter=("eq", "thing"),
        fields=tuple(Field(p.replace(".", "_"), p) for p in fields),
        array_path=array_path,
        element_fields=tuple(Field(p, p) for p in element_fields),
    )


@pytest.mark.parametrize(
    "pair",
    [
        (_spec("Leaf", ["author"]), _spec("Struct", ["author.login"])),
        (_spec("Struct", ["author.login"]), _spec("Leaf", ["author"])),
        (_spec("Struct", ["payload.commits.size"]),
         _spec("Array", [], "payload.commits", ["sha"])),
        (_spec("Array", [], "payload.commits", ["sha"]),
         _spec("Leaf", ["payload.commits"])),
    ],
    ids=["leaf-then-struct", "struct-then-leaf", "struct-and-array",
         "array-then-leaf"],
)
def test_conflicting_paths_raise_when_the_schema_is_built(pair):
    with pytest.raises(ValueError, match="both"):
        entity_schemas(pair)


def test_specs_sharing_a_family_union_their_paths():
    schema = entity_schemas(
        (_spec("A", ["author.login", "sha"]),
         _spec("B", ["author.id"], "files", ["sha", "stats.adds"]))
    )[("eq", "thing")]
    assert schema.simpleString() == (
        "struct<author:struct<login:string,id:string>,sha:string,"
        "files:array<struct<sha:string,stats:struct<adds:string>>>>"
    )


# -- a day that lacks most families, then a day of malformed lines only --

COMMITS = [d for d in DAY1 if d["_metadata"]["type"] == "commit"]
MALFORMED = ['{"_metadata": {"type": "repo"', "not json at all"]


def _write_lines(folder, lines):
    os.makedirs(folder, exist_ok=True)
    with open(os.path.join(folder, "bad.json"), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture(scope="module")
def sparse_days(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sparse")
    staging = str(root / "staging")
    write_docs(str(root / "d1"), COMMITS)
    _write_lines(str(root / "d1"), MALFORMED[:1])
    _write_lines(str(root / "d2"), MALFORMED)
    stage_json(spark, str(root / "d1"), staging, "2024-01-01")
    stage_json(spark, str(root / "d2"), staging, "2024-01-02")
    return root, staging


# commits c1/c2 carry 3 files and 3 parents between them
_COMMIT_ROWS = {"Commit": 2, "CommitFile": 3, "CommitParent": 3}


@pytest.mark.parametrize("spec", CATALOG, ids=lambda s: s.table)
def test_missing_family_and_empty_day_curate(spark, sparse_days, spec):
    root, staging = sparse_days
    catalog = ParquetCatalog(spark, str(root / "wh" / spec.table))
    want = _COMMIT_ROWS.get(spec.table, 0)
    run_daily(spark, staging, "2024-01-01", catalog, specs=(spec,))
    assert catalog.read(spec.table).count() == want
    # the malformed-only day stages nothing: the table carries over
    run_daily(spark, staging, "2024-01-02", catalog, specs=(spec,))
    assert catalog.read(spec.table).count() == want


def test_spec_outside_the_catalog_gets_its_own_schema(spark, sparse_days):
    root, staging = sparse_days
    base = spec_for("Commit")
    spec = dataclasses.replace(
        base,
        table="CommitWithVerification",
        fields=base.fields + (Field("Verified", "commit.verification.verified",
                                    "boolean"),),
    )
    catalog = ParquetCatalog(spark, str(root / "wh_custom"))
    run_daily(spark, staging, "2024-01-01", catalog, specs=(spec,))
    rows = catalog.read(spec.table).select("CommitSha", "Verified").collect()
    assert sorted(rows) == [("c1", None), ("c2", None)]


# -- type drift within one family-day -------------------------------------

DRIFT = [
    {"_metadata": meta("commit", "urn:gh:commit:d1", T1, T1),
     "sha": "d1", "url": 777, "stats": {"additions": 123},
     "author": {"site_admin": True, "id": 5},
     "commit": {"author": {"date": "2023-12-30T01:02:03Z"}, "message": 42}},
    {"_metadata": meta("commit", "urn:gh:commit:d2", T1, T1),
     "sha": "d2", "url": 778, "stats": {"additions": "124"},
     "author": {"site_admin": "true", "id": "6"},
     "commit": {"author": {"date": "2023-12-31T10:00:00+02:00"},
                "message": "text"}},
    {"_metadata": meta("commit", "urn:gh:commit:d3", T1, T1),
     "sha": "d3", "url": 779, "author": {"id": 7.0, "login": {"n": 1}},
     "commit": {"message": ["a", 1]}},
]


def test_type_drift(spark, tmp_path):
    """d1/d2: a long as ``123`` and ``"124"``, a boolean as ``true`` and
    ``"true"``, strings as JSON numbers, ISO timestamps with and without
    an offset - the values per-day schema inference produced. d3: a
    float in a long leaf is NULL and an object or array in a string leaf
    is its JSON text, whatever else the day holds (inference made these
    depend on the other documents of the day)."""
    staging = str(tmp_path / "staging")
    write_docs(str(tmp_path / "raw"), DRIFT)
    stage_json(spark, str(tmp_path / "raw"), staging, "2024-01-01")
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    run_daily(spark, staging, "2024-01-01", catalog, specs=(spec_for("Commit"),))
    rows = (
        catalog.read("Commit")
        .select(
            "CommitSha", "Url", "StatsAdditions", "AuthorSiteAdmin", "AuthorId",
            "CommitMessage",
            F.date_format("CommitAuthorDate", "yyyy-MM-dd HH:mm:ss"),
        )
        .orderBy("CommitSha")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        ("d1", "777", 123, True, 5, "42", "2023-12-30 01:02:03"),
        ("d2", "778", 124, True, 6, "text", "2023-12-31 08:00:00"),
        ("d3", "779", None, None, None, '["a",1]', None),
    ]
    login = catalog.read("Commit").filter("CommitSha = 'd3'").first().AuthorLogin
    assert login == '{"n":1}'
