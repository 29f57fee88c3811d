"""Sinks: the versioned parquet table catalog + TSV export.

The reference "upserts" by TRUNCATE + INSERT of a recomputed snapshot
(S5, /root/reference/USQL/ProcessDaily.usql:142-177, 32 occurrences) -
non-atomic, and a mid-run failure loses data (quirk Q8). ``ParquetCatalog``
replaces that with a versioned-directory swap: write the new snapshot to
``<table>/v<n+1>``, then atomically flip a pointer file. This also solves
Spark's read-then-overwrite hazard (pattern A unions the very table it
replaces - SURVEY.md 7.4.6): the read plan streams from v<n> while the
write lands in v<n+1>, no checkpoint/materialization needed.

On-disk contract of one table directory:

- ``_CURRENT`` - the committed version number, replaced atomically;
- ``v<n>/`` - one snapshot version: the data files (bucketed tables
  under ``_kb=<bucket>/`` partition directories) plus ``_SCHEMA.json``,
  the schema of the frame written, recorded at commit. Every read loads
  with that schema - no footer inference (Delta Lake records the table
  schema in the commit, not the data files, VLDB'20);
- ``_MERGE_META.json`` - present only while the current version is a
  ``merge_upsert`` bucket layout: ``key_cols``, ``num_buckets``,
  ``bucket_cols``.

``_``-prefixed files are invisible to Spark's file readers. This is a
deliberately minimal stand-in for Delta/Iceberg (whose jars are not in
this environment); on a real deployment the catalog maps 1:1 onto
``MERGE INTO`` / ``replaceWhere``.

This module owns files, layout and commits. The change-data layer -
changefeed apply and emission, the incremental-view folds - lives in
``sources/ivm.py`` and reaches committed versions only through the
catalog's public methods (the Delta Lake split, VLDB'20: the table
layer owns files and commits, the change-data feed reads through it).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_POINTER = "_CURRENT"
_MERGE_META = "_MERGE_META.json"
_SCHEMA = "_SCHEMA.json"
_BUCKET_COL = "_kb"

#: a merge whose affected buckets exceed this fraction of the layout's
#: bucket count rewrites the whole table instead (see ``merge_upsert``)
DENSE_REWRITE_FRACTION = 0.5


def _bucket(cols: Sequence[str], num_buckets: int) -> Column:
    """The ``_kb`` hash bucket a row lands in under a merge layout."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets)
    ).cast("int")


def _distinct_buckets(
    df: DataFrame, specs: Sequence[tuple[Sequence[str], int]]
) -> list[list[int]]:
    """ONE collect job computing, for each ``(bucket_cols,
    num_buckets)`` spec, the distinct bucket ids ``df``'s rows land in
    (no job for no specs). Output size is bounded by
    ``sum(num_buckets)`` ints, never by ``df``."""
    if not specs:
        return []
    parts = [
        df.select(F.lit(i).alias("_s"), _bucket(cols, n).alias("_b"))
        .distinct()
        for i, (cols, n) in enumerate(specs)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    out: list[set[int]] = [set() for _ in specs]
    for r in u.collect():
        out[r[0]].add(r[1])
    return [sorted(s) for s in out]


class BucketIds(NamedTuple):
    """Bucket ids a frame's rows land in, tagged with the table layout
    they were computed under. :meth:`ParquetCatalog.read_pruned` and
    :meth:`ParquetCatalog.merge_upsert` use ``ids`` only while the
    table's layout still equals ``layout``, so ids that went stale
    under a concurrent re-bucketing are never used to prune."""

    layout: dict
    ids: list[int]


def _write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` through a temp file and a rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


class ParquetCatalog:
    """Warehouse of versioned parquet tables with atomic snapshot swap.

    Every write (``overwrite``, ``merge_upsert`` and what builds on
    them) lands a new ``v<n>/`` directory and publishes it through one
    commit: record the version's schema in ``v<n>/_SCHEMA.json``, write
    (merge) or drop (overwrite) the layout in ``_MERGE_META.json``, flip
    ``_CURRENT``, vacuum. Every read resolves one version directory and
    loads it with its recorded schema.

    ``retain`` keeps that many trailing snapshots per table (>=1): the
    previous version staying on disk is what makes the swap safe for a
    reader mid-scan AND gives Delta/Iceberg-style time travel
    (``read(name, version=...)``, ``versions``, ``vacuum``).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        retain: int = 2,
        data_format: str = "parquet",
    ):
        if data_format not in ("parquet", "orc"):
            raise ValueError(
                f"data_format must be 'parquet' or 'orc', got {data_format!r}"
            )
        # version pointers, merge metadata, hardlink relinking and
        # vacuum all run through driver-side file ops; on an object-
        # store URI those would silently see an empty warehouse (the
        # same failure mode the streaming delta store guards against) -
        # fail loudly at construction instead
        from ghcrawler_datalake_etl_spark.functions.core import (
            require_driver_local,
        )

        require_driver_local(warehouse, "ParquetCatalog")
        self.spark = spark
        self.warehouse = warehouse
        self.retain = max(1, retain)
        #: columnar file format of every snapshot (parquet default; orc
        #: is the drop-in alternative - the versioned-pointer machinery,
        #: bucket partitioning, and hardlink relinking are format-blind)
        self.data_format = data_format
        os.makedirs(warehouse, exist_ok=True)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def current_version(self, name: str) -> int | None:
        ptr = os.path.join(self._table_dir(name), _POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(f.read().strip())

    def _version_dir(self, name: str, version: int | None = None) -> str:
        """Directory of the current version, or of retained ``version``;
        FileNotFoundError when it is not on disk."""
        if version is None:
            version = self.current_version(name)
            if version is None:
                raise FileNotFoundError(
                    f"table {name} not in catalog {self.warehouse}"
                )
        path = os.path.join(self._table_dir(name), f"v{version}")
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"table {name} version {version} not retained "
                f"(have {self.versions(name)})"
            )
        return path

    def current_path(self, name: str) -> str | None:
        return self._version_dir(name) if self.exists(name) else None

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def versions(self, name: str) -> list[int]:
        """Snapshot versions still on disk, oldest first."""
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(tdir)
            if d.startswith("v") and d[1:].isdigit()
        )

    @staticmethod
    def _schema(path: str) -> StructType:
        """The schema recorded when version directory ``path`` was
        committed (bucketed versions include ``_kb``)."""
        with open(os.path.join(path, _SCHEMA)) as f:
            return StructType.fromJson(json.load(f))

    def _load(self, path: str) -> DataFrame:
        """One version directory, loaded with its recorded schema: no
        footer read on the driver, and an all-empty version reads as an
        empty frame."""
        return (
            self.spark.read.format(self.data_format)
            .schema(self._schema(path))
            .load(path)
        )

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to ``version``
        (must still be retained - see ``retain`` / ``vacuum``)."""
        # merged tables carry the internal hash-bucket partition column
        return self._load(self._version_dir(name, version)).drop(_BUCKET_COL)

    def read_or_none(self, name: str) -> DataFrame | None:
        return self.read(name) if self.exists(name) else None

    def layout(self, name: str) -> dict | None:
        """The current version's ``merge_upsert`` bucket layout
        (``key_cols``, ``num_buckets``, ``bucket_cols``), or None when
        the table is absent or its current version is not bucketed."""
        p = os.path.join(self._table_dir(name), _MERGE_META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def bucket_ids(
        self, df: DataFrame, tables: Sequence[str]
    ) -> list[BucketIds | None]:
        """For each of ``tables``, the bucket ids ``df``'s rows land in
        under that table's CURRENT layout, tagged with it - all computed
        by ONE collect job, so a consumer feeding several pruned reads
        and merges pays one driver-blocking probe instead of one each
        (round-15: a fold's cost is action count x fixed per-job
        latency). Tables sharing a layout's bucket columns and count
        share one id set. A table without a layout, or whose bucket
        columns ``df`` lacks, gets None (and no work)."""
        lays = [self.layout(t) for t in tables]
        specs = [
            (tuple(lay["bucket_cols"]), lay["num_buckets"])
            if lay is not None and set(lay["bucket_cols"]) <= set(df.columns)
            else None
            for lay in lays
        ]
        uniq = sorted(set(specs) - {None})
        ids = dict(zip(uniq, _distinct_buckets(df, uniq)))
        return [
            None if sp is None else BucketIds(lay, ids[sp])
            for lay, sp in zip(lays, specs)
        ]

    def read_pruned(
        self,
        name: str,
        probe: DataFrame,
        version: int | None = None,
        bucket_ids: BucketIds | None = None,
    ) -> DataFrame | None:
        """Read ONLY the hash buckets the probe's bucket-column values
        land in - the partition-pruned point-lookup over a merged table
        (primary-key layout, or a ``bucket_cols`` secondary-index
        layout, both taken from :meth:`layout`). The probe must
        carry the table's bucket columns; its distinct BUCKET IDS are
        collected driver-side (<= num_buckets ints - bounded by
        construction, not by feed size), the version is loaded with its
        recorded schema and filtered ``_kb IN (...)`` so partition
        pruning skips every other bucket directory, and survivors LEFT
        SEMI join (broadcast - probes are delta/feed-sized) the probe's
        distinct bucket-col values so only matching rows return. At
        100 TB this is the point of the layout: a fold's standing-side
        read costs O(touched buckets), never a table scan. Returns
        None for a table with no current version (mirrors
        :meth:`read_or_none`).

        ``version`` pins the read to a RETAINED snapshot version
        instead of the current pointer - snapshot isolation for a
        reader that must not observe a concurrent merge's pointer
        flip (the fold-day-k-while-merging-day-k+1 overlap). The
        version must still be retained (see ``retain`` / ``vacuum``);
        a vacuumed version raises FileNotFoundError like
        :meth:`read`.

        ``bucket_ids``: pre-collected ids for the probe (see
        :meth:`bucket_ids`) - skip this read's own driver-blocking
        collect. Used only while their tag equals the table's layout;
        otherwise this read collects its own. They must cover every
        bucket the probe's rows land in; a SUPERSET is safe (extra
        buckets are scanned, the semi join still returns exactly the
        probe's matches)."""
        meta = self.layout(name)
        if meta is None:
            raise ValueError(
                f"read_pruned needs a merged table; {name!r} has no "
                "merge metadata"
            )
        if version is None and not self.exists(name):
            return None
        path = self._version_dir(name, version)
        bucket_cols = meta["bucket_cols"]
        if bucket_ids is not None and bucket_ids.layout == meta:
            ids = sorted(set(bucket_ids.ids))
        else:
            [ids] = _distinct_buckets(
                probe, [(bucket_cols, meta["num_buckets"])]
            )
        df = self._load(path).filter(F.col(_BUCKET_COL).isin(ids))
        vals = probe.select(*bucket_cols).distinct()
        return df.drop(_BUCKET_COL).join(F.broadcast(vals), bucket_cols, "semi")

    def changed_buckets(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """The rows of the buckets that differ between two retained
        versions of a merged table, as ``(from_rows, to_rows)`` - the
        layout half of a changefeed diff. :meth:`merge_upsert`
        HARD-LINKS untouched buckets between versions, so a bucket
        whose files are inode-identical in both versions cannot differ
        and is skipped without reading a byte (the local-fs analog of
        diffing Delta/Iceberg manifests); emission cost scales with the
        CHANGED fraction of the table, not its size. Each side loads
        its version's recorded schema without ``_kb`` and is projected
        to ``to_version``'s columns (``to_version`` None: the current
        one). Raises ValueError for a table without merge metadata."""
        if self.layout(name) is None:
            raise ValueError(
                f"table {name!r} has no merge metadata - changed_buckets "
                "diffs the bucketed layout merge_upsert maintains"
            )
        old_path = self._version_dir(name, from_version)
        new_path = self._version_dir(name, to_version)

        def bucket_files(vpath: str) -> dict[int, list[tuple[str, int]]]:
            out: dict[int, list[tuple[str, int]]] = {}
            for d in os.listdir(vpath):
                if not d.startswith(f"{_BUCKET_COL}="):
                    continue
                bdir = os.path.join(vpath, d)
                out[int(d.split("=", 1)[1])] = sorted(
                    (f, os.stat(os.path.join(bdir, f)).st_ino)
                    for f in os.listdir(bdir)
                    if not f.startswith((".", "_"))
                )
            return out

        old_b, new_b = bucket_files(old_path), bucket_files(new_path)
        changed = sorted(
            b for b in set(old_b) | set(new_b) if old_b.get(b) != new_b.get(b)
        )

        def logical(vpath: str) -> StructType:
            return StructType(
                [f for f in self._schema(vpath) if f.name != _BUCKET_COL]
            )

        schema = logical(new_path)

        def side(vpath: str, files: dict) -> DataFrame:
            # the bucket dirs are loaded directly, so the schema is the
            # version's recorded one without the partition column
            dirs = [
                os.path.join(vpath, f"{_BUCKET_COL}={b}")
                for b in changed
                if b in files
            ]
            if not dirs:
                return self.spark.createDataFrame([], schema)
            return (
                self.spark.read.format(self.data_format)
                .schema(logical(vpath))
                .load(dirs)
                .select(*schema.names)
            )

        return side(old_path, old_b), side(new_path, new_b)

    def _next_version(self, name: str) -> tuple[int, str]:
        """The version number the next commit of ``name`` lands, and the
        directory to write it to."""
        cur = self.current_version(name)
        new = 0 if cur is None else cur + 1
        return new, os.path.join(self._table_dir(name), f"v{new}")

    def _commit(
        self,
        name: str,
        version: int,
        schema: StructType,
        layout: dict | None = None,
    ) -> None:
        """Publish the written ``v<version>`` directory: record its
        schema, write the merge layout (``layout``) or drop a stale one
        (an overwrite's version is not bucketed), flip the pointer
        atomically, vacuum."""
        tdir = self._table_dir(name)
        _write_atomic(
            os.path.join(tdir, f"v{version}", _SCHEMA), schema.json()
        )
        meta = os.path.join(tdir, _MERGE_META)
        if layout is not None:
            _write_atomic(meta, json.dumps(layout))
        elif os.path.exists(meta):
            os.remove(meta)
        _write_atomic(os.path.join(tdir, _POINTER), str(version))
        self.vacuum(name, keep_last=self.retain)

    def overwrite(
        self,
        df: DataFrame,
        name: str,
        sort_by: Sequence[str] = (),
    ) -> None:
        """Atomic full-snapshot rewrite (the S5 TRUNCATE+INSERT analog).

        One file per partition of ``df``'s final stage, which AQE sizes
        from the data (the reference's DISTRIBUTE HASH INTO n hint is not
        needed); ``sort_by`` is the clustered-index analog
        (sortWithinPartitions -> parquet row-group locality for the dedup
        keys).
        """
        version, out = self._next_version(name)
        writer = df
        if sort_by:
            writer = writer.sortWithinPartitions(*sort_by)
        writer.write.mode("overwrite").format(self.data_format).save(out)
        self._commit(name, version, df.schema)

    # -- incremental (partition-level) merge ---------------------------

    def merge_upsert(
        self,
        delta: DataFrame,
        name: str,
        key_cols: Sequence[str],
        num_buckets: int = 32,
        delete_keys: DataFrame | None = None,
        bucket_cols: Sequence[str] | None = None,
        affected_buckets: BucketIds | None = None,
    ) -> dict[str, int]:
        """Key-level upsert that rewrites ONLY the hash buckets the delta
        touches - the write primitive of the change-data layer
        (``sources/ivm.py``: changefeed apply, view folds), where a
        batch touches few keys of a large table. The daily ETL does not
        use it: a crawl day's keys land in most buckets, where the merge
        is a full rewrite plus its bookkeeping, so ``run_daily``
        replaces every table with ``overwrite``.

        Layout: versions are partitioned by ``_kb =
        pmod(xxhash64(bucket_cols), num_buckets)``; the layout lives in
        ``_MERGE_META.json`` and each version's schema (``_kb``
        included) in its ``_SCHEMA.json``. A merge:

        1. computes the delta's affected bucket set (<= num_buckets ids);
        2. reads ONLY those buckets from the current version (partition
           pruning does this from the directory layout), anti-joins the
           delta's keys (delta row wins - TRUNCATE+INSERT semantics per
           key) and writes delta union survivors as the new version's
           affected partitions;
        3. re-links every untouched bucket directory into the new
           version file-by-file (hardlink, copy fallback) - file REUSE,
           the local-fs analog of a Delta/Iceberg manifest pointing at
           unchanged data files;
        4. commits like ``overwrite``: schema, layout, pointer flip.

        Everything else is one FULL bucketed rewrite of the standing
        table's surviving rows plus the delta: a fresh table, a table
        whose current version has a different layout (a plain
        ``overwrite``, another bucket count or columns - re-bucketed
        once, incremental from then on), and a DENSE delta touching
        more than ``DENSE_REWRITE_FRACTION`` of the buckets, where the
        per-bucket merge would rewrite most of the table anyway and pay
        the pruning + re-link bookkeeping on top of it (measured: dense
        merge 3.04s vs 2.87s full rewrite, round-3 bench sidecar). A
        full rewrite reports every non-empty bucket rewritten, nothing
        linked. Against a standing table the delta is projected to the
        table's columns (a wider feed's extra columns are dropped).

        ``delete_keys`` (a frame of just ``key_cols``) removes those
        keys in the SAME merge: deleted keys join the anti-join set and
        the affected-bucket set but never the union side, so a delete
        is a bucket rewrite without the row - the CDC building block
        :func:`ivm.apply_changes` uses. Deleting an absent key is a no-op.

        ``bucket_cols`` (round-13) decouples the PARTITION layout from
        the key: the table stays keyed (anti-joined, deleted) by
        ``key_cols`` but lands in ``_kb = pmod(xxhash64(bucket_cols),
        num_buckets)`` - a SECONDARY-INDEX layout, so probes by
        ``bucket_cols`` are partition-pruned even though rows are
        upserted by primary key (the join/extrema IVM consumers read
        "all rows whose join key / group is in the feed" that way).
        Contract when ``bucket_cols != key_cols``: (a) ``delete_keys``
        must carry ``bucket_cols`` alongside ``key_cols`` (the bucket a
        deleted row sits in is derived from its OLD bucket-col values -
        a preimage feed has them); (b) an update that may CHANGE a
        row's bucket_cols must ship its preimage (key + old
        bucket_cols) in ``delete_keys``, else the old copy survives in
        its old bucket and the key silently duplicates across buckets.

        ``affected_buckets``: pre-collected affected bucket ids (see
        :meth:`bucket_ids`) - skip this merge's own driver-blocking
        probe collect on the incremental path (the IVM folds batch the
        id sets of a fold's several merges/reads into ONE job). Used
        only while their tag equals the table's layout, which on the
        incremental path is this merge's; otherwise the merge collects
        its own. They MUST cover every bucket the delta's rows and the
        deleted keys' preimages land in; a SUPERSET is safe - the
        extra buckets are rewritten with unchanged content instead of
        hard-linked (correct, marginally more write I/O). Ignored on a
        fresh or re-bucketing rewrite, which derives nothing from the
        affected set.

        Returns {"rewritten": n, "linked": m} bucket counts.
        """
        key_cols = list(key_cols)
        if not key_cols:
            raise ValueError("merge_upsert needs at least one key column")
        bucket_cols = list(bucket_cols) if bucket_cols else key_cols
        if delete_keys is not None and bucket_cols != key_cols:
            missing = [
                c for c in bucket_cols if c not in delete_keys.columns
            ]
            if missing:
                raise ValueError(
                    "merge_upsert(bucket_cols=...) needs delete_keys to "
                    f"carry the bucket columns too; missing {missing}"
                )
        bucket = _bucket(bucket_cols, num_buckets)
        layout = dict(
            key_cols=key_cols, num_buckets=num_buckets, bucket_cols=bucket_cols
        )
        fresh = not self.exists(name)
        version, out = self._next_version(name)

        stats = {"rewritten": 0, "linked": 0}
        # the delta subtree (staging parse + snapshot semi-join +
        # latest-wins window) is referenced three times below - the
        # affected-bucket collect, the anti-join key set, and the union
        # side of the merged write. A day's delta is small by
        # definition; persist it once instead of recomputing the parse
        # per reference (measured 11.6s -> ~3s on the 6-key bench case).
        # Round-14 job-count trim: the cache materializes on the FIRST
        # action - the affected-bucket collect on the incremental path
        # (it scans the whole delta), an explicit count before a
        # re-bucketing rewrite - instead of always paying a separate
        # eager-count job; the anti-key set stays unpersisted (two
        # references, both over the cached delta plus a feed-sized
        # delete frame). Opt-round trim: a FRESH table references the
        # delta exactly once - the write's union side - so persist +
        # eager count there bought nothing and cost one extra full pass
        # of the delta subtree per bootstrap; skip both (guide section
        # 5: cache only reused frames).
        if not fresh:
            delta = delta.persist()
        # the anti-join key set: upserted keys, plus deleted keys when
        # a CDC feed rides along (deletes never reach the union side)
        anti_keys = delta.select(*key_cols).distinct()
        if delete_keys is not None:
            anti_keys = anti_keys.unionByName(
                delete_keys.select(*key_cols)
            ).distinct()
        # the affected-bucket probe: with bucket_cols == key_cols the
        # key set IS the probe; with a secondary-index layout the
        # buckets derive from bucket_cols values (delta rows carry the
        # new ones, delete_keys the old/preimage ones)
        if bucket_cols == key_cols:
            bucket_probe = anti_keys
        else:
            bucket_probe = delta.select(*bucket_cols)
            if delete_keys is not None:
                bucket_probe = bucket_probe.unionByName(
                    delete_keys.select(*bucket_cols)
                )

        try:
            incremental = not fresh and self.layout(name) == layout
            affected = None
            if incremental and (
                affected_buckets is not None
                and affected_buckets.layout == layout
            ):
                affected = sorted(set(affected_buckets.ids))
            elif incremental:
                [affected] = _distinct_buckets(
                    bucket_probe, [(bucket_cols, num_buckets)]
                )
            elif not fresh:
                delta.count()  # eager: the rewrite references the cache 2x
            if affected is not None and (
                len(affected) > DENSE_REWRITE_FRACTION * num_buckets
            ):
                affected = None  # dense delta: full rewrite (docstring)
            if affected is None:
                merged = delta
                if not fresh:
                    standing = self.read(name)
                    merged = standing.join(
                        anti_keys, key_cols, "left_anti"
                    ).unionByName(delta.select(*standing.columns))
                merged = merged.withColumn(_BUCKET_COL, bucket)
            else:
                cur_path = self._version_dir(name)
                survivors = (
                    self._load(cur_path)
                    .filter(F.col(_BUCKET_COL).isin(affected))
                    .join(anti_keys, key_cols, "left_anti")
                )
                merged = survivors.unionByName(
                    delta.withColumn(_BUCKET_COL, bucket).select(
                        *survivors.columns
                    )
                )
            # repartition by bucket before the partitioned write: one
            # task per bucket -> one file per bucket dir (without it
            # every task writes a file into every bucket dir, and the
            # next read pays the listing+scan of all of them)
            merged.repartition(
                num_buckets if affected is None else max(len(affected), 1),
                F.col(_BUCKET_COL),
            ).write.mode("overwrite").partitionBy(_BUCKET_COL).format(
                self.data_format
            ).save(out)
            if affected is None:
                stats["rewritten"] = sum(
                    1 for d in os.listdir(out) if d.startswith(f"{_BUCKET_COL}=")
                )
            else:
                stats["rewritten"] = len(affected)
                # re-link untouched buckets into the new version
                for d in os.listdir(cur_path):
                    if d.startswith(f"{_BUCKET_COL}=") and (
                        int(d.split("=", 1)[1]) not in affected
                    ):
                        _link_tree(
                            os.path.join(cur_path, d), os.path.join(out, d)
                        )
                        stats["linked"] += 1
        except BaseException:
            # a failed write job (e.g. the fold's lazy op-set guard
            # raising mid-execution, an executor OOM) can leave
            # partial part-files in the in-progress version dir;
            # the pointer never flipped, so the orphan would sit
            # unreachable forever (vacuum keeps pointer-reachable
            # versions). Remove it before re-raising - the current
            # snapshot is untouched either way.
            shutil.rmtree(out, ignore_errors=True)
            raise
        finally:
            delta.unpersist(blocking=False)
        self._commit(name, version, merged.schema, layout)
        return stats

    def compact(
        self,
        name: str,
        target_bytes: int = 128 * 2**20,
        sort_by: Sequence[str] = (),
    ) -> dict:
        """Small-file compaction (the OPTIMIZE shape): rewrite the
        current snapshot into ``ceil(total_bytes / target_bytes)``
        files when it holds more files than that - the fix for the
        many-small-files read-amplification every incremental ingest
        accumulates (at 100 TB, footer/open overhead and scheduler
        pressure scale with file COUNT, not bytes).

        Content is unchanged; the rewrite lands as a NEW version behind
        the same atomic pointer flip as :meth:`overwrite` (readers of
        the old version are never disturbed; ``vacuum`` policy applies).
        Already-compact tables are left untouched. Returns a stats dict:
        ``files_before / files_after / bytes / compacted``.
        """
        if not self.exists(name):
            raise ValueError(f"unknown table {name!r}")

        def parts() -> list[str]:
            path = self._version_dir(name)
            return [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.startswith("part-")
            ]

        before = parts()
        total = sum(os.path.getsize(p) for p in before)
        target = max(1, -(-total // max(1, target_bytes)))
        compacted = len(before) > target
        if compacted:
            # repartition, not coalesce: the rewrite scan of many small
            # files packs into FEWER partitions than the byte target
            # implies (maxPartitionBytes), and coalesce can only shrink -
            # the target would silently not be honored
            self.overwrite(
                self.read(name).repartition(target), name, sort_by=sort_by
            )
        return {
            "files_before": len(before),
            "files_after": len(parts()),
            "bytes": total,
            "compacted": compacted,
        }

    def vacuum(self, name: str, keep_last: int = 1) -> list[int]:
        """Drop all but the trailing ``keep_last`` snapshots; returns the
        versions removed. Never removes the current pointer's target."""
        keep_last = max(1, keep_last)
        vs = self.versions(name)
        cur = self.current_version(name)
        drop = [v for v in vs[:-keep_last] if v != cur]
        for v in drop:
            shutil.rmtree(
                os.path.join(self._table_dir(name), f"v{v}"),
                ignore_errors=True,
            )
        return drop


def _link_tree(src: str, dst: str) -> None:
    """Mirror ``src`` into ``dst`` by hardlink (same-device no-copy file
    reuse; vacuum of the old version later just drops link counts).
    Falls back to copy when the filesystem refuses links."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def write_tsv(df: DataFrame, path: str) -> int:
    """TSV export sink (S7, /root/reference/USQL/GetRepoData-unused.usql:17-19
    ``OUTPUT ... USING Outputters.Tsv()``), one file with a header row.
    Returns the rows written, observed by the write job itself
    (``DataFrame.observe``) instead of a second execution of ``df`` for
    a count."""
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )
    return obs.get["rows"]


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines export sink - the de-facto interchange format of
    training-data pipelines (and the shape of the reference's OWN
    crawler input: one JSON document per line, sources/staging.py S1),
    one file. ``ignoreNullFields=false`` keeps explicit nulls so the
    round trip is lossless: unlike TSV, JSONL distinguishes NULL from
    ''."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("ignoreNullFields", "false")
        .json(path)
    )


def read_jsonl(spark, path: str, schema) -> DataFrame:
    """Typed JSONL re-ingest - the round-trip complement of
    write_jsonl: read an export back under an explicit schema
    (malformed lines -> NULL row under the default PERMISSIVE mode,
    the same contract as stage_json). Longs, doubles (shortest
    round-trip repr), booleans, strings INCLUDING the ''-vs-NULL
    distinction, and epoch-micro longs all round-trip exactly."""
    return spark.read.schema(schema).json(path)


def read_tsv(spark, path: str, schema) -> DataFrame:
    """Typed TSV re-ingest - the round-trip complement of write_tsv
    (S7): read an export back under an explicit schema (header row
    skipped, try-cast semantics per CSV reader). Pass the frame schema
    you exported (``df.schema``) or a hand-built StructType.

    TSV is a lossy text format: NULL and '' both serialize to an empty
    field, so a round-trip maps empty strings to NULL - the same
    ambiguity the reference's Outputters.Tsv/Extractors.Tsv pair has.
    Everything else (longs, booleans, timestamps under the session UTC
    zone) round-trips exactly.
    """
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(schema)
        .csv(path)
    )
