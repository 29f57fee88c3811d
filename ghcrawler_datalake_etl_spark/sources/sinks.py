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
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from ghcrawler_datalake_etl_spark.functions.concurrency import (
    run_concurrently,
)

_POINTER = "_CURRENT"
_MERGE_META = "_MERGE_META.json"
_SCHEMA = "_SCHEMA.json"
_BUCKET_COL = "_kb"


def _bucket(cols: Sequence[str], num_buckets: int) -> Column:
    """The ``_kb`` hash bucket a row lands in under a merge layout."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets)
    ).cast("int")


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

    def _current_version(self, name: str) -> int | None:
        ptr = os.path.join(self._table_dir(name), _POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(f.read().strip())

    def _version_dir(self, name: str, version: int | None = None) -> str:
        """Directory of the current version, or of retained ``version``;
        FileNotFoundError when it is not on disk."""
        if version is None:
            version = self._current_version(name)
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
        return self._current_version(name) is not None

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

    def _bucket_ids_multi(
        self,
        df: DataFrame,
        specs: Sequence[tuple[Sequence[str], int]],
    ) -> list[list[int]]:
        """ONE collect job computing, for each ``(cols, num_buckets)``
        spec, the distinct bucket ids ``df``'s rows land in - the
        fused form of the per-consumer probe collects the IVM folds
        used to pay one driver-blocking job each for (round-15,
        VERDICT r14 #1: the folds' cost is action count x fixed
        per-job latency). Output size is bounded by
        ``sum(num_buckets)`` ints, never by ``df``."""
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

    def _pruned_ids_ok(
        self,
        name: str,
        bucket_cols: Sequence[str],
        num_buckets: int,
    ) -> bool:
        """True when ``name``'s merge layout matches the given bucket
        columns and count - the precondition for handing a
        pre-collected bucket-id set to :meth:`read_pruned` /
        :meth:`merge_upsert` (ids computed under a different layout
        would prune the wrong directories)."""
        meta = self._merge_meta(name)
        return (
            meta is not None
            and meta["num_buckets"] == num_buckets
            and meta["bucket_cols"] == list(bucket_cols)
        )

    def read_pruned(
        self,
        name: str,
        probe: DataFrame,
        version: int | None = None,
        bucket_ids: Sequence[int] | None = None,
    ) -> DataFrame | None:
        """Read ONLY the hash buckets the probe's bucket-column values
        land in - the partition-pruned point-lookup over a merged table
        (primary-key layout, or a ``bucket_cols`` secondary-index
        layout, both taken from ``_MERGE_META.json``). The probe must
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

        ``bucket_ids`` (round-15): a pre-collected bucket-id set for
        the probe - skips this method's own driver-blocking collect
        (the IVM folds batch several consumers' id sets into ONE job
        via :meth:`_bucket_ids_multi`). Must be computed under THIS
        table's bucket layout (:meth:`_pruned_ids_ok`) and cover
        every bucket the probe's rows land in; a SUPERSET is safe
        (extra buckets are scanned, the semi join still returns
        exactly the probe's matches)."""
        meta = self._merge_meta(name)
        if meta is None:
            raise ValueError(
                f"read_pruned needs a merged table; {name!r} has no "
                "merge metadata"
            )
        if version is None and not self.exists(name):
            return None
        path = self._version_dir(name, version)
        bucket_cols = meta["bucket_cols"]
        if bucket_ids is None:
            [bucket_ids] = self._bucket_ids_multi(
                probe, [(bucket_cols, meta["num_buckets"])]
            )
        df = self._load(path).filter(
            F.col(_BUCKET_COL).isin(sorted(set(bucket_ids)))
        )
        vals = probe.select(*bucket_cols).distinct()
        return df.drop(_BUCKET_COL).join(F.broadcast(vals), bucket_cols, "semi")

    def _next_version(self, name: str) -> tuple[int, str]:
        """The version number the next commit of ``name`` lands, and the
        directory to write it to."""
        cur = self._current_version(name)
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
        num_files: int | None = None,
        sort_by: Sequence[str] = (),
    ) -> None:
        """Atomic full-snapshot rewrite (the S5 TRUNCATE+INSERT analog).

        ``num_files`` mirrors the reference's hash-bucket sizing signal
        (DISTRIBUTE HASH INTO 20/60/200, SURVEY.md section 4); ``sort_by``
        is the clustered-index analog (sortWithinPartitions -> parquet
        row-group locality for the dedup keys).
        """
        version, out = self._next_version(name)
        writer = df
        if num_files is not None:
            writer = writer.coalesce(num_files)
        if sort_by:
            writer = writer.sortWithinPartitions(*sort_by)
        writer.write.mode("overwrite").format(self.data_format).save(out)
        self._commit(name, version, df.schema)

    # -- incremental (partition-level) merge ---------------------------

    def _merge_meta(self, name: str) -> dict | None:
        p = os.path.join(self._table_dir(name), _MERGE_META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def merge_upsert(
        self,
        delta: DataFrame,
        name: str,
        key_cols: Sequence[str],
        num_buckets: int = 32,
        dense_rewrite_fraction: float = 0.5,
        delete_keys: DataFrame | None = None,
        bucket_cols: Sequence[str] | None = None,
        affected_buckets: Sequence[int] | None = None,
    ) -> dict[str, int]:
        """Key-level upsert that rewrites ONLY the hash buckets the delta
        touches - the incremental alternative to ``overwrite`` for the
        snapshot tables (pattern A/E): a daily run over a 100 TB Commit
        table must not rewrite a year of untouched data to land one day.

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
        more than ``dense_rewrite_fraction`` of the buckets, where the
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
        :meth:`apply_changes` uses. Deleting an absent key is a no-op.

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

        ``affected_buckets`` (round-15): a pre-collected affected
        bucket-id set - skips this merge's own driver-blocking probe
        collect on the incremental path (the IVM folds batch the id
        sets of a fold's several merges/reads into ONE job). It MUST
        cover every bucket the delta's rows and the deleted keys'
        preimages land in, under THIS table's layout
        (:meth:`_pruned_ids_ok`); a SUPERSET is safe - the extra
        buckets are rewritten with unchanged content instead of
        hard-linked (correct, marginally more write I/O). Ignored on
        a fresh or re-bucketing rewrite, which derives nothing from the
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
            incremental = not fresh and self._merge_meta(name) == layout
            affected = None
            if incremental and affected_buckets is not None:
                affected = sorted(set(affected_buckets))
            elif incremental:
                [affected] = self._bucket_ids_multi(
                    bucket_probe, [(bucket_cols, num_buckets)]
                )
            elif not fresh:
                delta.count()  # eager: the rewrite references the cache 2x
            if affected is not None and (
                len(affected) > dense_rewrite_fraction * num_buckets
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

    def apply_changes(
        self,
        changes: DataFrame,
        name: str,
        key_cols: Sequence[str],
        op_col: str = "op",
        seq_col: str | None = None,
        num_buckets: int = 32,
        dense_rewrite_fraction: float = 0.5,
    ) -> dict[str, int]:
        """Apply a CDC change feed in one merge: rows whose ``op_col``
        is ``'D'`` delete their key, everything else ('I'/'U' - the
        merge treats them identically, latest-wins per key) upserts the
        row (without the op column). One new snapshot version, one
        atomic pointer flip, the same bucket-pruned rewrite as
        :meth:`merge_upsert` - the MERGE INTO ... WHEN MATCHED
        [UPDATE|DELETE] / WHEN NOT MATCHED INSERT shape of a
        Delta/Iceberg changefeed apply.

        The feed must carry every ``key_cols`` column. Ordering within
        one feed:

        - ``seq_col`` given: the feed is first reduced to the row with
          the HIGHEST ``seq_col`` per key (one window shuffle on the
          same keys the merge shuffles on anyway), so a mixed
          insert-then-delete replay resolves by sequence order - the
          Debezium/Delta ``APPLY CHANGES ... SEQUENCE BY`` contract.
          Equal-sequence ties are deterministic across OP KINDS only:
          upsert beats delete, then the op string orders 'I' vs 'U'.
          Two upserts with the SAME key, sequence, and op are not
          ordered - which row lands is partition-order dependent -
          matching the reference contract that duplicate sequence
          numbers for one key are a caller error (ADVICE r8 scoped
          this claim). ACROSS feeds (triggers): when the table's
          schema carries ``seq_col``, a late-arriving op whose
          sequence does not exceed the standing row's is dropped as
          stale - out-of-order delivery across triggers folds to the
          in-order state (the cross-trigger SEQUENCE BY contract,
          round-14). Exception, documented and test-pinned: a DELETE
          keeps no tombstone, so a later-trigger lower-sequence op on
          a deleted key re-applies as first contact - feeds must stay
          per-key ordered around deletes (or carry the sequence in a
          table column and re-insert-tolerate). When the table does
          NOT carry ``seq_col`` the reduction stays within-feed only
          - the legacy contract (the sequence is then projected away
          by the merge's schema alignment and nothing remains to
          compare against). The sequence column is an ordinary data
          column: it lands in the table when the table schema carries
          it, and is projected away by the merge's schema alignment
          when it does not.
        - ``seq_col`` omitted (legacy behavior): when one key carries
          BOTH a delete and an upsert, the upsert wins - the delete
          removes the key's OLD row (anti-join) and the upsert row
          still lands on the union side, i.e. a delete+insert replay
          collapses to the insert. Feeds where op ORDER must decide
          must be pre-reduced (or pass ``seq_col``).

        Deleting an absent key is a no-op.
        """
        op = F.upper(F.col(op_col))
        key_cols = list(key_cols)
        fused_ids: list[int] | None = None
        # the persisted reduced feed, bound apart from ``changes``: the
        # stale filter below rebinds ``changes`` to a new frame, and
        # unpersisting that one would leave this cache behind per trigger
        persisted: DataFrame | None = None
        if seq_col is not None:
            # final-op-per-key by sequence; ties prefer the upsert so a
            # same-sequence delete+insert still collapses to the insert
            w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
                F.col(seq_col).desc(),
                (op == "D").cast("int").asc(),
                op.asc(),
            )
            changes = (
                changes.withColumn("__cdc_rn", F.row_number().over(w))
                .where(F.col("__cdc_rn") == 1)
                .drop("__cdc_rn")
            )
            if self._pruned_ids_ok(name, key_cols, num_buckets):
                # round-15 (VERDICT r14 #1/#7): the standing-seq point
                # read below and the merge's affected set share the
                # reduced feed's key universe (ups + dels partition
                # it; the stale filter only shrinks it) - ONE id
                # collect serves both, replacing two driver-blocking
                # probe jobs per trigger. The collect runs AFTER the
                # window reduction over the persisted reduced feed,
                # so it doubles as the cache materializer: the merge's
                # write job then reuses the window output instead of
                # racing to recompute it per reference (the r14
                # cache-fill-on-first-action rule; skipping this
                # ordering measured +18-34% on the streaming arms).
                persisted = changes = changes.persist()
                [fused_ids] = self._bucket_ids_multi(
                    changes.select(*key_cols), [(key_cols, num_buckets)]
                )
            # CROSS-TRIGGER ordering (round-14, VERDICT r13 #5): when
            # the standing table CARRIES the sequence column, an
            # arriving op whose sequence does not EXCEED the standing
            # row's is STALE - a late delivery of an op the table has
            # already moved past - and is dropped, so out-of-order
            # feeds across triggers fold to the same state as the
            # in-order replay (the Delta APPLY CHANGES ... SEQUENCE BY
            # contract, extended from within-feed to across-feed).
            # The standing-seq read is a bucket-pruned point read of
            # exactly the feed's keys. LIMIT of the contract: a key
            # DELETED at sequence S keeps no tombstone, so a
            # later-trigger op with sequence < S re-applies as if
            # first contact - cross-trigger ordering around deletes
            # needs per-key-ordered feeds (the docstring contract).
            # A table NOT carrying the sequence column keeps the
            # legacy within-feed-only semantics.
            if (
                self._merge_meta(name) is not None
                and self.exists(name)
                and seq_col in self._schema(self._version_dir(name)).names
            ):
                prior = self.read_pruned(
                    name, changes.select(*key_cols), bucket_ids=fused_ids
                ).select(*key_cols, F.col(seq_col).alias("__prior_seq"))
                changes = (
                    changes.join(F.broadcast(prior), key_cols, "left")
                    .where(
                        F.col("__prior_seq").isNull()
                        | (F.col(seq_col) > F.col("__prior_seq"))
                    )
                    .drop("__prior_seq")
                )
        ups = changes.where(op != "D").drop(op_col)
        dels = changes.where(op == "D").select(*list(key_cols)).distinct()
        try:
            return self.merge_upsert(
                ups,
                name,
                key_cols,
                num_buckets=num_buckets,
                dense_rewrite_fraction=dense_rewrite_fraction,
                delete_keys=dels,
                affected_buckets=fused_ids,
            )
        finally:
            if persisted is not None:
                persisted.unpersist(blocking=False)

    def table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        op_col: str = "op",
        with_preimages: bool = False,
    ) -> DataFrame:
        """Changefeed EMISSION - the read-side dual of
        :meth:`apply_changes` (the Delta ``table_changes()`` shape):
        diff two retained snapshot versions of a MERGED table into an
        (op, row) feed a downstream consumer can subscribe to without
        rescanning snapshots. One row per changed key: ``op`` is
        ``'I'`` (key only in ``to``), ``'D'`` (key only in ``from`` -
        the row carries the deleted values), or ``'U'`` (key in both,
        any non-key column differing null-safely - the row carries the
        POST-image); unchanged keys never appear. The emitted feed
        replayed through :meth:`apply_changes` onto the ``from``
        snapshot reproduces the ``to`` snapshot exactly - the
        roundtrip contract the CDC loop (stats/cluster tables) closes.

        ``with_preimages=True`` emits the Delta CDF change-type set
        instead: each update becomes TWO rows - ``'U_pre'`` carrying
        the PRE-image and ``'U_post'`` the post-image (Delta's
        ``update_preimage`` / ``update_postimage``) - while I/D rows
        are unchanged. This is what a downstream AGGREGATE consumer
        needs: retractable aggregates (counts, integer sums) fold a
        preimage feed exactly (+post, -pre), so a standing stats table
        can subscribe to the feed instead of re-reading the upstream
        (see :func:`fold_changes_into_stats`). Post-image-only feeds
        cannot support retraction - the plain form stays the
        :meth:`apply_changes` replay format.

        Bucket-pruned via the merge layout: versions share the
        ``_kb`` hash-bucket partitioning of ``_MERGE_META.json``, and
        :meth:`merge_upsert` HARD-LINKS untouched buckets between
        versions - a bucket whose files are inode-identical across the
        two versions cannot differ and is skipped without reading a
        byte (the local-fs analog of diffing Delta/Iceberg manifests).
        Only differing buckets are scanned, each side with its
        version's recorded ``_SCHEMA.json``, and diffed on the key
        columns, so emission cost scales with the CHANGED fraction of
        the table, not its size.

        Requires the merged (bucketed) layout: both versions must be
        retained (``retain >= 2`` keeps the previous one by default)
        and the table must carry merge metadata. The diff pairs rows by
        key and relies on keys being unique per version, the merge
        sink's invariant. Duplicate keys within one side are not
        detected and do not surface as separate changes: the
        union-aggregate diff collapses them into one row holding the
        column-wise max of the duplicates (the join form, used for
        tables with map columns, pairs them as a cross product)."""
        meta = self._merge_meta(name)
        if meta is None:
            raise ValueError(
                f"table {name!r} has no merge metadata - table_changes "
                "diffs the bucketed layout merge_upsert/apply_changes "
                "maintain"
            )
        key_cols = list(meta["key_cols"])
        old_path = self._version_dir(name, from_version)
        new_path = self._version_dir(name, to_version)

        def _bucket_files(vpath: str) -> dict[int, list[tuple[str, int]]]:
            out: dict[int, list[tuple[str, int]]] = {}
            for d in os.listdir(vpath):
                if not d.startswith(f"{_BUCKET_COL}="):
                    continue
                b = int(d.split("=", 1)[1])
                bdir = os.path.join(vpath, d)
                out[b] = sorted(
                    (f, os.stat(os.path.join(bdir, f)).st_ino)
                    for f in os.listdir(bdir)
                    if not f.startswith((".", "_"))
                )
            return out

        old_b = _bucket_files(old_path)
        new_b = _bucket_files(new_path)
        changed = sorted(
            b
            for b in set(old_b) | set(new_b)
            if old_b.get(b) != new_b.get(b)
        )

        def _logical(vpath: str) -> StructType:
            return StructType(
                [f for f in self._schema(vpath) if f.name != _BUCKET_COL]
            )

        logical = _logical(new_path)
        cols = logical.names
        val_cols = [c for c in cols if c not in key_cols]

        def _side(vpath: str, src: dict) -> DataFrame:
            # the bucket dirs are loaded directly, so the schema is the
            # version's recorded one without the partition column
            dirs = [
                os.path.join(vpath, f"{_BUCKET_COL}={b}")
                for b in changed
                if b in src
            ]
            if not dirs:
                return self.spark.createDataFrame([], logical)
            return (
                self.spark.read.format(self.data_format)
                .schema(_logical(vpath))
                .load(dirs)
                .select(*cols)
            )

        # The two sides pair up by key as a FULL-OUTER diff. A full
        # outer join can never broadcast a side (Spark supports it
        # only via sort-merge / shuffled-hash), so the join form
        # always costs TWO Exchanges plus two sorts. Keys are UNIQUE
        # per side (the merge sink's invariant), so the same pairing
        # is ONE tagged union aggregated by key - one Exchange, hash
        # aggregation, no sort (guide 2.4: remove shuffles outright).
        # The pivot is COLUMN-WISE max(when(side, c)): with at most
        # one row per side per key, max-over-one-value reconstructs
        # each side exactly, and the presence flags disambiguate a
        # present-but-NULL value from an absent row. max keeps the
        # aggregate hash-based (a struct-valued first() would force
        # SortAggregate - measured 25-45% SLOWER than the join form;
        # negative result recorded in OPTIMIZATION_r15.md). Map-typed
        # columns are not orderable, so such tables keep the join
        # form. groupBy treats NULL keys as one group, matching the
        # join form's eqNullSafe key equality.
        def _orderable(dt) -> bool:
            from pyspark.sql.types import (
                ArrayType as _AT,
                MapType as _MT,
                StructType as _ST,
            )

            if isinstance(dt, _MT):
                return False
            if isinstance(dt, _AT):
                return _orderable(dt.elementType)
            if isinstance(dt, _ST):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        if all(_orderable(f.dataType) for f in logical.fields):
            tag = F.col("_o_side")
            o = _side(old_path, old_b).select(
                F.lit(True).alias("_o_side"), *cols
            )
            n = _side(new_path, new_b).select(
                F.lit(False).alias("_o_side"), *cols
            )
            j = (
                o.unionByName(n)
                .groupBy(*[F.col(k) for k in key_cols])
                .agg(
                    F.max(F.when(tag, F.lit(1))).alias("_o_present"),
                    F.max(F.when(~tag, F.lit(1))).alias("_n_present"),
                    *[
                        F.max(F.when(tag, F.col(c))).alias(f"_o_{c}")
                        for c in val_cols
                    ],
                    *[
                        F.max(F.when(~tag, F.col(c))).alias(f"_n_{c}")
                        for c in val_cols
                    ],
                )
                .select(
                    F.col("_o_present"),
                    F.col("_n_present"),
                    *[
                        F.when(
                            F.col("_o_present").isNotNull(), F.col(k)
                        ).alias(f"_o_{k}")
                        for k in key_cols
                    ],
                    *[
                        F.when(
                            F.col("_n_present").isNotNull(), F.col(k)
                        ).alias(f"_n_{k}")
                        for k in key_cols
                    ],
                    *[F.col(f"_o_{c}") for c in val_cols],
                    *[F.col(f"_n_{c}") for c in val_cols],
                )
            )
        else:
            o = _side(old_path, old_b).select(
                F.lit(1).alias("_o_present"),
                *[F.col(c).alias(f"_o_{c}") for c in cols],
            )
            n = _side(new_path, new_b).select(
                F.lit(1).alias("_n_present"),
                *[F.col(c).alias(f"_n_{c}") for c in cols],
            )
            cond = None
            for k in key_cols:
                eq = F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}"))
                cond = eq if cond is None else (cond & eq)
            j = o.join(n, cond, "full_outer")
        differs = ~F.struct(
            *[F.col(f"_o_{c}") for c in val_cols]
        ).eqNullSafe(F.struct(*[F.col(f"_n_{c}") for c in val_cols]))
        op = (
            F.when(F.col("_o_present").isNull(), F.lit("I"))
            .when(F.col("_n_present").isNull(), F.lit("D"))
            .when(differs, F.lit("U"))
        )
        pick = lambda c: F.when(  # noqa: E731 - post-image for I/U, pre for D
            F.col("_n_present").isNotNull(), F.col(f"_n_{c}")
        ).otherwise(F.col(f"_o_{c}"))
        if not with_preimages:
            return (
                j.withColumn(op_col, op)
                .filter(F.col(op_col).isNotNull())
                .select(op_col, *[pick(c).alias(c) for c in cols])
            )
        # CDF form: one pass - U rows explode into (U_pre, U_post)
        pre_s = F.struct(
            F.lit("U_pre").alias(op_col),
            *[F.col(f"_o_{c}").alias(c) for c in cols],
        )
        post_s = F.struct(
            F.lit("U_post").alias(op_col),
            *[F.col(f"_n_{c}").alias(c) for c in cols],
        )
        plain_s = F.struct(
            op.alias(op_col), *[pick(c).alias(c) for c in cols]
        )
        rows = F.when(op == "U", F.array(pre_s, post_s)).otherwise(
            F.array(plain_s)
        )
        return (
            j.withColumn(op_col, op)
            .filter(F.col(op_col).isNotNull())
            .select(F.explode(rows).alias("_r"))
            .select(f"_r.{op_col}", *[F.col(f"_r.{c}").alias(c) for c in cols])
        )

    def fold_changes_into_stats(
        self,
        feed: DataFrame,
        stats_table: str,
        group_cols: Sequence[str],
        value_col: str,
        op_col: str = "op",
        num_buckets: int = 16,
    ) -> None:
        """Incremental-view maintenance of a standing AGGREGATE table
        from a PREIMAGE changefeed alone - the Delta Live Tables shape:
        a downstream per-group stats table (group, n, n_vals, sum_v)
        maintained purely by SUBSCRIBING to
        :meth:`table_changes`(..., with_preimages=True) feeds of the
        upstream table, never re-reading it. Retractable fold: I /
        U_post rows contribute +1 / +value, D / U_pre rows -1 / -value;
        ``value_col`` must be INTEGER-typed (integer sums retract
        exactly under any order - float retraction drifts, the standard
        IVM restriction; quantize upstream, e.g. cents). ``n_vals``
        counts non-null values so a group whose values are all NULL
        reports sum_v NULL, matching a from-scratch aggregate. A plain
        post-image-only ``'U'`` row raises loudly - folding it would
        silently double-count instead of retracting.

        The merge touches only CHANGED groups: the feed's groups fold
        against their standing rows (left join - feed side is
        aggregate-sized), groups whose count reaches zero are DELETED,
        and :meth:`merge_upsert` rewrites only the affected buckets.
        Group keys must be non-null (the merge layout's key contract);
        coalesce upstream. Cost per fold is O(feed + touched groups),
        independent of the stats table's total size - min/max-style
        non-retractable aggregates deliberately excluded.

        Round-13: the standing side arrives through :meth:`read_pruned`
        (the stats table is merged on the group key, so it is
        group-bucketed by construction) - the prior-values read now
        SCANS only the touched groups' buckets instead of filtering a
        full scan, on top of the existing broadcast-semi prune. A
        stats table that exists WITHOUT merge metadata (bootstrapped
        via :meth:`overwrite`) degrades to the pre-round-13
        broadcast-semi-pruned full read for this one fold; the merge
        below re-buckets it, so every later fold takes the pruned
        path (ADVICE r13: the read_pruned switch must not reject
        externally-bootstrapped tables the old path accepted)."""
        group_cols = list(group_cols)
        # round-15 (VERDICT r14 #1): one fused id collect serves BOTH
        # the standing read's bucket prune and the merge's affected
        # set - the folded output's groups are exactly the feed's
        # touched groups, so the set is EXACT for the merge too. The
        # feed (a table_changes diff subtree) is persisted across the
        # collect and the write instead of recomputing per action.
        feed = feed.persist()
        try:
            affected: list[int] | None = None
            if not self.exists(stats_table):
                standing = None
            elif self._pruned_ids_ok(stats_table, group_cols, num_buckets):
                [ids] = self._bucket_ids_multi(
                    feed, [(group_cols, num_buckets)]
                )
                standing = self.read_pruned(
                    stats_table, feed.select(*group_cols), bucket_ids=ids
                )
                meta_s = self._merge_meta(stats_table)
                if meta_s and meta_s.get("key_cols") == group_cols:
                    affected = ids
            elif self._merge_meta(stats_table) is not None:
                standing = self.read_pruned(
                    stats_table, feed.select(*group_cols)
                )
            else:
                standing = self.read_or_none(stats_table).join(
                    F.broadcast(feed.select(*group_cols).distinct()),
                    list(group_cols),
                    "semi",
                )
            folded = fold_stats_delta(
                feed, standing, group_cols, value_col, op_col,
            )
            ups = folded.filter(F.col("n") > 0)
            dels = folded.filter(F.col("n") <= 0).select(
                *group_cols
            ).distinct()
            self.merge_upsert(
                ups, stats_table, group_cols,
                num_buckets=num_buckets, delete_keys=dels,
                affected_buckets=affected,
            )
        finally:
            feed.unpersist(blocking=False)

    def fold_changes_into_join(
        self,
        feed_a: DataFrame | None,
        feed_b: DataFrame | None,
        join_table: str,
        index_table: str,
        b_table: str,
        a_key_cols: Sequence[str],
        join_cols: Sequence[str],
        op_col: str = "op",
        num_buckets: int = 16,
    ) -> None:
        """Incremental-view maintenance of a standing materialized
        EQUI-JOIN from the two upstreams' PREIMAGE changefeeds - the
        join-shaped Delta Live Tables piece (:meth:`table_changes`
        ``with_preimages=True`` feeds in, never an upstream rescan).
        The maintained view is ``J = A JOIN B ON join_cols`` for an FK
        join (``join_cols`` = B's primary key, so each A row yields at
        most one J row and J's primary key is A's key).

        Delta-join algebra, each term feed-sized or touched-key-sized:

        * ``dA JOIN B_new``: the A feed's post-images probe the
          CURRENT ``b_table`` through :meth:`read_pruned` - B is
          keyed (and therefore bucketed) by ``join_cols``, so the
          probe reads only the touched buckets;
        * ``A_new JOIN dB``: the A side comes from ``index_table``, a
          standing SECONDARY INDEX of A - same rows, keyed by
          ``a_key_cols`` but laid out with ``bucket_cols=join_cols``
          (maintained here from ``feed_a`` first) - so "all A rows
          whose join key changed in B" is also a partition-pruned
          point read, never an A scan;
        * the ``dA JOIN dB`` overlap lands identically through both
          terms and dedups by key before the merge.

        Retractions ride ``delete_keys``: a feed-a D/U_pre removes the
        key's J row (the post-image term re-adds it if it still
        matches - an UPDATE THAT MOVES the FK lands in its new join
        key's row, and an FK pointing at a missing B key drops out of
        J, inner-join semantics); a feed-b D removes every J row whose
        join key died, discovered through the pruned index read.
        Bootstrap: fold all-'I' feeds of the initial snapshots (the
        :meth:`fold_changes_into_stats` idiom) - correct at any size
        (feed-side joins carry no static broadcast hint; AQE picks the
        strategy from runtime sizes), but at warehouse scale prefer
        constructing the initial J and index DIRECTLY (one join + two
        merges) and reserving the fold path for daily delta-sized
        feeds, whose probes are what :meth:`read_pruned`'s broadcast
        is sized for. A plain post-image-only ``'U'`` in either feed
        raises loudly (folding it would leave the moved FK's old row
        behind).

        Cost per fold is O(feeds + touched buckets); the standing
        join, index, and B tables are each touched only through
        bucket-pruned reads and bucket-pruned merges - at 100 TB a
        quiet day costs proportional to the day, not the view."""
        a_key_cols = list(a_key_cols)
        join_cols = list(join_cols)
        guard = _preimage_op_guard(op_col, "fold_changes_into_join")
        ups_j: DataFrame | None = None
        del_j: DataFrame | None = None

        def _merge_j(
            ups: DataFrame | None,
            dels: DataFrame | None,
            affected: Sequence[int] | None = None,
        ) -> None:
            if ups is None and dels is None:
                return
            if ups is not None:
                # the dA JOIN dB overlap arrives via BOTH terms with
                # identical values - dedup by J's key before the merge
                # (merge_upsert unions every delta row per key)
                self.merge_upsert(
                    ups.dropDuplicates(a_key_cols), join_table, a_key_cols,
                    num_buckets=num_buckets, delete_keys=dels,
                    affected_buckets=affected,
                )
            elif dels is not None and self.exists(join_table):
                empty = self.read(join_table).limit(0)
                self.merge_upsert(
                    empty, join_table, a_key_cols,
                    num_buckets=num_buckets, delete_keys=dels,
                    affected_buckets=affected,
                )

        try:
            if feed_a is not None:
                # persist only: the fused id collect below is the
                # first action and scans both filter arms,
                # materializing the cache (round-14 job trim)
                feed_a = feed_a.withColumn(op_col, guard).persist()
                a_posts = feed_a.filter(
                    F.col(op_col).isin("I", "U_post")
                ).drop(op_col)
                a_pres = feed_a.filter(F.col(op_col).isin("D", "U_pre"))

                # round-15 (VERDICT r14 #1): ONE collect job computes
                # the whole feed's bucket ids under BOTH layouts -
                # join-key buckets (exact affected set of the index
                # merge: posts' new keys + preimages' old keys ARE the
                # feed; also a superset probe for the pruned B read)
                # and A-key buckets (affected superset for the J
                # merge: every J upsert/delete key is a feed key; keys
                # whose post-image matched nothing in B rewrite their
                # J bucket unchanged - feed-sized extra write I/O,
                # never a scan). This replaces the index merge's
                # probe collect, the B read's probe collect, and (in
                # the A-only fold) the J merge's probe collect - three
                # driver-blocking jobs - with one.
                jc_ids, ak_ids = self._bucket_ids_multi(
                    feed_a,
                    [(join_cols, num_buckets), (a_key_cols, num_buckets)],
                )
                idx_affected = (
                    jc_ids
                    if self._pruned_ids_ok(
                        index_table, join_cols, num_buckets
                    )
                    else None
                )
                j_affected = (
                    ak_ids
                    if self._pruned_ids_ok(
                        join_table, a_key_cols, num_buckets
                    )
                    else None
                )

                # 1. maintain the secondary index (A keyed by pk,
                # bucketed by join key); preimages carry the OLD join
                # key so a moved row's old bucket is rewritten too
                def _index_merge() -> None:
                    self.merge_upsert(
                        a_posts, index_table, a_key_cols,
                        num_buckets=num_buckets, bucket_cols=join_cols,
                        delete_keys=a_pres.select(*a_key_cols, *join_cols),
                        affected_buckets=idx_affected,
                    )

                # 2. dA JOIN B_new - bucket-pruned probe of the CURRENT
                # B. No static broadcast hint on the feed side: a DAILY
                # feed is small (AQE broadcasts it at runtime from real
                # sizes), but a BOOTSTRAP all-'I' feed is the whole
                # table - a forced broadcast there would ship the table
                # to every executor; AQE picks the right strategy for
                # both. A B table that does not exist yet (two-upstream
                # streaming bootstrap: the A stream's first trigger may
                # run before B's) joins nothing - dB will produce these
                # J rows when B arrives. With the fused ids the read
                # plans lazily - no driver-blocking job of its own.
                def _b_read() -> DataFrame | None:
                    if self._merge_meta(b_table) is None:
                        return None
                    b_ids = (
                        jc_ids
                        if self._pruned_ids_ok(
                            b_table, join_cols, num_buckets
                        )
                        else None
                    )
                    return self.read_pruned(
                        b_table, a_posts, bucket_ids=b_ids
                    )

                if feed_b is None:
                    # A-side-only fold (the daily fact feed / streaming
                    # fact arm): the J chain reads B and writes J, the
                    # index merge reads/writes only the index - two
                    # fully disjoint table sets sharing one persisted
                    # feed. Run the WHOLE chains concurrently (guide
                    # 2.6): the J merge no longer waits for the index
                    # merge it never reads.
                    def _j_chain() -> None:
                        b_pruned = _b_read()
                        ups = (
                            a_posts.join(b_pruned, join_cols, "inner")
                            if b_pruned is not None
                            else None
                        )
                        _merge_j(
                            ups, a_pres.select(*a_key_cols).distinct(),
                            affected=j_affected,
                        )

                    run_concurrently(_index_merge, _j_chain)
                    return
                # both feeds: the dB term reads the index AFTER its
                # merge; the B-side probe plans lazily off the fused
                # ids. feed_b's OWN id collect is independent of the
                # index write (it only scans the persisted feed), so
                # the two share this slot (guide 2.6). On the
                # bootstrap fold the index table's meta lands
                # concurrently - the probe then simply reports
                # unfused (None) and the later read does its own
                # collect; correctness is unaffected (os.replace
                # makes the meta read atomic either way).
                feed_b = feed_b.withColumn(op_col, guard).persist()

                def _b_feed_ids() -> list[int] | None:
                    if not self._pruned_ids_ok(
                        index_table, join_cols, num_buckets
                    ):
                        return None
                    [i2] = self._bucket_ids_multi(
                        feed_b, [(join_cols, num_buckets)]
                    )
                    return i2

                _, b_feed_ids = run_concurrently(_index_merge, _b_feed_ids)
                b_pruned = _b_read()
                if b_pruned is not None:
                    ups_j = a_posts.join(b_pruned, join_cols, "inner")
                del_j = a_pres.select(*a_key_cols).distinct()

            if feed_b is not None:
                if feed_a is None:
                    feed_b = feed_b.withColumn(op_col, guard).persist()
                    b_feed_ids = None
                    if self._pruned_ids_ok(
                        index_table, join_cols, num_buckets
                    ):
                        [b_feed_ids] = self._bucket_ids_multi(
                            feed_b, [(join_cols, num_buckets)]
                        )
                b_posts = feed_b.filter(
                    F.col(op_col).isin("I", "U_post")
                ).drop(op_col)
                b_dels = feed_b.filter(F.col(op_col) == "D").select(
                    *join_cols
                ).distinct()
                # 3. A_new JOIN dB - pruned read of the index AFTER
                # step 1 (feed-side broadcast left to AQE, same
                # bootstrap rationale); a missing index = no A rows
                # yet. The probe's id set is exact (the probe IS
                # feed_b's join-col values), collected above.
                a_side = None
                if self._merge_meta(index_table) is not None:
                    a_side = self.read_pruned(
                        index_table, feed_b, bucket_ids=b_feed_ids
                    )
                if a_side is not None:
                    jb = a_side.join(b_posts, join_cols, "inner")
                    ups_j = jb if ups_j is None else ups_j.unionByName(jb)
                    dead = a_side.join(
                        b_dels, join_cols, "semi"
                    ).select(*a_key_cols).distinct()
                    del_j = (
                        dead if del_j is None
                        else del_j.unionByName(dead).distinct()
                    )
                # the B-side terms' J keys come from the index read -
                # unknowable driver-side without executing the join,
                # so the J merge keeps its own probe collect here
                # (it doubles as the cache materializer for ups_j)

            _merge_j(ups_j, del_j)
        finally:
            # unpersist on EVERY exit - the early returns and a failed
            # merge must not pin feed-sized frames in executor memory
            # (ADVICE r13)
            for f in (feed_a, feed_b):
                if f is not None:
                    f.unpersist(blocking=False)

    def fold_changes_into_extrema(
        self,
        feed: DataFrame,
        upstream_table: str,
        stats_table: str,
        group_cols: Sequence[str],
        value_col: str,
        op_col: str = "op",
        num_buckets: int = 16,
        upstream_version: int | None = None,
    ) -> None:
        """IVM of a standing per-group EXTREMA table (group, n,
        n_vals, min_v, max_v) from a preimage changefeed - the
        NON-RETRACTABLE-aggregate companion of
        :meth:`fold_changes_into_stats` (which deliberately excludes
        min/max: a sum retracts algebraically, an extremum does not -
        deleting the max says nothing about the runner-up).

        The fold is incremental everywhere retraction is exact and
        re-derives ONLY where it is not:

        * ``n`` / ``n_vals`` fold retractably (+1/-1) - counts are
          exact under any order, any value type (no integer
          restriction here: min/max/count never sum);
        * inserts raise extrema monotonically:
          ``max = greatest(prior, batch max)``;
        * a D/U_pre whose value TIES the group's standing extremum may
          have been the last copy - exactly those groups re-derive,
          with a :meth:`read_pruned` point read of the POST-state
          upstream. ``upstream_table`` must therefore be maintained
          with ``bucket_cols=group_cols`` (the secondary-index merge
          layout), so the re-derivation reads only the touched
          groups' buckets - O(touched groups), never an upstream
          scan. Groups whose count reaches zero are deleted.

        Fold AFTER landing the upstream's day (the re-derivation reads
        the post-state). A plain post-image-only 'U' raises loudly.

        ``upstream_version`` pins the re-derivation's upstream read to
        a retained snapshot version (snapshot isolation): capture the
        post-day version BEFORE overlapping this fold with the next
        day's upstream merge (guide 2.6), so the concurrent pointer
        flip can never be observed mid-fold. Default None reads the
        current pointer - the sequential behavior."""
        group_cols = list(group_cols)
        meta = self._merge_meta(upstream_table)
        if meta is None or (
            meta.get("bucket_cols") or meta["key_cols"]
        ) != group_cols:
            raise ValueError(
                "fold_changes_into_extrema re-derives touched groups "
                f"through bucket-pruned reads: {upstream_table!r} must "
                f"be merged with bucket_cols={group_cols!r} (have "
                f"{None if meta is None else meta.get('bucket_cols', meta['key_cols'])!r})"
            )
        # round-15 (VERDICT r14 #1): one fused id collect serves the
        # standing read's prune AND the merge's affected set (folded
        # groups = the feed's touched groups, exact); the feed is
        # persisted across them. The folded frame's eager count is
        # gone: the re-derivation probe collect (or the merge write)
        # is the next action and materializes the cache - actions
        # within one fold are sequential, so nothing races it.
        feed = feed.persist()
        affected: list[int] | None = None
        if not self.exists(stats_table):
            standing = None
        elif self._pruned_ids_ok(stats_table, group_cols, num_buckets):
            [ids] = self._bucket_ids_multi(
                feed, [(group_cols, num_buckets)]
            )
            standing = self.read_pruned(
                stats_table, feed.select(*group_cols), bucket_ids=ids
            )
            meta_s = self._merge_meta(stats_table)
            if meta_s and meta_s.get("key_cols") == group_cols:
                affected = ids
        else:
            standing = self.read_pruned(
                stats_table, feed.select(*group_cols)
            )
        folded = fold_extrema_delta(
            feed, standing, group_cols, value_col, op_col,
        ).persist()
        try:
            live = folded.filter(F.col("n") > 0)
            dels = folded.filter(F.col("n") <= 0).select(
                *group_cols
            ).distinct()
            rederive = live.filter(F.col("_rederive"))
            incremental = live.filter(~F.col("_rederive")).drop("_rederive")
            pruned = self.read_pruned(
                upstream_table, rederive.select(*group_cols),
                version=upstream_version,
            )
            if pruned is not None:
                v = F.col(value_col)
                fresh = pruned.groupBy(*group_cols).agg(
                    F.min(v).alias("min_v"), F.max(v).alias("max_v")
                )
                redone = (
                    rederive.drop("_rederive", "min_v", "max_v")
                    .join(F.broadcast(fresh), group_cols, "left")
                    .select(*incremental.columns)
                )
                ups = incremental.unionByName(redone)
            elif rederive.limit(1).count() > 0:
                # groups NEED re-deriving but the upstream has no
                # current version (e.g. a crashed bootstrap between the
                # meta write and the pointer flip): silently folding
                # only the incremental arm would leave those groups'
                # extrema stale - the "fold after landing the
                # upstream's day" precondition is violated (ADVICE r13)
                raise ValueError(
                    f"fold_changes_into_extrema: {upstream_table!r} has "
                    "no current version but the feed retracts standing "
                    "extrema that must re-derive from it - land the "
                    "upstream's day before folding"
                )
            else:
                ups = incremental
            self.merge_upsert(
                ups, stats_table, group_cols,
                num_buckets=num_buckets, delete_keys=dels,
                affected_buckets=affected,
            )
        finally:
            folded.unpersist(blocking=False)
            feed.unpersist(blocking=False)

    def fold_changes_into_hll(
        self,
        feed: DataFrame,
        upstream_table: str,
        hll_table: str,
        group_cols: Sequence[str],
        value_col: str,
        op_col: str = "op",
        num_buckets: int = 16,
        upstream_version: int | None = None,
    ) -> None:
        """IVM of a standing per-group COUNT DISTINCT sketch table
        (group, n, n_vals, regs map<bucket, m_rho>) from a preimage
        changefeed - the remaining non-retractable aggregate family
        after :meth:`fold_changes_into_stats` (count/sum) and
        :meth:`fold_changes_into_extrema` (min/max). The registers are
        the HyperLogLog state of ``operators/sketches.hll_registers``
        (identical hashing), so the maintained table estimates
        ``COUNT(DISTINCT value)`` per group on demand via
        ``hll_estimate_from_registers`` without ever rescanning the
        upstream.

        The fold follows the extrema idiom - incremental everywhere
        the register algebra is exact, re-derive ONLY where it is not:

        * ``n`` / ``n_vals`` fold retractably (+1/-1, exact under any
          order);
        * an INSERT only ever RAISES registers: the new value's
          (bucket, rho) folds as ``m_rho = greatest(prior, rho)`` -
          register max is monotone, exactly the property that makes
          HLL registers mergeable (``hll_merge``);
        * a D/U_pre whose rho TIES its bucket's standing ``m_rho`` may
          have been the last value attaining that register (a register
          cannot retract - deleting the max-rho value says nothing
          about the runner-up): exactly those groups re-derive their
          registers with a :meth:`read_pruned` point read of the
          POST-state upstream, which must therefore be maintained with
          ``bucket_cols=group_cols`` - O(touched groups), never an
          upstream scan. A retraction whose rho sits strictly below
          the register max folds as a pure count change (another value
          still attains the register). Groups whose count reaches
          zero are deleted.

        Fold AFTER landing the upstream's day (the re-derivation reads
        the post-state; re-deriving with no upstream current version
        raises loudly). A plain post-image-only 'U' raises loudly.
        Values of any type (hashed as strings, the sketch convention);
        NULL values never touch registers, mirroring the
        ``WHERE value IS NOT NULL`` of every HLL oracle.

        ``upstream_version`` pins the re-derivation's upstream read to
        a retained snapshot version (snapshot isolation): capture the
        post-day version BEFORE overlapping this fold with the next
        day's upstream merge (guide 2.6), so the concurrent pointer
        flip can never be observed mid-fold. Default None reads the
        current pointer - the sequential behavior."""
        from ghcrawler_datalake_etl_spark.operators.sketches import (
            _empty_regs,
            hll_bucket_rho,
            hll_registers,
        )

        group_cols = list(group_cols)
        meta = self._merge_meta(upstream_table)
        if meta is None or (
            meta.get("bucket_cols") or meta["key_cols"]
        ) != group_cols:
            raise ValueError(
                "fold_changes_into_hll re-derives tied groups through "
                f"bucket-pruned reads: {upstream_table!r} must be "
                f"merged with bucket_cols={group_cols!r} (have "
                f"{None if meta is None else meta.get('bucket_cols', meta['key_cols'])!r})"
            )
        guard = _preimage_op_guard(op_col, "fold_changes_into_hll")
        # persist only: the standing read's probe collect (or, on the
        # first fold, the folded-counts materialization) is the first
        # action and scans the feed, populating the cache
        feed = feed.withColumn(op_col, guard).persist()
        try:
            ins = F.col(op_col).isin("I", "U_post")
            rem = F.col(op_col).isin("D", "U_pre")
            sign = F.when(ins, F.lit(1)).otherwise(F.lit(-1))
            v = F.col(value_col)
            counts = feed.groupBy(*group_cols).agg(
                F.sum(sign).cast("long").alias("_dn"),
                F.sum(F.when(v.isNotNull(), sign).otherwise(F.lit(0)))
                .cast("long")
                .alias("_dnv"),
            )
            ireg = hll_registers(feed.filter(ins), value_col, group_cols)
            bucket, rho = hll_bucket_rho(v)
            rreg = (
                feed.filter(rem & v.isNotNull())
                .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
                .groupBy(*group_cols, "bucket")
                .agg(F.max("rho").alias("_r_rho"))
            )
            # round-15 (VERDICT r14 #1): one fused id collect serves
            # the standing read's prune AND the merge's affected set
            # (folded groups = the feed's touched groups, exact)
            hll_affected: list[int] | None = None
            if not self.exists(hll_table):
                standing = None
            elif self._pruned_ids_ok(hll_table, group_cols, num_buckets):
                [ids] = self._bucket_ids_multi(
                    feed, [(group_cols, num_buckets)]
                )
                standing = self.read_pruned(
                    hll_table, feed.select(*group_cols), bucket_ids=ids
                )
                meta_s = self._merge_meta(hll_table)
                if meta_s and meta_s.get("key_cols") == group_cols:
                    hll_affected = ids
            else:
                standing = self.read_pruned(
                    hll_table, feed.select(*group_cols)
                )
            if standing is not None:
                sregs = standing.select(
                    *group_cols, F.explode("regs").alias("bucket", "m_rho")
                )
                scounts = standing.select(
                    *group_cols,
                    F.col("n").alias("_pn"),
                    F.col("n_vals").alias("_pnv"),
                )
                # a retraction whose rho ties (or, inconsistently,
                # exceeds/misses) its bucket's standing register max
                # invalidates the register - the group re-derives
                red_groups = (
                    rreg.join(sregs, [*group_cols, "bucket"], "left")
                    .filter(
                        F.col("m_rho").isNull()
                        | (F.col("_r_rho") >= F.col("m_rho"))
                    )
                    .select(*group_cols)
                    .distinct()
                )
            else:
                scounts = None
                sregs = None
                red_groups = rreg.select(*group_cols).limit(0)
            if scounts is not None:
                folded = counts.join(F.broadcast(scounts), group_cols, "left")
            else:
                folded = counts.withColumn(
                    "_pn", F.lit(None).cast("long")
                ).withColumn("_pnv", F.lit(None).cast("long"))
            folded = folded.select(
                *group_cols,
                (F.coalesce(F.col("_pn"), F.lit(0)) + F.col("_dn")).alias(
                    "n"
                ),
                (F.coalesce(F.col("_pnv"), F.lit(0)) + F.col("_dnv")).alias(
                    "n_vals"
                ),
            ).persist()
            # no eager count (round-15): the re-derivation probe
            # collect (or, on the no-upstream error path, the
            # limit(1) guard) is the next action and materializes
            # the cache - actions within one fold are sequential
            try:
                live = folded.filter(F.col("n") > 0)
                dels = (
                    folded.filter(F.col("n") <= 0)
                    .select(*group_cols)
                    .distinct()
                )
                red_groups = red_groups.join(
                    live.select(*group_cols), group_cols, "semi"
                )
                # incremental arm: registers = per-bucket max of the
                # standing registers union the insert registers
                inc = live.join(red_groups, group_cols, "left_anti")
                reg_src = ireg if sregs is None else sregs.unionByName(
                    ireg.select(*sregs.columns)
                )
                inc_regs = (
                    reg_src.join(
                        F.broadcast(inc.select(*group_cols)),
                        group_cols,
                        "semi",
                    )
                    .groupBy(*group_cols, "bucket")
                    .agg(F.max("m_rho").alias("m_rho"))
                    .groupBy(*group_cols)
                    .agg(
                        F.map_from_entries(
                            F.collect_list(F.struct("bucket", "m_rho"))
                        ).alias("regs")
                    )
                )
                ups = inc.join(inc_regs, group_cols, "left").withColumn(
                    "regs", F.coalesce("regs", _empty_regs())
                )
                # re-derive arm: fresh registers from the post-state
                # upstream, read bucket-pruned (touched groups only)
                pruned = self.read_pruned(
                    upstream_table, red_groups, version=upstream_version,
                )
                if pruned is not None:
                    fresh = (
                        hll_registers(pruned, value_col, group_cols)
                        .groupBy(*group_cols)
                        .agg(
                            F.map_from_entries(
                                F.collect_list(F.struct("bucket", "m_rho"))
                            ).alias("regs")
                        )
                    )
                    red = (
                        live.join(red_groups, group_cols, "semi")
                        .join(F.broadcast(fresh), group_cols, "left")
                        .withColumn("regs", F.coalesce("regs", _empty_regs()))
                    )
                    ups = ups.unionByName(red.select(*ups.columns))
                elif red_groups.limit(1).count() > 0:
                    raise ValueError(
                        f"fold_changes_into_hll: {upstream_table!r} has "
                        "no current version but the feed retracts "
                        "standing register maxima that must re-derive "
                        "from it - land the upstream's day before "
                        "folding"
                    )
                self.merge_upsert(
                    ups, hll_table, group_cols,
                    num_buckets=num_buckets, delete_keys=dels,
                    affected_buckets=hll_affected,
                )
            finally:
                folded.unpersist(blocking=False)
        finally:
            feed.unpersist(blocking=False)

    def fold_changes_into_topk(
        self,
        feed: DataFrame,
        upstream_table: str,
        topk_table: str,
        group_cols: Sequence[str],
        value_col: str,
        k: int,
        op_col: str = "op",
        num_buckets: int = 16,
        upstream_version: int | None = None,
    ) -> None:
        """IVM of a standing per-group TOP-K table (group, n, n_vals,
        topk array<value>) from a preimage changefeed - the general
        leaderboard view of the non-retractable family
        (:meth:`fold_changes_into_extrema` is its ``k = 1`` max arm).
        ``topk`` holds the ``k`` largest non-NULL values DESCENDING,
        duplicates included, under one standing INVARIANT: when the
        array is SHORTER than ``k`` it is the group's COMPLETE live
        value multiset. ``k`` is part of the table's contract - keep
        it constant for a table's lifetime (a standing array longer
        than ``k`` raises loudly).

        The fold is incremental everywhere the array algebra is exact
        and re-derives ONLY where it is not:

        * ``n`` / ``n_vals`` fold retractably (+1/-1, any order);
        * INSERTS are always exact: the true top-k of
          ``old multiset UNION inserts`` only ever draws from the old
          top-k and the batch's own top-k, so
          ``sort_desc(old_topk || batch_topk)[:k]`` is the new array
          (merge-and-truncate is monotone - the reason a top-k cache
          is maintainable at all);
        * a retraction STRICTLY BELOW a FULL array's minimum never
          touches the array (k larger values still stand) - pure count
          change;
        * a retraction from a SHORT (= complete) array removes exactly
          one copy in place (``aggregate`` over the retraction list,
          first-occurrence ``filter`` - the multiset difference is
          exact because nothing is hidden below a short array);
        * ONLY a retraction that ties-or-exceeds a FULL array's
          minimum re-derives its group - the runner-up below the
          truncation horizon is unknowable, the same blind spot as
          the extrema fold's tied max - via a :meth:`read_pruned`
          point read of the POST-state upstream, which must therefore
          be maintained with ``bucket_cols=group_cols`` (the
          secondary-index merge layout): O(touched groups), never an
          upstream scan. Groups whose count reaches zero are deleted.

        Fold AFTER landing the upstream's day (the re-derivation reads
        the post-state; re-deriving with no upstream current version
        raises loudly). A plain post-image-only 'U' raises loudly.
        NULL values never enter the array (``collect_list`` semantics,
        mirroring every top-k oracle's ``WHERE value IS NOT NULL``);
        retractions of values absent from a complete array are a
        count-only degradation, the extrema fold's tolerance.

        Cost per fold is O(feed + touched groups): the standing side
        arrives through a bucket-pruned read, the re-derivation reads
        only re-derived groups' buckets, and every array is at most
        ``k + batch`` elements (the interpreted higher-order lambdas
        run over k-bounded arrays, never corpus-sized ones).

        The fold is TYPE-GENERIC over any orderable ``value_col`` -
        in particular a STRUCT of (score, pk, payload...) turns the
        array into an arg-top-k leaderboard (rows, not bare values)
        under Spark's lexicographic struct order, with the pk field
        as a deterministic tie-break; preimage feeds carry the exact
        struct, so in-place subtraction and the horizon comparison
        hold unchanged (test-pinned).

        ``upstream_version`` pins the re-derivation's upstream read to
        a retained snapshot version (snapshot isolation): capture the
        post-day version BEFORE overlapping this fold with the next
        day's upstream merge (guide 2.6), so the concurrent pointer
        flip can never be observed mid-fold. Default None reads the
        current pointer - the sequential behavior."""
        if k < 1:
            raise ValueError(f"fold_changes_into_topk: k must be >= 1, got {k}")
        group_cols = list(group_cols)
        meta = self._merge_meta(upstream_table)
        if meta is None or (
            meta.get("bucket_cols") or meta["key_cols"]
        ) != group_cols:
            raise ValueError(
                "fold_changes_into_topk re-derives truncated groups "
                f"through bucket-pruned reads: {upstream_table!r} must "
                f"be merged with bucket_cols={group_cols!r} (have "
                f"{None if meta is None else meta.get('bucket_cols', meta['key_cols'])!r})"
            )
        guard = _preimage_op_guard(op_col, "fold_changes_into_topk")
        # persist only: the standing read's probe collect (or, on the
        # first fold, the folded-frame materialization) is the first
        # action and scans the feed, populating the cache
        feed = feed.withColumn(op_col, guard).persist()
        try:
            ins = F.col(op_col).isin("I", "U_post")
            rem = F.col(op_col).isin("D", "U_pre")
            sign = F.when(ins, F.lit(1)).otherwise(F.lit(-1))
            v = F.col(value_col)
            vtype = feed.schema[value_col].dataType
            empty_arr = F.lit(None).cast(ArrayType(vtype))
            delta = feed.groupBy(*group_cols).agg(
                F.sum(sign).cast("long").alias("_dn"),
                F.sum(F.when(v.isNotNull(), sign).otherwise(F.lit(0)))
                .cast("long")
                .alias("_dnv"),
                # the batch's own top-k of the insert side (collect_list
                # drops NULLs); truncating here is exact - see docstring
                F.slice(
                    F.sort_array(
                        F.collect_list(F.when(ins, v)), asc=False
                    ),
                    1,
                    k,
                ).alias("_ins"),
                F.sort_array(
                    F.collect_list(F.when(rem, v)), asc=False
                ).alias("_rets"),
            )
            # round-15 (VERDICT r14 #1): one fused id collect serves
            # the standing read's prune AND the merge's affected set
            # (folded groups = the feed's touched groups, exact)
            topk_affected: list[int] | None = None
            if not self.exists(topk_table):
                standing = None
            elif self._pruned_ids_ok(topk_table, group_cols, num_buckets):
                [ids] = self._bucket_ids_multi(
                    feed, [(group_cols, num_buckets)]
                )
                standing = self.read_pruned(
                    topk_table, feed.select(*group_cols), bucket_ids=ids
                )
                meta_s = self._merge_meta(topk_table)
                if meta_s and meta_s.get("key_cols") == group_cols:
                    topk_affected = ids
            else:
                standing = self.read_pruned(
                    topk_table, feed.select(*group_cols)
                )
            if standing is not None:
                folded = delta.join(
                    F.broadcast(
                        standing.select(
                            *group_cols,
                            F.col("n").alias("_pn"),
                            F.col("n_vals").alias("_pnv"),
                            F.col("topk").alias("_ptop"),
                        )
                    ),
                    group_cols,
                    "left",
                )
            else:
                folded = (
                    delta.withColumn("_pn", F.lit(None).cast("long"))
                    .withColumn("_pnv", F.lit(None).cast("long"))
                    .withColumn("_ptop", empty_arr)
                )
            ptop = F.coalesce(F.col("_ptop"), F.array().cast(ArrayType(vtype)))
            folded = folded.select(
                *group_cols,
                (F.coalesce(F.col("_pn"), F.lit(0)) + F.col("_dn")).alias("n"),
                (F.coalesce(F.col("_pnv"), F.lit(0)) + F.col("_dnv")).alias(
                    "n_vals"
                ),
                ptop.alias("_ptop"),
                F.col("_ins"),
                F.col("_rets"),
            ).persist()
            try:
                # a standing array LONGER than k means the caller's k
                # shrank mid-lifetime - the short-array completeness
                # invariant no longer holds; fail loudly (driver-local
                # scalar, not a data collect)
                if (
                    folded.filter(F.size("_ptop") > k).limit(1).count() > 0
                ):
                    raise ValueError(
                        f"fold_changes_into_topk: {topk_table!r} holds "
                        f"arrays longer than k={k} - k must stay "
                        "constant for a table's lifetime"
                    )
                live = folded.filter(F.col("n") > 0)
                dels = (
                    folded.filter(F.col("n") <= 0)
                    .select(*group_cols)
                    .distinct()
                )
                # re-derive: a retraction ties-or-exceeds a FULL
                # array's min - the truncation horizon hides the
                # runner-up (short arrays are complete: never re-derive)
                need_red = (
                    (F.size("_ptop") >= k)
                    & (F.size("_rets") > 0)
                    & (
                        F.element_at("_rets", 1)
                        >= F.element_at("_ptop", k)
                    )
                )
                red_groups = live.filter(need_red).select(*group_cols)
                inc = live.filter(~need_red)

                def _remove_one(acc, x):
                    pos = F.array_position(acc, x)
                    return F.when(
                        pos > 0,
                        F.filter(acc, lambda e, i: i != pos - 1),
                    ).otherwise(acc)

                new_top = F.slice(
                    F.sort_array(
                        F.concat(
                            F.aggregate("_rets", F.col("_ptop"), _remove_one),
                            F.col("_ins"),
                        ),
                        asc=False,
                    ),
                    1,
                    k,
                )
                ups = inc.select(
                    *group_cols, "n", "n_vals", new_top.alias("topk")
                )
                pruned = self.read_pruned(
                    upstream_table, red_groups, version=upstream_version,
                )
                if pruned is not None:
                    fresh = pruned.groupBy(*group_cols).agg(
                        F.slice(
                            F.sort_array(
                                F.collect_list(F.col(value_col)), asc=False
                            ),
                            1,
                            k,
                        ).alias("topk")
                    )
                    red = (
                        live.filter(need_red)
                        .select(*group_cols, "n", "n_vals")
                        .join(F.broadcast(fresh), group_cols, "left")
                        .withColumn(
                            "topk",
                            F.coalesce(
                                "topk", F.array().cast(ArrayType(vtype))
                            ),
                        )
                    )
                    ups = ups.unionByName(red.select(*ups.columns))
                elif red_groups.limit(1).count() > 0:
                    raise ValueError(
                        f"fold_changes_into_topk: {upstream_table!r} has "
                        "no current version but the feed retracts "
                        "values at standing truncation horizons that "
                        "must re-derive from it - land the upstream's "
                        "day before folding"
                    )
                self.merge_upsert(
                    ups, topk_table, group_cols,
                    num_buckets=num_buckets, delete_keys=dels,
                    affected_buckets=topk_affected,
                )
            finally:
                folded.unpersist(blocking=False)
        finally:
            feed.unpersist(blocking=False)

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
            # repartition, not overwrite's num_files coalesce: the
            # rewrite scan of many small files packs into FEWER
            # partitions than the byte target implies
            # (maxPartitionBytes), and coalesce can only shrink - the
            # target would silently not be honored
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
        cur = self._current_version(name)
        drop = [v for v in vs[:-keep_last] if v != cur]
        for v in drop:
            shutil.rmtree(
                os.path.join(self._table_dir(name), f"v{v}"),
                ignore_errors=True,
            )
        return drop

    def tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
            and self._current_version(d) is not None
        )


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


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) parquet table
    registered in the session catalog - the Spark analog of the
    reference's ``DISTRIBUTE HASH(k) INTO n`` + clustered index
    (S6, e.g. /root/reference/USQL/CreateAndInitializeCommit.usql:49-55).

    Two tables bucketed on their join key with the same bucket count
    join with NO Exchange on either side (bucket-pruned, co-located
    scan): for repeated large-large joins the shuffle is paid once at
    write time instead of per query. Pinned by
    tests/test_plan_shape.py::test_bucketed_join_is_exchange_free.
    """
    writer = df.write.mode("overwrite").option("path", path).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(name)


def _preimage_op_guard(op_col: str, who: str):
    """Column passing through the Delta-CDF preimage op set
    (I / D / U_pre / U_post) and raising loudly on anything else -
    a plain post-image-only 'U' folded into an IVM consumer would
    silently corrupt instead of retracting. Lazy by design (fires
    inside the consumer's write job); merge_upsert cleans up the
    in-progress version dir when that job fails."""
    op = F.col(op_col)
    return F.when(op.isin("I", "D", "U_pre", "U_post"), op).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"{who} needs a preimage feed (table_changes "
                    "with_preimages=True); got op="
                ),
                op,
            )
        )
    )


def fold_stats_delta(
    feed: DataFrame,
    standing: DataFrame | None,
    group_cols: Sequence[str],
    value_col: str,
    op_col: str = "op",
) -> DataFrame:
    """The pure fold of :meth:`ParquetCatalog.fold_changes_into_stats`:
    a preimage changefeed plus the (possibly absent) standing stats
    frame -> the refreshed (group, n, n_vals, sum_v) rows for TOUCHED
    groups only. Kept standalone so the plan is pinnable and the fold
    reusable outside a catalog (e.g. a foreachBatch consumer).

    Shuffle shape at any scale: the feed aggregates once on the group
    key (map-side combinable); the standing frame never crosses an
    exchange - a broadcast SEMI on the feed's groups prunes it in one
    scan, and the surviving prior rows are feed-sized so the outer
    join broadcasts too."""
    import pyspark.sql.types as T

    group_cols = list(group_cols)
    vf = dict(feed.dtypes)[value_col]
    if vf not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"fold_changes_into_stats needs an integer value column "
            f"(exact retraction); {value_col!r} is {vf} - quantize "
            "upstream (e.g. floor(x * 100) cents)"
        )
    sign = (
        F.when(F.col(op_col).isin("I", "U_post"), F.lit(1))
        .when(F.col(op_col).isin("D", "U_pre"), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "fold_changes_into_stats needs a preimage "
                        "feed (table_changes with_preimages=True); "
                        "got op="
                    ),
                    F.col(op_col),
                )
            ).cast(T.IntegerType())
        )
    )
    v = F.col(value_col)
    delta = feed.groupBy(*group_cols).agg(
        F.sum(sign).cast("long").alias("_dn"),
        F.sum(F.when(v.isNotNull(), sign).otherwise(F.lit(0)))
        .cast("long")
        .alias("_dnv"),
        F.coalesce(F.sum(sign * v), F.lit(0))
        .cast("long")
        .alias("_dsum"),
    )
    if standing is not None:
        touched = delta.select(*group_cols).distinct()
        prior = (
            standing.join(F.broadcast(touched), group_cols, "semi")
            .select(
                *group_cols,
                F.col("n").alias("_pn"),
                F.col("n_vals").alias("_pnv"),
                F.coalesce(F.col("sum_v"), F.lit(0)).alias("_psum"),
            )
        )
        delta = delta.join(F.broadcast(prior), group_cols, "left")
    else:
        delta = (
            delta.withColumn("_pn", F.lit(None).cast("long"))
            .withColumn("_pnv", F.lit(None).cast("long"))
            .withColumn("_psum", F.lit(None).cast("long"))
        )
    return delta.select(
        *group_cols,
        (F.coalesce(F.col("_pn"), F.lit(0)) + F.col("_dn")).alias("n"),
        (F.coalesce(F.col("_pnv"), F.lit(0)) + F.col("_dnv")).alias(
            "n_vals"
        ),
        (F.coalesce(F.col("_psum"), F.lit(0)) + F.col("_dsum")).alias(
            "_rawsum"
        ),
    ).select(
        *group_cols,
        "n",
        "n_vals",
        F.when(F.col("n_vals") > 0, F.col("_rawsum")).alias("sum_v"),
    )


def fold_extrema_delta(
    feed: DataFrame,
    standing: DataFrame | None,
    group_cols: Sequence[str],
    value_col: str,
    op_col: str = "op",
) -> DataFrame:
    """The pure fold of :meth:`ParquetCatalog.fold_changes_into_extrema`:
    preimage feed + (possibly absent) standing (group, n, n_vals,
    min_v, max_v) frame -> refreshed rows for TOUCHED groups, plus a
    ``_rederive`` flag marking the groups whose extremum may have been
    retracted (a D/U_pre value tying the standing min or max) - the
    caller resolves exactly those with a bucket-pruned post-state
    upstream read; every other group folds closed-form (counts
    retract exactly; inserts only ever RAISE an extremum, so
    ``greatest(prior, batch max)`` is exact).

    Shuffle shape mirrors :func:`fold_stats_delta`: one map-side-
    combinable feed aggregate; the standing side pruned by broadcast
    SEMI and broadcast-joined back - it never crosses an exchange."""
    group_cols = list(group_cols)
    feed = feed.withColumn(
        op_col, _preimage_op_guard(op_col, "fold_changes_into_extrema")
    )
    ins = F.col(op_col).isin("I", "U_post")
    rem = F.col(op_col).isin("D", "U_pre")
    sign = F.when(ins, F.lit(1)).otherwise(F.lit(-1))
    v = F.col(value_col)
    vtype = dict(feed.dtypes)[value_col]
    delta = feed.groupBy(*group_cols).agg(
        F.sum(sign).cast("long").alias("_dn"),
        F.sum(F.when(v.isNotNull(), sign).otherwise(F.lit(0)))
        .cast("long")
        .alias("_dnv"),
        F.max(F.when(ins, v)).alias("_imax"),
        F.min(F.when(ins, v)).alias("_imin"),
        F.max(F.when(rem, v)).alias("_rmax"),
        F.min(F.when(rem, v)).alias("_rmin"),
    )
    if standing is not None:
        touched = delta.select(*group_cols).distinct()
        prior = standing.join(
            F.broadcast(touched), group_cols, "semi"
        ).select(
            *group_cols,
            F.col("n").alias("_pn"),
            F.col("n_vals").alias("_pnv"),
            F.col("min_v").alias("_pmin"),
            F.col("max_v").alias("_pmax"),
        )
        delta = delta.join(F.broadcast(prior), group_cols, "left")
    else:
        delta = (
            delta.withColumn("_pn", F.lit(None).cast("long"))
            .withColumn("_pnv", F.lit(None).cast("long"))
            .withColumn("_pmin", F.lit(None).cast(vtype))
            .withColumn("_pmax", F.lit(None).cast(vtype))
        )
    n = F.coalesce(F.col("_pn"), F.lit(0)) + F.col("_dn")
    n_vals = F.coalesce(F.col("_pnv"), F.lit(0)) + F.col("_dnv")
    # a retraction can only LOWER an extremum if it ties it (values in
    # a consistent feed never exceed the standing extremum); a new
    # group (_pn null) has nothing to retract
    rederive = F.col("_pn").isNotNull() & (
        (
            F.col("_rmax").isNotNull()
            & F.col("_pmax").isNotNull()
            & (F.col("_rmax") >= F.col("_pmax"))
        )
        | (
            F.col("_rmin").isNotNull()
            & F.col("_pmin").isNotNull()
            & (F.col("_rmin") <= F.col("_pmin"))
        )
    )
    return delta.select(
        *group_cols,
        n.alias("n"),
        n_vals.alias("n_vals"),
        F.when(
            n_vals > 0, F.least(F.col("_pmin"), F.col("_imin"))
        ).alias("min_v"),
        F.when(
            n_vals > 0, F.greatest(F.col("_pmax"), F.col("_imax"))
        ).alias("max_v"),
        rederive.alias("_rederive"),
    )


def write_tsv(df: DataFrame, path: str, num_files: int = 1) -> None:
    """TSV export sink (S7, /root/reference/USQL/GetRepoData-unused.usql:17-19
    ``OUTPUT ... USING Outputters.Tsv()``)."""
    (
        df.coalesce(num_files)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str, num_files: int = 1) -> None:
    """JSON-lines export sink - the de-facto interchange format of
    training-data pipelines (and the shape of the reference's OWN
    crawler input: one JSON document per line, sources/staging.py S1).
    ``ignoreNullFields=false`` keeps explicit nulls so the round trip
    is lossless: unlike TSV, JSONL distinguishes NULL from ''."""
    (
        df.coalesce(num_files)
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
