"""Structured Streaming surface.

The reference has NO streaming (SURVEY.md 2.10): its incrementality unit
is the daily batch partition, with idempotent partition swap. These
operators are the optional continuous-ingest add-on: the same staging
contract driven by ``Trigger.AvailableNow`` (catch-up-and-stop, matching
the daily-batch semantics while tolerating intra-day arrivals), plus a
watermarked windowed aggregation as the canonical late-data pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ghcrawler_datalake_etl_spark.functions.concurrency import (
    run_concurrently,
)


def stream_stage_available_now(
    spark: SparkSession,
    input_path: str,
    staging_path: str,
    checkpoint: str,
    ingest_date: str,
) -> StreamingQuery:
    """Streaming twin of sources.staging.stage_json: file-source stream
    over the day's JSON, available-now trigger (process the backlog,
    then stop) - idempotent via the checkpoint, exactly-once per file."""
    from ghcrawler_datalake_etl_spark.sources.staging import _ENVELOPE_SCHEMA

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 64)
        .load(input_path)
    )
    env = F.from_json(F.col("value"), _ENVELOPE_SCHEMA)
    staged = raw.select(
        env.getField("_metadata").getField("type").alias("entity_name"),
        F.lit(ingest_date).alias("ingest_date"),
        env.getField("_metadata").getField("fetchedAt").try_cast("timestamp").alias("fetched_at"),
        env.getField("_metadata").getField("processedAt").try_cast("timestamp").alias("processed_at"),
        env.getField("_metadata").getField("deletedAt").try_cast("timestamp").alias("deleted_at"),
        env.getField("_metadata").getField("links").getField("self").getField("href").alias("urn"),
        F.lit("stream").alias("source_file"),
        F.col("value").alias("data_raw"),
    ).filter(F.col("entity_name").isNotNull() & F.col("urn").isNotNull())
    return (
        staged.writeStream.format("parquet")
        .option("path", staging_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("ingest_date")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "processed_at",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming re-delivery absorption: first arrival per key wins,
    duplicates within the watermark horizon are dropped, per-key state is
    evicted past it (bounded state - the piece the batch W1 dedup gets
    for free from the partition swap).

    This is dedup-of-redelivery, not latest-wins: a *newer version* of a
    key is still a duplicate here. Latest-wins stays a batch concern
    (functions.core.latest_by over the staged table), matching the
    reference's daily re-crawl semantics (SURVEY.md 2.10).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicates(keys)


def stream_upsert_snapshot(
    stream: DataFrame,
    catalog,
    table: str,
    keys: list[str],
    checkpoint: str,
    order_by=None,
    tiebreakers: tuple[str, ...] = (),
):
    """Continuous pattern A: every micro-batch latest-wins-merges into
    the catalog snapshot via foreachBatch - the streaming twin of
    operators.patterns.snapshot_upsert (the reference's daily
    truncate+reinsert, /root/reference/USQL/ProcessDaily.usql:142-177,
    at micro-batch cadence).

    Exactly-once effect: the checkpoint prevents re-processing, and a
    REPLAYED batch is a no-op anyway because the merge is idempotent
    (latest-wins dedup absorbs rows already in the snapshot). The
    read-then-overwrite inside one batch is safe because the catalog
    overwrite is a versioned-directory pointer swap, not an in-place
    rewrite (SURVEY.md Q8).
    """
    from ghcrawler_datalake_etl_spark.operators.patterns import snapshot_upsert

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        previous = catalog.read(table) if catalog.exists(table) else None
        merged = snapshot_upsert(
            batch_df, previous, keys=keys, order_by=order_by,
            tiebreakers=list(tiebreakers),
        )
        catalog.overwrite(merged, table)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _merge_and_emit_changes(
    catalog,
    bdf: DataFrame,
    micro_batch: int,
    name: str,
    key_cols: list[str],
    feed_root: str,
    op_col: str,
    seq_col: str | None,
    num_buckets: int,
    with_preimages: bool = False,
) -> DataFrame:
    """One trigger of stream_apply_changes_feed: apply the micro-batch
    CDC rows to the merged table, then emit the version diff to
    ``feed_root/micro_batch=N``. Replay-safe via a per-trigger version
    ledger in the feed manifest (the Delta txnVersion idiom): a trigger
    already in the ledger SKIPS the merge (re-merging would mint a
    spurious version whose self-diff is empty, and the overwrite would
    ERASE the first attempt's feed rows) and re-emits the recorded
    from/to diff instead - crash at any point between the merge and
    the checkpoint commit replays to the identical feed.

    Returns the emitted feed READ BACK from the trigger dir (the
    materialized rows every fold consumer must see - never the live
    diff lineage), with the diff's schema passed explicitly so the
    re-open skips the driver-side footer inference (guide 1.4 idiom,
    as the catalog's loads with each version's recorded schema do)."""
    import os

    man = _read_delta_manifest(feed_root, "feed")
    ledger = man.setdefault("txn", {})
    key = str(micro_batch)
    if key not in ledger:
        pre = catalog._current_version(name)
        catalog.apply_changes(
            bdf, name, key_cols, op_col=op_col, seq_col=seq_col,
            num_buckets=num_buckets,
        )
        post = catalog._current_version(name)
        ledger[key] = {"from": pre, "to": post}
        _write_delta_manifest(feed_root, man)
    rec = ledger[key]
    out = os.path.join(feed_root, f"micro_batch={micro_batch}")
    try:
        feed = (
            catalog.table_changes(
                name, rec["from"], rec["to"], op_col=op_col,
                with_preimages=with_preimages,
            )
            if rec["from"] is not None
            else catalog.read(name, version=rec["to"]).selectExpr(
                f"'I' AS {op_col}", "*"
            )
        )
    except FileNotFoundError:
        # the diff's versions were vacuumed - only possible when LATER
        # triggers already merged, which the checkpoint only commits
        # after this trigger's feed write completed: the existing dir
        # IS the emitted feed, keep it (re-raise if it is missing -
        # that would be real state loss, not a replay)
        if os.path.isdir(out):
            return catalog.spark.read.parquet(out)
        raise
    feed.write.mode("overwrite").parquet(out)
    return catalog.spark.read.schema(feed.schema).parquet(out)


def stream_apply_changes_feed(
    stream: DataFrame,
    catalog,
    name: str,
    key_cols: list[str],
    feed_root: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 32,
) -> StreamingQuery:
    """Streaming CDC maintenance WITH downstream change emission - the
    full loop the stats/cluster tables run, closed on the read side:
    each micro-batch of (op, key, row) rows applies to the merged
    table (bucket-pruned apply_changes), and the resulting version
    diff is emitted to ``feed_root/micro_batch=N`` as an I/U/D feed a
    downstream consumer subscribes to WITHOUT rescanning snapshots
    (table_changes - hardlink-pruned, so emission cost scales with
    the changed fraction).

    Exactly-once feed under replay: the per-trigger version ledger in
    the feed manifest records (from, to) BEFORE the checkpoint
    commits; a replayed trigger skips the merge and re-emits the
    recorded diff (see _merge_and_emit_changes). Requires the
    catalog's retain >= 2 (the default) so the pre-merge version
    survives until its diff is emitted. Bootstrap (no table yet)
    emits the whole first snapshot as inserts.

    Concatenating every feed dir and replaying it through
    apply_changes onto the pre-stream snapshot reproduces the final
    table - the roundtrip contract the operator test pins."""
    _require_driver_local(feed_root, "stream_apply_changes_feed")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        if not bdf.head(1):
            return
        _merge_and_emit_changes(
            catalog, bdf, micro_batch, name, list(key_cols), feed_root,
            op_col, seq_col, num_buckets,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (works on both a stream
    and a static frame - pass a readStream frame for streaming).

    The late-data contract the reference lacks: rows later than
    ``watermark`` behind the max event time are dropped; everything else
    lands in its event-time window. Rows with a NULL event time are
    excluded EXPLICITLY (streaming watermarks drop them anyway; the
    batch twin must agree rather than rely on window(NULL) semantics).
    """
    src = events.filter(F.col(ts_col).isNotNull())
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.window(F.col(ts_col), window_duration).alias("win"), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col(key_col),
        "n_events",
        "total_value",
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    join_expr,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static equi-join: each micro-batch joins the (re-read)
    static dimension - the standard enrichment step before a windowed
    aggregate. Works on a static frame too (the batch twin the oracle
    checks).

    Scale: stream-static joins replan per micro-batch, so a small dim
    broadcasts every batch and the stream side never shuffles; set
    ``broadcast_dim=False`` for a dim too large to broadcast (falls back
    to a shuffled join on the batch's rows only).
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, join_expr, how)


def stream_distinct(
    df: DataFrame,
    subset: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact-duplicate drop on ingest - the dedup-on-arrival
    step of a training-data feed (re-crawled pages, replayed events):
    ``dropDuplicates`` over ``subset`` (default: every column) with a
    watermark bounding the dedup state, so a key is remembered for
    ``watermark`` of event time and then aged out. Works identically on
    a static frame (the batch twin is plain DISTINCT).

    Determinism contract: when ``subset`` is the FULL row (the
    default), which physical row survives is irrelevant - survivors are
    identical - so the result SET is deterministic and oracle-checkable
    as SELECT DISTINCT even though streaming arrival order is not. A
    proper subset keeps an arbitrary row per key (first-arrived): use
    snapshot_upsert / latest-wins for order-dependent semantics.

    Scale: state is one entry per distinct key within the watermark
    horizon, hash-partitioned on the dedup columns - the streaming
    analog of the exact-dedup groupBy.
    """
    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    return src.dropDuplicates(subset) if subset else src.dropDuplicates()


def stream_incremental_dedup(
    stream_df: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming near-dup screen of arriving documents against a
    STANDING corpus LSH index (operators/dedup.incremental_lsh_dedup
    run per micro-batch via foreachBatch - the production shape: a
    stream IS a sequence of incremental batches, and the banded
    dedup's joins/windows are batch-relational, not record-at-a-time).

    Each micro-batch writes its verified matches to
    ``out_path/micro_batch=<id>/`` with mode("overwrite") - a replayed
    batch after failure overwrites its OWN directory, the standard
    foreachBatch idempotence recipe, so the sink never holds duplicate
    rows. Read the matches back with spark.read.parquet(out_path).

    Scale/state: foreachBatch holds NO streaming state - corpus cost
    stays zero-recompute (the index comes from parquet) and batch cost
    is proportional to the micro-batch. The frames the batch operator
    materializes are unpersisted after each write (``handles``), so a
    long-running stream's executor storage does not grow per trigger.
    """
    import os

    from ghcrawler_datalake_etl_spark.operators.dedup import (
        incremental_lsh_dedup,
    )

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        handles: list[DataFrame] = []
        try:
            matches = incremental_lsh_dedup(
                bdf, index, corpus, id_col, text_col,
                n=n, num_hashes=num_hashes, bands=bands,
                threshold=threshold, handles=handles,
            )
            matches.write.mode("overwrite").parquet(
                os.path.join(out_path, f"micro_batch={micro_batch}")
            )
        finally:
            for h in handles:
                h.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


#: delta-store manifest sidecar (same idiom as sources.tokshard.MANIFEST)
DELTA_MANIFEST = "_manifest.json"


from ghcrawler_datalake_etl_spark.functions.core import (  # noqa: E402
    require_driver_local as _require_driver_local,
)


def _read_delta_manifest(store_root: str, sub: str) -> dict:
    """Manifest of a micro-batch delta store:
    ``{"version": 1, "base": "base_vK" | None, "deltas": [ints]}``.
    The manifest IS the read set - no per-trigger directory listing
    (the object-store-shape fix tokshard got, VERDICT r9 #7). A store
    written before the manifest existed reconstructs from ONE listing."""
    import json
    import os

    mpath = os.path.join(store_root, DELTA_MANIFEST)
    if os.path.isfile(mpath):
        with open(mpath) as fh:
            return json.load(fh)
    deltas = []
    root = os.path.join(store_root, sub)
    if os.path.isdir(root):  # pre-manifest store: migrate via one listing
        deltas = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("micro_batch=")
        )
    return {"version": 1, "base": None, "deltas": deltas}


def _write_delta_manifest(store_root: str, manifest: dict) -> None:
    """Atomic tmp + os.replace, the tokshard write idiom."""
    import json
    import os

    os.makedirs(store_root, exist_ok=True)
    tmp = os.path.join(store_root, DELTA_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(store_root, DELTA_MANIFEST))


def _delta_read_paths(
    store_root: str, sub: str, manifest: dict, before: int
) -> list[str]:
    """The bounded per-trigger read set: the compacted base (if any)
    plus every delta strictly OLDER than ``before`` - a replayed
    trigger never reads its own about-to-be-overwritten output."""
    import os

    paths = []
    if manifest.get("base"):
        paths.append(os.path.join(store_root, sub, manifest["base"]))
    paths.extend(
        os.path.join(store_root, sub, f"micro_batch={mb}")
        for mb in manifest.get("deltas", [])
        if mb < before
    )
    return paths


def _compact_delta_store(
    spark: SparkSession,
    store_root: str,
    subs: tuple[str, ...],
    manifest: dict,
    current: int,
) -> dict:
    """Fold every delta OLDER than ``current`` (plus the old base) into
    ``base_v{K+1}`` for each parquet family, then switch the manifest
    atomically. The current trigger's delta is deliberately excluded:
    if the stream crashes between this compaction and the checkpoint
    commit, the replayed trigger's read set (base + deltas < current)
    still holds exactly the pre-compaction content. Crash DURING
    compaction is safe too - the manifest still names the old base and
    full delta list until the os.replace, and a retried compaction
    rewrites the same base_v{K+1} dirs mode("overwrite"). Folded dirs
    and the old base are removed best-effort AFTER the switch (stale
    dirs are unreachable: the manifest governs every read)."""
    import os
    import shutil

    fold = [mb for mb in manifest.get("deltas", []) if mb < current]
    if not fold:
        return manifest
    old_base = manifest.get("base")
    ver = int(old_base.rsplit("_v", 1)[1]) + 1 if old_base else 0
    new_base = f"base_v{ver}"
    for sub in subs:
        srcs = ([os.path.join(store_root, sub, old_base)] if old_base else []) + [
            os.path.join(store_root, sub, f"micro_batch={mb}") for mb in fold
        ]
        spark.read.parquet(*srcs).write.mode("overwrite").parquet(
            os.path.join(store_root, sub, new_base)
        )
    out = {
        "version": 1,
        "base": new_base,
        "deltas": [mb for mb in manifest.get("deltas", []) if mb >= current],
    }
    _write_delta_manifest(store_root, out)
    for sub in subs:  # best-effort cleanup; failures leave unread orphans
        for d in ([old_base] if old_base else []) + [
            f"micro_batch={mb}" for mb in fold
        ]:
            shutil.rmtree(os.path.join(store_root, sub, d), ignore_errors=True)
    return out


def stream_cluster_maintenance(
    stream_df: DataFrame,
    base_index: DataFrame,
    base_corpus: DataFrame,
    catalog,
    labels_table: str,
    store_root: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    num_buckets: int = 32,
    compact_after: int = 8,
) -> StreamingQuery:
    """Streaming STANDING-CLUSTER maintenance - the full production
    loop of the incremental dedup family run per micro-batch: arriving
    documents (1) screen against the standing LSH index keeping EVERY
    verified match (``keep="all"``: one arriving doc matching two
    standing clusters is exactly the edge that merges them), (2) pair
    WITHIN the micro-batch (minhash_lsh_pairs), (3) fold both edge
    sets into the standing cluster table through
    incremental_components(changed_only=True) + the catalog's
    bucket-pruned merge_upsert (untouched clusters are never
    rewritten), and (4) delta-append the micro-batch's band signatures
    and text to the store so LATER triggers dedup against everything
    seen so far - cross-trigger duplicates cluster correctly.

    State layout under ``store_root``: ``idx/micro_batch=N/`` band-
    index deltas and ``docs/micro_batch=N/`` text deltas, each written
    mode("overwrite") so a replayed trigger overwrites its OWN dirs;
    a ``_manifest.json`` sidecar (atomic tmp+replace) names the read
    set - the compacted ``base_vK`` dirs plus the open delta tail -
    and once the tail passes ``compact_after`` triggers, every delta
    older than the current one folds into the next base, so the
    per-trigger read set is BOUNDED (base + <= compact_after deltas),
    not O(#triggers). The label merge is idempotent by the union-find
    algebra (re-folding the same edges contracts every edge to a
    self-loop - an empty delta). The labels table lives in ``catalog``
    under ``labels_table`` and must be bootstrapped (merge_upsert of
    the corpus's connected_components) before the stream starts.
    Manifest IO is driver-local-FS (same contract as ParquetCatalog /
    tokshard); an object-store URI raises up front instead of
    silently reading an empty store.

    Scale/state: foreachBatch holds no streaming state; per-trigger
    cost is screen (batch-proportional) + within-batch pairing +
    contracted-graph propagation (O(batch edges)) + a merge that
    rewrites only touched buckets. The reference's latest-wins daily
    refresh (ProcessDaily.usql:137-140), lifted to streaming graph
    state."""
    import os

    from ghcrawler_datalake_etl_spark.operators.dedup import (
        incremental_components,
        incremental_lsh_dedup,
        lsh_band_index,
        minhash_lsh_pairs,
    )

    _require_driver_local(store_root, "stream_cluster_maintenance")
    idx_root = os.path.join(store_root, "idx")
    docs_root = os.path.join(store_root, "docs")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        spark = bdf.sparkSession
        handles: list[DataFrame] = []
        bdf = bdf.persist()
        try:
            if bdf.count() == 0:
                return
            index = base_index
            # the screen touches only (id, text); projecting here also
            # makes the base frame union-compatible with the two-column
            # text deltas the store holds
            corpus = base_corpus.select(F.col(id_col), F.col(text_col))
            # earlier triggers' state, manifest-named (no listing):
            # the compacted base + the open delta tail, own dirs
            # excluded - a replay must not dedup against its previous,
            # about-to-be-overwritten self
            manifest = _read_delta_manifest(store_root, "idx")
            idx_paths = _delta_read_paths(
                store_root, "idx", manifest, micro_batch
            )
            doc_paths = _delta_read_paths(
                store_root, "docs", manifest, micro_batch
            )
            if idx_paths:
                index = index.unionByName(
                    spark.read.parquet(*idx_paths).select(*index.columns)
                )
                corpus = corpus.unionByName(
                    spark.read.parquet(*doc_paths).select(*corpus.columns)
                )
            cross = incremental_lsh_dedup(
                bdf, index, corpus, id_col, text_col,
                n=n, num_hashes=num_hashes, bands=bands,
                threshold=threshold, handles=handles, keep="all",
            ).select(
                F.col("batch_id").alias("id_a"),
                F.col("dup_of").alias("id_b"),
            )
            within = minhash_lsh_pairs(
                bdf, id_col, text_col, n=n, num_hashes=num_hashes,
                bands=bands, threshold=threshold, handles=handles,
            ).select("id_a", "id_b")
            delta = incremental_components(
                catalog.read(labels_table),
                cross.unionByName(within),
                changed_only=True,
                handles=handles,
            )
            catalog.merge_upsert(
                delta, labels_table, ["node"], num_buckets=num_buckets
            )
            # land this trigger's deltas LAST: a crash before this
            # point replays the trigger against the same prior state
            lsh_band_index(
                bdf, id_col, text_col, n=n, num_hashes=num_hashes,
                bands=bands,
            ).write.mode("overwrite").parquet(
                os.path.join(idx_root, f"micro_batch={micro_batch}")
            )
            bdf.select(
                F.col(id_col), F.col(text_col)
            ).write.mode("overwrite").parquet(
                os.path.join(docs_root, f"micro_batch={micro_batch}")
            )
            # commit this trigger into the manifest (idempotent on
            # replay), then bound the tail: once more than
            # compact_after OLDER deltas are open, fold them (plus the
            # old base) into the next base - the current trigger's
            # delta stays out so a replay's read set is unchanged
            if micro_batch not in manifest["deltas"]:
                manifest = {
                    "version": 1,
                    "base": manifest.get("base"),
                    "deltas": sorted(manifest["deltas"] + [micro_batch]),
                }
                _write_delta_manifest(store_root, manifest)
            if len([m for m in manifest["deltas"] if m < micro_batch]) >= compact_after:
                _compact_delta_store(
                    spark, store_root, ("idx", "docs"), manifest, micro_batch
                )
        finally:
            bdf.unpersist()
            for h in handles:
                h.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_boilerplate_screen(
    stream_df: DataFrame,
    base_line_stats: DataFrame,
    base_source_stats: DataFrame,
    out_path: str,
    store_root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    sep: str = "\n",
    min_docs: int = 2,
    min_frac: float = 0.3,
    compact_after: int = 8,
) -> StreamingQuery:
    """Streaming corpus-frequency boilerplate screening - the
    foreachBatch arm of text.remove_boilerplate_lines_incremental, the
    last incremental screen without a streaming twin (LSH has
    stream_lsh_dedup, the cluster fold has stream_cluster_maintenance;
    this is the line-frequency one). Per micro-batch: (1) screen the
    arriving documents against the UNION of the bootstrapped corpus
    statistics and every EARLIER trigger's delta stats (both mergeable
    by grouped SUM - each document arrives exactly once, so per-batch
    distinct-doc counts add exactly), writing (doc_id, n_lines,
    n_dropped, text_clean) to ``out_path/micro_batch=N``; (2) land the
    batch's OWN (src, dig, line_df) and (src, n_docs) stats as deltas
    under ``store_root/lines|sources/micro_batch=N`` so later triggers
    screen against everything seen so far - corpus text is never
    re-read, only the two narrow stats stores.

    Like the screen it wraps, deliberately NON-retroactive (the
    CCNet/Dolma daily shape): a line that crosses the threshold only
    at trigger N is cut from trigger N's documents onward; earlier
    triggers' output stays as screened at its own arrival time.

    State discipline = the stream_cluster_maintenance recipe verbatim:
    every per-trigger write is mode("overwrite") into its own
    ``micro_batch=N`` dir (a replayed trigger overwrites its own
    output), the ``_manifest.json`` sidecar names the read set (the
    compacted base + the open delta tail, own dirs excluded so a
    replay never reads its about-to-be-overwritten self), deltas land
    LAST so a crash before that point replays against unchanged prior
    state, and once more than ``compact_after`` older deltas are open
    they fold into the next base - the per-trigger read set is BOUNDED.
    Compaction concatenates delta rows without re-aggregating; the
    screen's grouped SUM makes that equivalent.
    """
    import os

    from ghcrawler_datalake_etl_spark.operators.text import (
        boilerplate_line_stats,
        remove_boilerplate_lines_incremental,
        source_doc_counts,
    )

    _require_driver_local(store_root, "stream_boilerplate_screen")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        spark = bdf.sparkSession
        bdf = bdf.persist()
        try:
            if bdf.count() == 0:
                return
            line_stats = base_line_stats
            source_stats = base_source_stats
            manifest = _read_delta_manifest(store_root, "lines")
            line_paths = _delta_read_paths(
                store_root, "lines", manifest, micro_batch
            )
            src_paths = _delta_read_paths(
                store_root, "sources", manifest, micro_batch
            )
            if line_paths:
                line_stats = line_stats.unionByName(
                    spark.read.parquet(*line_paths).select(
                        *line_stats.columns
                    )
                )
                source_stats = source_stats.unionByName(
                    spark.read.parquet(*src_paths).select(
                        *source_stats.columns
                    )
                )
            remove_boilerplate_lines_incremental(
                bdf, line_stats, source_stats,
                id_col, text_col, source_col,
                sep=sep, min_docs=min_docs, min_frac=min_frac,
            ).write.mode("overwrite").parquet(
                os.path.join(out_path, f"micro_batch={micro_batch}")
            )
            # land this trigger's stats deltas LAST (crash-replay safe)
            boilerplate_line_stats(
                bdf, id_col, text_col, source_col, sep
            ).write.mode("overwrite").parquet(
                os.path.join(store_root, "lines", f"micro_batch={micro_batch}")
            )
            source_doc_counts(bdf, id_col, source_col).write.mode(
                "overwrite"
            ).parquet(
                os.path.join(
                    store_root, "sources", f"micro_batch={micro_batch}"
                )
            )
            if micro_batch not in manifest["deltas"]:
                manifest = {
                    "version": 1,
                    "base": manifest.get("base"),
                    "deltas": sorted(manifest["deltas"] + [micro_batch]),
                }
                _write_delta_manifest(store_root, manifest)
            if len([m for m in manifest["deltas"] if m < micro_batch]) >= compact_after:
                _compact_delta_store(
                    spark, store_root, ("lines", "sources"),
                    manifest, micro_batch,
                )
        finally:
            bdf.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_semantic_dedup(
    stream_df: DataFrame,
    base_postings: DataFrame,
    centroids: list[list[float]],
    out_path: str,
    store_root: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    compact_after: int = 8,
) -> StreamingQuery:
    """Streaming SemDeDup - the foreachBatch arm of
    dedup.semantic_dedup_incremental, completing the semantic screen's
    lifecycle (batch -> incremental -> streaming, like the LSH and
    boilerplate families). Per micro-batch: screen the arriving
    vectors against the standing cell postings (the bootstrapped base
    plus every EARLIER trigger's delta - manifest-named, own dirs
    excluded), write (vec_id, cluster, keep) verdicts to
    ``out_path/micro_batch=N``, then delta-append the batch's OWN cell
    assignments so later triggers dedup against everything seen so
    far. The quantizer stays FIXED (the standing centroids) - pair
    with clustering.kmeans_refresh out-of-band when it must track
    drift; greedy-by-id is cumulative, so the union of all triggers'
    verdicts equals the BATCH SemDeDup over the whole corpus
    restricted to streamed ids (unlike the frequency screens there is
    no per-trigger threshold state - the identity is global).

    State discipline = the delta-store recipe: mode("overwrite") into
    per-trigger dirs, manifest-governed read set, deltas land last,
    tail compaction past ``compact_after``. Each trigger's
    operator-internal persists release in a scope so a long-running
    stream's executor storage does not grow per trigger."""
    import os

    from ghcrawler_datalake_etl_spark.operators.dedup import (
        released_scope,
        semantic_dedup_incremental,
        semantic_postings,
    )

    _require_driver_local(store_root, "stream_semantic_dedup")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        spark = bdf.sparkSession
        bdf = bdf.persist()
        try:
            if bdf.count() == 0:
                return
            with released_scope():
                postings = base_postings
                manifest = _read_delta_manifest(store_root, "post")
                paths = _delta_read_paths(
                    store_root, "post", manifest, micro_batch
                )
                if paths:
                    postings = postings.unionByName(
                        spark.read.parquet(*paths).select(*postings.columns)
                    )
                semantic_dedup_incremental(
                    bdf, postings, id_col, vec_col, centroids,
                    threshold=threshold,
                ).write.mode("overwrite").parquet(
                    os.path.join(out_path, f"micro_batch={micro_batch}")
                )
                # this trigger's postings delta lands LAST (crash-replay
                # safe: a replay's read set is unchanged)
                semantic_postings(
                    bdf, id_col, vec_col, centroids
                ).write.mode("overwrite").parquet(
                    os.path.join(
                        store_root, "post", f"micro_batch={micro_batch}"
                    )
                )
            if micro_batch not in manifest["deltas"]:
                manifest = {
                    "version": 1,
                    "base": manifest.get("base"),
                    "deltas": sorted(manifest["deltas"] + [micro_batch]),
                }
                _write_delta_manifest(store_root, manifest)
            if len([m for m in manifest["deltas"] if m < micro_batch]) >= compact_after:
                _compact_delta_store(
                    spark, store_root, ("post",), manifest, micro_batch
                )
        finally:
            bdf.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_join_ivm(
    stream: DataFrame,
    catalog,
    a_table: str,
    join_table: str,
    index_table: str,
    b_table: str,
    a_key_cols: list[str],
    join_cols: list[str],
    feed_root: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 16,
) -> StreamingQuery:
    """Streaming join-shaped IVM - the foreachBatch arm of
    ParquetCatalog.fold_changes_into_join, closing the CDC loop for a
    materialized join the way stream_apply_changes_feed closed it for
    the table itself. Per micro-batch of (op, key, row) CDC rows on
    upstream A: apply to the merged A table (bucket-pruned), emit the
    version diff as a PREIMAGE feed to ``feed_root/micro_batch=N``
    (exactly-once under replay via the same per-trigger version
    ledger), then fold that feed into the standing join + A-by-join-key
    index against the STATIC dimension ``b_table``. The fold is
    idempotent over an identical feed (upserts re-land the same rows,
    deletes of deleted keys no-op), so a crash replay at any point
    re-derives the recorded diff and re-folds to the same state.

    Bootstrap: the first trigger against a missing A table emits the
    whole snapshot as inserts, which builds J and the index from
    nothing - no pre-staging step. B evolves out-of-band via the
    batch fold (fold_changes_into_join's feed_b arm) or through its
    own streaming arm (:func:`stream_join_ivm_dim` - the two-upstream
    composition, whose serialized-alternation contract is documented
    there); this arm is the A-side stream, the production
    fact-stream shape."""
    _require_driver_local(feed_root, "stream_join_ivm")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        if not bdf.head(1):
            return
        feed = _merge_and_emit_changes(
            catalog, bdf, micro_batch, a_table, list(a_key_cols),
            feed_root, op_col, seq_col, num_buckets,
            with_preimages=True,
        )
        catalog.fold_changes_into_join(
            feed, None, join_table, index_table, b_table,
            list(a_key_cols), list(join_cols),
            op_col=op_col, num_buckets=num_buckets,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_join_ivm_dim(
    stream: DataFrame,
    catalog,
    b_table: str,
    join_table: str,
    index_table: str,
    a_key_cols: list[str],
    join_cols: list[str],
    feed_root: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 16,
) -> StreamingQuery:
    """The DIMENSION-side streaming arm of the join IVM - together
    with :func:`stream_join_ivm` (the fact-side arm) it closes the
    TWO-UPSTREAM CDC loop: BOTH upstreams of a standing materialized
    FK equi-join can now evolve through streams, each arm maintaining
    the same join + secondary-index pair. Per micro-batch of (op, key,
    row) CDC rows on dimension B: apply to the merged B table (keyed
    by ``join_cols`` - B's primary key IS the join key, the FK-join
    contract), emit the version diff as a PREIMAGE feed (exactly-once
    under replay via the per-trigger version ledger), fold it through
    ``fold_changes_into_join``'s feed_b arm: dB post-images probe the
    standing A-by-join-key index (a bucket-pruned point read, never an
    A scan) and dB deletes cascade every dead join key's J rows.

    ORDERING CONTRACT (two-upstream composition): the two arms are
    SERIALIZED, never concurrent - run each availableNow stream to
    completion before starting the other (the single-maintainer
    contract of every catalog table, now spanning both arms because
    each fold reads the OTHER side's current state). A crashed run
    must be replayed (restart the SAME arm) before the other arm's
    next run: within that window the other side's tables are
    untouched, the ledger re-emits the identical recorded diff, and
    the key-level fold is idempotent over an identical feed - the
    crash-replay test drops the checkpoint commit and lands on the
    same state. Either arm may run first at bootstrap: a missing
    index/B table folds as "no matching rows yet" and the other arm's
    first trigger supplies them (fold_changes_into_join tolerates
    not-yet-created standing tables).

    Cross-trigger ordering per key rides ``seq_col`` exactly as in
    :func:`stream_apply_changes_feed`."""
    _require_driver_local(feed_root, "stream_join_ivm_dim")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        if not bdf.head(1):
            return
        feed = _merge_and_emit_changes(
            catalog, bdf, micro_batch, b_table, list(join_cols),
            feed_root, op_col, seq_col, num_buckets,
            with_preimages=True,
        )
        catalog.fold_changes_into_join(
            None, feed, join_table, index_table, b_table,
            list(a_key_cols), list(join_cols),
            op_col=op_col, num_buckets=num_buckets,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _fold_version_advanced(catalog, name: str, pre) -> bool:
    """True when ``name`` gained a version since ``pre`` was recorded -
    the per-downstream-table exactly-once test: every fold lands as ONE
    atomic version flip, so 'version advanced' == 'this trigger's fold
    already applied' (single-maintainer contract)."""
    cur = catalog._current_version(name)
    if pre is None:
        return cur is not None
    return cur is not None and cur > pre


def stream_aggregate_ivm(
    stream: DataFrame,
    catalog,
    a_table: str,
    index_table: str,
    stats_table: str,
    extrema_table: str,
    key_cols: list[str],
    group_cols: list[str],
    value_col: str,
    feed_root: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 16,
) -> StreamingQuery:
    """Streaming downstream-aggregate IVM - the foreachBatch arm of
    fold_changes_into_stats AND fold_changes_into_extrema, completing
    the aggregate folds' batch -> streaming lifecycle (the join fold
    got its arm in stream_join_ivm). Per micro-batch of (op, key, row)
    CDC rows: apply to the merged upstream, emit the version diff as a
    PREIMAGE feed, maintain a GROUP-BUCKETED replica of the upstream
    (``index_table`` - the extrema re-derivation's pruned-read target;
    the primary stays key-bucketed for CDC applies, the replica's
    preimages come from the feed), then fold the feed into the
    standing stats and extrema tables.

    Exactly-once is LEDGERED PER DOWNSTREAM TABLE: unlike the
    key-level join fold (idempotent over an identical feed), the stats
    fold is arithmetic - replaying it double-counts. Before the first
    fold attempt the trigger records each downstream table's CURRENT
    version in the feed manifest's txn ledger; every fold lands as one
    atomic version flip, so on replay a table whose version advanced
    past its recorded pre-version is SKIPPED and the rest re-run -
    crash at any point (before the replica merge, between the two
    folds, before the checkpoint commit) replays to the exact state.
    Single-maintainer contract: nothing else may write these tables
    mid-stream."""
    import os

    _require_driver_local(feed_root, "stream_aggregate_ivm")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        if not bdf.head(1):
            return
        feed = _merge_and_emit_changes(
            catalog, bdf, micro_batch, a_table, list(key_cols),
            feed_root, op_col, seq_col, num_buckets,
            with_preimages=True,
        )
        man = _read_delta_manifest(feed_root, "feed")
        rec = man["txn"][str(micro_batch)]
        if "folds" not in rec:
            rec["folds"] = {
                n: catalog._current_version(n)
                for n in (index_table, stats_table, extrema_table)
            }
            _write_delta_manifest(feed_root, man)
        pre = rec["folds"]

        def _index_merge() -> None:
            if not _fold_version_advanced(
                catalog, index_table, pre[index_table]
            ):
                posts = feed.filter(
                    F.col(op_col).isin("I", "U_post")
                ).drop(op_col)
                pres = feed.filter(F.col(op_col).isin("D", "U_pre"))
                catalog.merge_upsert(
                    posts, index_table, list(key_cols),
                    num_buckets=num_buckets, bucket_cols=list(group_cols),
                    delete_keys=pres.select(*key_cols, *group_cols),
                )

        def _stats_fold() -> None:
            if not _fold_version_advanced(
                catalog, stats_table, pre[stats_table]
            ):
                catalog.fold_changes_into_stats(
                    feed, stats_table, list(group_cols), value_col,
                    op_col=op_col, num_buckets=num_buckets,
                )

        # the replica merge and the stats fold touch distinct tables
        # and the stats fold never reads the replica (retractable
        # algebra) - overlap them (guide 2.6); only the extrema fold
        # needs the replica's post-state for its re-derivation reads
        run_concurrently(_index_merge, _stats_fold)
        if not _fold_version_advanced(
            catalog, extrema_table, pre[extrema_table]
        ):
            catalog.fold_changes_into_extrema(
                feed, index_table, extrema_table, list(group_cols),
                value_col, op_col=op_col, num_buckets=num_buckets,
            )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_distinct_ivm(
    stream: DataFrame,
    catalog,
    a_table: str,
    index_table: str,
    hll_table: str,
    key_cols: list[str],
    group_cols: list[str],
    value_col: str,
    feed_root: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 16,
) -> StreamingQuery:
    """Streaming COUNT DISTINCT IVM - the foreachBatch arm of
    ParquetCatalog.fold_changes_into_hll, completing the round-14 fold
    family's batch -> streaming lifecycle exactly as
    :func:`stream_aggregate_ivm` did for the stats/extrema folds. Per
    micro-batch of (op, key, row) CDC rows: apply to the merged
    upstream, emit the version diff as a PREIMAGE feed, maintain the
    GROUP-BUCKETED replica (``index_table`` - the register
    re-derivation's pruned-read target), then fold the feed into the
    standing per-group HLL sketch table.

    Exactly-once is LEDGERED PER DOWNSTREAM TABLE (the
    stream_aggregate_ivm mechanism): the count components of the HLL
    fold are arithmetic - replaying them double-counts - so each
    downstream table's pre-version is recorded in the feed manifest
    BEFORE folding; every fold lands as one atomic version flip, and
    on replay a table whose version advanced is skipped while the
    rest re-run. Single-maintainer contract: nothing else may write
    these tables mid-stream."""
    import os

    _require_driver_local(feed_root, "stream_distinct_ivm")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        if not bdf.head(1):
            return
        feed = _merge_and_emit_changes(
            catalog, bdf, micro_batch, a_table, list(key_cols),
            feed_root, op_col, seq_col, num_buckets,
            with_preimages=True,
        )
        man = _read_delta_manifest(feed_root, "feed")
        rec = man["txn"][str(micro_batch)]
        if "folds" not in rec:
            rec["folds"] = {
                n: catalog._current_version(n)
                for n in (index_table, hll_table)
            }
            _write_delta_manifest(feed_root, man)
        pre = rec["folds"]
        if not _fold_version_advanced(catalog, index_table, pre[index_table]):
            posts = feed.filter(
                F.col(op_col).isin("I", "U_post")
            ).drop(op_col)
            pres = feed.filter(F.col(op_col).isin("D", "U_pre"))
            catalog.merge_upsert(
                posts, index_table, list(key_cols),
                num_buckets=num_buckets, bucket_cols=list(group_cols),
                delete_keys=pres.select(*key_cols, *group_cols),
            )
        if not _fold_version_advanced(catalog, hll_table, pre[hll_table]):
            catalog.fold_changes_into_hll(
                feed, index_table, hll_table, list(group_cols),
                value_col, op_col=op_col, num_buckets=num_buckets,
            )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_topk_ivm(
    stream: DataFrame,
    catalog,
    a_table: str,
    index_table: str,
    topk_table: str,
    key_cols: list[str],
    group_cols: list[str],
    value_col: str,
    k: int,
    feed_root: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 16,
) -> StreamingQuery:
    """Streaming TOP-K IVM - the foreachBatch arm of
    ParquetCatalog.fold_changes_into_topk, completing the leaderboard
    fold's batch -> streaming lifecycle (the round-13/14 pattern:
    every fold family ships both arms). Per micro-batch of (op, key,
    row) CDC rows: apply to the merged upstream, emit the version diff
    as a PREIMAGE feed, maintain the GROUP-BUCKETED replica
    (``index_table`` - the horizon re-derivation's pruned-read
    target), then fold the feed into the standing per-group top-k
    table.

    Exactly-once is LEDGERED PER DOWNSTREAM TABLE (the
    stream_aggregate_ivm mechanism): the top-k fold is NOT idempotent
    - replaying an identical insert feed re-merges the same values
    into an array that already holds them, and the counts
    double-count - so each downstream table's pre-version is recorded
    in the feed manifest BEFORE folding; every fold lands as one
    atomic version flip, and on replay a table whose version advanced
    is skipped while the rest re-run. Single-maintainer contract:
    nothing else may write these tables mid-stream."""
    import os

    _require_driver_local(feed_root, "stream_topk_ivm")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        if not bdf.head(1):
            return
        feed = _merge_and_emit_changes(
            catalog, bdf, micro_batch, a_table, list(key_cols),
            feed_root, op_col, seq_col, num_buckets,
            with_preimages=True,
        )
        man = _read_delta_manifest(feed_root, "feed")
        rec = man["txn"][str(micro_batch)]
        if "folds" not in rec:
            rec["folds"] = {
                n: catalog._current_version(n)
                for n in (index_table, topk_table)
            }
            _write_delta_manifest(feed_root, man)
        pre = rec["folds"]
        if not _fold_version_advanced(catalog, index_table, pre[index_table]):
            posts = feed.filter(
                F.col(op_col).isin("I", "U_post")
            ).drop(op_col)
            pres = feed.filter(F.col(op_col).isin("D", "U_pre"))
            catalog.merge_upsert(
                posts, index_table, list(key_cols),
                num_buckets=num_buckets, bucket_cols=list(group_cols),
                delete_keys=pres.select(*key_cols, *group_cols),
            )
        if not _fold_version_advanced(catalog, topk_table, pre[topk_table]):
            catalog.fold_changes_into_topk(
                feed, index_table, topk_table, list(group_cols),
                value_col, k=k, op_col=op_col, num_buckets=num_buckets,
            )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_bm25_maintenance(
    stream_df: DataFrame,
    store_root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_after: int = 8,
) -> StreamingQuery:
    """Streaming maintenance of the persisted BM25 index - the
    foreachBatch arm of search.bm25_index, completing the lexical-
    search lifecycle (batch -> incremental -> streaming) the way the
    semantic screen's was completed in round 12. The index state
    (inverted postings (term, doc_id, tf) + lengths (doc_id, dl)) is
    APPEND-ONLY: every BM25 statistic derives from the stored rows, so
    a trigger is exactly one delta append - no screen step, no fold,
    no re-tokenization of anything already indexed.

    Per micro-batch: tokenize ONLY the arriving documents, write their
    postings to ``store_root/post/micro_batch=N`` and lengths to
    ``store_root/len/micro_batch=N`` (one shared manifest names both
    families' read set; the tail compacts past ``compact_after``).
    Serve queries at any point with :func:`bm25_store_frames` ->
    search.bm25_topk_index; the shared scoring tail makes the served
    top-k bit-identical to the batch BM25 over every document indexed
    so far (the driver oracle's identity)."""
    import os

    from ghcrawler_datalake_etl_spark.operators.search import bm25_index

    _require_driver_local(store_root, "stream_bm25_maintenance")

    def _apply(bdf: DataFrame, micro_batch: int) -> None:
        spark = bdf.sparkSession
        bdf = bdf.persist()
        try:
            if bdf.count() == 0:
                return
            postings, lengths = bm25_index(bdf, id_col, text_col)
            manifest = _read_delta_manifest(store_root, "post")
            # both families land mode("overwrite") into per-trigger
            # dirs - a replayed trigger overwrites its own output, and
            # the manifest append below is the last (atomic) step
            postings.write.mode("overwrite").parquet(
                os.path.join(store_root, "post", f"micro_batch={micro_batch}")
            )
            lengths.write.mode("overwrite").parquet(
                os.path.join(store_root, "len", f"micro_batch={micro_batch}")
            )
            if micro_batch not in manifest["deltas"]:
                manifest = {
                    "version": 1,
                    "base": manifest.get("base"),
                    "deltas": sorted(manifest["deltas"] + [micro_batch]),
                }
                _write_delta_manifest(store_root, manifest)
            if (
                len([m for m in manifest["deltas"] if m < micro_batch])
                >= compact_after
            ):
                _compact_delta_store(
                    spark, store_root, ("post", "len"), manifest, micro_batch
                )
        finally:
            bdf.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def bm25_store_frames(
    spark: SparkSession,
    store_root: str,
    base_postings: DataFrame | None = None,
    base_lengths: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The serving read of a :func:`stream_bm25_maintenance` store:
    (postings, lengths) = optional bootstrapped base frames UNION the
    manifest-named deltas (compacted base + micro-batch dirs) - feed
    straight into search.bm25_topk_index. The manifest IS the read
    set: no directory listing."""
    import os

    manifest = _read_delta_manifest(store_root, "post")
    out = []
    for sub, base in (("post", base_postings), ("len", base_lengths)):
        paths = [
            p
            for p in (
                [os.path.join(store_root, sub, manifest["base"])]
                if manifest.get("base")
                else []
            )
        ] + [
            os.path.join(store_root, sub, f"micro_batch={mb}")
            for mb in manifest.get("deltas", [])
        ]
        frame = spark.read.parquet(*paths) if paths else None
        if base is not None:
            frame = base if frame is None else base.unionByName(
                frame.select(*base.columns)
            )
        if frame is None:
            raise FileNotFoundError(
                f"bm25 store {store_root!r} has no {sub!r} data and no "
                "base frame was supplied"
            )
        out.append(frame)
    return out[0], out[1]


def stream_hll_registers(
    events: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming HyperLogLog register maintenance: per event-time
    window, the (bucket, max-rho) sketch state of ``value_col``
    (operators/sketches.hll_bucket_rho - identical hashing to the
    batch sketch, so the maintained registers ARE the batch registers
    of the same data). max() is monotone, so this is a single valid
    streaming aggregation whose state is <= m register rows per
    window - the production daily-active-users shape: the stream keeps
    registers current, estimates roll up on demand from the tiny
    register table (sketches.hll_estimate_from_registers).

    Works identically on a static frame (the batch twin). NULL event
    times and NULL values are excluded explicitly, the
    windowed_event_counts parity convention."""
    from ghcrawler_datalake_etl_spark.operators.sketches import (
        hll_bucket_rho,
    )

    src = events.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    bucket, rho = hll_bucket_rho(F.col(value_col))
    return (
        src.select(
            F.col(ts_col), bucket.alias("bucket"), rho.alias("rho")
        )
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"),
            "bucket",
        )
        .agg(F.max("rho").alias("m_rho"))
        .select(F.col("win.start").alias("window_start"), "bucket", "m_rho")
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    prefix: tuple[str, str] = ("l_", "r_"),
) -> DataFrame:
    """Stream-stream inner join on a key within an event-time interval:
    a right row matches a left row when ``r.ts`` falls in
    ``[l.ts + lower, l.ts + upper]`` - the click-to-purchase /
    impression-attribution shape (the streaming twin of
    temporal.interval_join; the interval bound is what lets Spark age
    state out instead of buffering both streams forever).

    Both sides are watermarked and NULL-event-time rows are excluded
    explicitly (the batch-twin parity convention of
    windowed_event_counts). Works identically on two STATIC frames -
    the oracle-checkable batch twin - because the join condition is the
    same Column expression either way.

    Scale: state per key is bounded by ``watermark + upper``; the join
    itself is a key-partitioned shuffle on both sides, exactly like a
    batch equi-join on (key) with the range as a residual predicate.
    """
    lp, rp = prefix
    lf = left.filter(F.col(left_ts).isNotNull())
    rf = right.filter(F.col(right_ts).isNotNull())
    if lf.isStreaming:
        lf = lf.withWatermark(left_ts, watermark)
    if rf.isStreaming:
        rf = rf.withWatermark(right_ts, watermark)
    lsel = lf.select([F.col(c).alias(f"{lp}{c}") for c in lf.columns])
    rsel = rf.select([F.col(c).alias(f"{rp}{c}") for c in rf.columns])
    cond = (
        (F.col(f"{lp}{key_col}") == F.col(f"{rp}{key_col}"))
        & (
            F.col(f"{rp}{right_ts}")
            >= F.col(f"{lp}{left_ts}") + F.expr(f"INTERVAL {lower}")
        )
        & (
            F.col(f"{rp}{right_ts}")
            <= F.col(f"{lp}{left_ts}") + F.expr(f"INTERVAL {upper}")
        )
    )
    return lsel.join(rsel, cond, "inner")
