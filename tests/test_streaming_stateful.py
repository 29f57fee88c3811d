"""The applyInPandasWithState sessionizer must agree with the batch
(window lag + running sum) form when the same events arrive split across
micro-batches - state carries open sessions across the batch boundary.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.sources import ivm
from ghcrawler_datalake_etl_spark.streaming import (
    sessionize_batch,
    sessionize_stream,
)

EVENT_SCHEMA = "user_id long, event_id long, ts timestamp, value double"

# Three users; sessions split by >30 min gaps; u1's first session spans
# the micro-batch boundary (events in both files), u3 has one event per
# session. A final far-future event per user closes every open session.
BATCH_1 = [
    (1, 1, "2024-01-01 10:00:00", 1.0),
    (1, 2, "2024-01-01 10:10:00", 2.0),
    (2, 3, "2024-01-01 09:00:00", 5.0),
    (3, 4, "2024-01-01 08:00:00", 7.0),
]
BATCH_2 = [
    (1, 5, "2024-01-01 10:25:00", 3.0),   # continues u1 session 1
    (1, 6, "2024-01-01 12:00:00", 4.0),   # gap -> u1 session 2
    (2, 7, "2024-01-01 09:20:00", 6.0),   # continues u2 session 1
    (3, 8, "2024-01-01 11:30:00", 8.0),   # gap -> u3 session 2
    # terminal sentinels: close everything open
    (1, 900, "2024-01-02 00:00:00", 0.0),
    (2, 901, "2024-01-02 00:00:00", 0.0),
    (3, 902, "2024-01-02 00:00:00", 0.0),
]


def _write_batch(path, rows):
    with open(path, "w") as f:
        for uid, eid, ts, val in rows:
            f.write(
                json.dumps(
                    {"user_id": uid, "event_id": eid, "ts": ts, "value": val}
                )
                + "\n"
            )


@pytest.mark.slow
def test_stream_sessions_match_batch(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    _write_batch(indir / "b1.json", BATCH_1)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    sessions = sessionize_stream(stream, gap_minutes=30)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(indir / "b2.json", BATCH_2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in spark.table("sessions_out")
        .select(
            "user_id", "session_start_us", "session_end_us", "n_events",
            "total_value",
        )
        .collect()
    }

    all_events = spark.createDataFrame(
        [(u, e, ts, v) for u, e, ts, v in BATCH_1 + BATCH_2],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = sessionize_batch(all_events, gap_minutes=30)
    # streaming emits only CLOSED sessions; the sentinel events leave one
    # open session per user (the sentinel itself) -> drop those from batch
    sentinel_us = {r[0] for r in batch.filter(F.col("n_events") == 1)
                   .filter(F.col("total_value") == 0.0)
                   .select("session_start_us").collect()}
    expected = {
        tuple(r)
        for r in batch.collect()
        if not (r["n_events"] == 1 and r["total_value"] == 0.0
                and r["session_start_us"] in sentinel_us)
    }
    assert got == expected
    # state really crossed the batch boundary: u1 session 1 has 3 events
    assert any(r[0] == 1 and r[3] == 3 for r in got)


@pytest.mark.slow
def test_stream_upsert_snapshot_latest_wins(spark, tmp_path):
    """Continuous pattern A: micro-batches merge into the catalog
    snapshot latest-wins; a re-run over the same input is a no-op."""
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming import stream_upsert_snapshot

    indir = tmp_path / "in"
    indir.mkdir()
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(
                "urn string, processed_at timestamp, deleted_at timestamp,"
                " stars long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(indir))
        )
        q = stream_upsert_snapshot(
            stream, catalog, "StarsSnap", keys=["urn"], checkpoint=ckpt,
            tiebreakers=("urn",),
        )
        q.awaitTermination()

    rows1 = [
        {"urn": "urn:a", "processed_at": "2024-01-01 10:00:00", "stars": 1},
        {"urn": "urn:b", "processed_at": "2024-01-01 10:00:00", "stars": 5},
    ]
    with open(indir / "b1.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows1)
    run()
    got = {r["urn"]: r["stars"] for r in catalog.read("StarsSnap").collect()}
    assert got == {"urn:a": 1, "urn:b": 5}

    # newer version of urn:a + new urn:c in a second batch
    rows2 = [
        {"urn": "urn:a", "processed_at": "2024-01-01 11:00:00", "stars": 9},
        {"urn": "urn:c", "processed_at": "2024-01-01 11:00:00", "stars": 2},
    ]
    with open(indir / "b2.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows2)
    run()
    got = {r["urn"]: r["stars"] for r in catalog.read("StarsSnap").collect()}
    assert got == {"urn:a": 9, "urn:b": 5, "urn:c": 2}

    # replay with no new files: checkpoint makes it a no-op
    run()
    assert catalog.read("StarsSnap").count() == 3


def test_stream_dedup_absorbs_redelivery(spark, tmp_path):
    """Duplicate keys across micro-batches within the watermark emit once."""
    from ghcrawler_datalake_etl_spark.streaming import stream_dedup

    indir = tmp_path / "in"
    indir.mkdir()
    rows1 = [
        {"urn": "urn:a", "ts": "2024-01-01 10:00:00", "v": 1},
        {"urn": "urn:b", "ts": "2024-01-01 10:01:00", "v": 2},
    ]
    rows2 = [
        {"urn": "urn:a", "ts": "2024-01-01 10:05:00", "v": 99},  # redelivery
        {"urn": "urn:c", "ts": "2024-01-01 10:06:00", "v": 3},
    ]
    with open(indir / "b1.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows1)

    stream = (
        spark.readStream.schema("urn string, ts timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    deduped = stream_dedup(stream, ["urn"], ts_col="ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(indir / "b2.json", "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["urn"], r["v"]) for r in spark.table("dedup_out").collect()}
    assert got == {("urn:a", 1), ("urn:b", 2), ("urn:c", 3)}, got


@pytest.mark.slow
def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """enrich_with_dim on a real stream (two micro-batches, complete
    windowed agg) must equal the same plan run on the static union."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import enrich_with_dim

    indir = tmp_path / "enrich_in"
    indir.mkdir()
    _write_batch(indir / "b1.json", BATCH_1)

    dim = spark.createDataFrame(
        [(1, "GOLD"), (2, "SILVER"), (3, "GOLD")], "user_id long, tier string"
    )

    def agg(df):
        src = df
        if src.isStreaming:
            src = src.withWatermark("ts", "10 days")
        enriched = enrich_with_dim(
            src, dim, "user_id", how="inner"
        )
        return (
            enriched.groupBy(
                F.window("ts", "1 hour").alias("win"), F.col("tier")
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
            .select(
                F.col("win.start").cast("string").alias("w"), "tier", "n", "v"
            )
        )

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        agg(stream)
        .writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(indir / "b2.json", BATCH_2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in spark.table("enrich_out").collect()}
    want = {
        tuple(r)
        for r in agg(
            spark.read.schema(EVENT_SCHEMA).json(str(indir))
        ).collect()
    }
    assert got == want and len(want) > 0


def test_windowed_counts_drop_late_data(spark, tmp_path):
    """The watermark contract end-to-end in append mode: an event
    arriving later than the watermark behind max event time is DROPPED
    (its closed window never updates), while in-watermark events land
    in their event-time window."""
    from ghcrawler_datalake_etl_spark.streaming import windowed_event_counts

    indir = tmp_path / "in"
    indir.mkdir()
    # batch 1: two windows' worth of on-time events; max ts 13:30 puts
    # the watermark (1h) at 12:30, past the 10:00-11:00 window end
    rows1 = [
        {"ts": "2024-01-01 10:15:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 10:45:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 13:30:00", "event_type": "view", "value": 5.0},
    ]
    # batch 2: a LATE click for the already-closed 10:00 window (beyond
    # the watermark - must be dropped) and a far-future flusher that
    # pushes the watermark past every other window end
    rows2 = [
        {"ts": "2024-01-01 10:20:00", "event_type": "click", "value": 100.0},
        {"ts": "2024-01-02 00:00:00", "event_type": "flush", "value": 0.0},
    ]
    with open(indir / "b1.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows1)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    counts = windowed_event_counts(
        stream, window_duration="1 hour", watermark="1 hour"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(indir / "b2.json", "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("late_out").collect()
    }
    # the 10:00 click window closed with its ON-TIME contents only
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0), got
    # the late 100.0 click created/updated nothing else for that window
    clicks = [k for k in got if k[1] == "click"]
    assert clicks == [("2024-01-01 10:00:00", "click")], got


def test_chunk_windows_work_on_streams(spark, tmp_path):
    """The chunking operator is stateless-narrow, so the SAME function
    runs unchanged on a readStream frame; output must equal the batch
    twin row-for-row."""
    from ghcrawler_datalake_etl_spark.operators.text import chunk_token_windows

    indir = tmp_path / "in"
    indir.mkdir()
    docs = [
        {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(25))},
        {"doc_id": 2, "text": "tiny doc"},
        {"doc_id": 3, "text": ""},
    ]
    with open(indir / "d.json", "w") as f:
        f.writelines(json.dumps(d) + "\n" for d in docs)

    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(str(indir))
    q = (
        chunk_token_windows(stream, "doc_id", "text", chunk=10, overlap=2)
        .writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = chunk_token_windows(
        spark.read.schema(schema).json(str(indir)),
        "doc_id", "text", chunk=10, overlap=2,
    )
    got = sorted(map(tuple, spark.table("chunk_stream").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) == 4  # 3 chunks for doc1 + 1 for doc2


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Two file streams joined within an event-time interval produce
    exactly the rows the SAME operator yields on the static frames
    (the batch-twin parity contract); a right event outside the
    interval or with a NULL timestamp never matches."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(), rdir.mkdir()
    clicks = [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00", "page": "a"},
        {"user_id": "u2", "ts": "2024-01-01 10:05:00", "page": "b"},
        {"user_id": "u3", "ts": None, "page": "c"},          # NULL ts
    ]
    buys = [
        {"user_id": "u1", "ts": "2024-01-01 10:30:00", "amount": 5.0},
        {"user_id": "u1", "ts": "2024-01-01 12:30:00", "amount": 9.0},  # late
        {"user_id": "u2", "ts": "2024-01-01 10:04:00", "amount": 1.0},  # early
        {"user_id": "u2", "ts": "2024-01-01 11:00:00", "amount": 2.0},
    ]
    with open(ldir / "l.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in clicks)
    with open(rdir / "r.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in buys)

    lschema = "user_id string, ts timestamp, page string"
    rschema = "user_id string, ts timestamp, amount double"
    out = stream_stream_interval_join(
        spark.readStream.schema(lschema).json(str(ldir)),
        spark.readStream.schema(rschema).json(str(rdir)),
        key_col="user_id",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["l_user_id"], str(r["r_ts"]), r["r_amount"])
            for r in spark.sql("SELECT * FROM ssj_out").collect()
        )
    finally:
        q.stop()
    batch = stream_stream_interval_join(
        spark.createDataFrame(
            [(c["user_id"], c["ts"], c["page"]) for c in clicks],
            "user_id string, ts string, page string",
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        spark.createDataFrame(
            [(b["user_id"], b["ts"], b["amount"]) for b in buys],
            "user_id string, ts string, amount double",
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        key_col="user_id",
    )
    want = sorted(
        (r["l_user_id"], str(r["r_ts"]), r["r_amount"])
        for r in batch.collect()
    )
    assert got == want
    assert got == [
        ("u1", "2024-01-01 10:30:00", 5.0),
        ("u2", "2024-01-01 11:00:00", 2.0),
    ]


@pytest.mark.slow
def test_stream_distinct_drops_replayed_rows(spark, tmp_path):
    """Full-row streaming dedup: a doubled feed collapses to the
    distinct set, matching the static twin exactly."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import stream_distinct

    rows = [
        (1, "2024-01-01 10:00:00", "a"),
        (2, "2024-01-01 11:00:00", "b"),
        (1, "2024-01-01 10:00:00", "a"),  # replay
        (3, None, "c"),                   # NULL ts: dropped by watermark col?
    ]
    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "id long, ts timestamp, v string"
    static = spark.createDataFrame(
        [(i, t, v) for i, t, v in rows], "id long, ts string, v string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    static.coalesce(1).write.mode("overwrite").parquet(str(sdir))
    out = stream_distinct(
        spark.readStream.schema(static.schema).parquet(str(sdir)),
        ts_col="ts", watermark="1 day",
    )
    q = (
        out.writeStream.format("memory").queryName("sdd_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["id"], str(r["ts"]), r["v"])
            for r in spark.sql("SELECT * FROM sdd_test").collect()
        )
    finally:
        q.stop()
    want = sorted(
        (r["id"], str(r["ts"]), r["v"])
        for r in stream_distinct(static, ts_col="ts").collect()
    )
    assert got == want
    assert len(got) == 3  # replay collapsed; NULL-ts row kept once


def test_stream_cluster_maintenance_matches_full_recluster(spark, tmp_path):
    """Round-10: the streaming standing-cluster loop (screen-all +
    within-batch pairs + changed-only fold into a merge-sink table +
    index/text delta-append) must land the SAME label table a full
    re-cluster over every document produces - including a
    CROSS-TRIGGER duplicate that only clusters because trigger N's
    signatures were appended to the index before trigger N+1."""
    import os

    from ghcrawler_datalake_etl_spark.operators import dedup as D
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_cluster_maintenance,
    )

    def txt(seed, k=12):
        return " ".join(f"tok{(seed * 7 + j) % 97}" for j in range(k))

    corpus_rows = [(i, txt(i)) for i in range(12)]
    corpus_rows[5] = (5, txt(2))        # corpus-internal dup pair (2,5)
    batch1 = [(101, txt(3)),            # dups corpus doc 3
              (102, txt(500)), (103, txt(501))]
    batch2 = [(201, txt(500)),          # CROSS-TRIGGER dup of 102
              (202, txt(7)),            # dups corpus doc 7
              (203, txt(502))]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    sdir = str(tmp_path / "in")
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(sdir, "f0"))
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(os.path.join(sdir, "f0"))

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base_pairs = D.minhash_lsh_pairs(corpus, "doc_id", "text",
                                     n=3, num_hashes=16, bands=4)
    cat.merge_upsert(D.connected_components(base_pairs), "labels",
                     ["node"], num_buckets=4)
    index = D.lsh_band_index(corpus, "doc_id", "text",
                             n=3, num_hashes=16, bands=4)
    q = stream_cluster_maintenance(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(sdir, "f0")),
        index, corpus, cat, "labels",
        str(tmp_path / "store"), str(tmp_path / "ck"),
        "doc_id", "text", n=3, num_hashes=16, bands=4, num_buckets=4,
    )
    q.awaitTermination()
    got = {r.node: r.cluster_id for r in cat.read("labels").collect()}

    everything = corpus.unionByName(
        spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    )
    full = {
        r.node: r.cluster_id
        for r in D.connected_components(
            D.minhash_lsh_pairs(everything, "doc_id", "text",
                                n=3, num_hashes=16, bands=4)
        ).collect()
    }
    assert got == full
    # the cross-trigger pair actually merged
    assert got[201] == got[102]
    assert got[101] == got[3] and got[202] == got[7]
    # two triggers really ran: both delta dirs exist
    idx_dirs = sorted(os.listdir(str(tmp_path / "store" / "idx")))
    assert [d for d in idx_dirs if d.startswith("micro_batch=")], idx_dirs
    # the manifest names the full read set (no listing on the read path)
    import json

    with open(str(tmp_path / "store" / "_manifest.json")) as fh:
        man = json.load(fh)
    assert sorted(man["deltas"]) == [
        int(d.split("=", 1)[1]) for d in idx_dirs if d.startswith("micro_batch=")
    ]


def test_stream_cluster_maintenance_compacts_delta_tail(spark, tmp_path):
    """Round-11 (VERDICT r10 #3): the delta store's per-trigger read
    set is BOUNDED - with compact_after=1, each trigger folds every
    older delta into a base_vK dir and drops the folded dirs, yet a
    duplicate spanning trigger 0 -> trigger 2 (visible only THROUGH
    the compacted base) still clusters, and the final table equals the
    full re-cluster."""
    import json
    import os

    from ghcrawler_datalake_etl_spark.operators import dedup as D
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_cluster_maintenance,
    )

    def txt(seed, k=12):
        return " ".join(f"tok{(seed * 7 + j) % 97}" for j in range(k))

    corpus = spark.createDataFrame(
        [(i, txt(i)) for i in range(8)], "doc_id long, text string"
    )
    batches = [
        [(101, txt(300))],              # trigger 0: fresh content
        [(201, txt(400))],              # trigger 1: fresh content
        [(301, txt(300)),               # trigger 2: dup of trigger 0's 101
         (302, txt(400))],              # ... and of trigger 1's 201
    ]
    sdir = str(tmp_path / "in")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(os.path.join(sdir, "f0"))

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base_pairs = D.minhash_lsh_pairs(corpus, "doc_id", "text",
                                     n=3, num_hashes=16, bands=4)
    cat.merge_upsert(D.connected_components(base_pairs), "labels",
                     ["node"], num_buckets=4)
    index = D.lsh_band_index(corpus, "doc_id", "text",
                             n=3, num_hashes=16, bands=4)
    q = stream_cluster_maintenance(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(sdir, "f0")),
        index, corpus, cat, "labels",
        str(tmp_path / "store"), str(tmp_path / "ck"),
        "doc_id", "text", n=3, num_hashes=16, bands=4, num_buckets=4,
        compact_after=1,
    )
    q.awaitTermination()
    got = {r.node: r.cluster_id for r in cat.read("labels").collect()}

    everything = corpus.unionByName(
        spark.createDataFrame(
            [r for b in batches for r in b], "doc_id long, text string"
        )
    )
    full = {
        r.node: r.cluster_id
        for r in D.connected_components(
            D.minhash_lsh_pairs(everything, "doc_id", "text",
                                n=3, num_hashes=16, bands=4)
        ).collect()
    }
    assert got == full
    # cross-trigger dups merged THROUGH the compacted base
    assert got[301] == got[101] and got[302] == got[201]
    # tail bounded: older deltas folded into a base, folded dirs gone
    with open(str(tmp_path / "store" / "_manifest.json")) as fh:
        man = json.load(fh)
    assert man["base"] is not None
    assert len(man["deltas"]) <= 2  # current trigger + <= compact_after
    for sub in ("idx", "docs"):
        dirs = set(os.listdir(str(tmp_path / "store" / sub)))
        assert man["base"] in dirs
        open_deltas = {f"micro_batch={m}" for m in man["deltas"]}
        stale = {
            d for d in dirs
            if d.startswith("micro_batch=") and d not in open_deltas
        }
        assert not stale, f"folded delta dirs not cleaned in {sub}: {stale}"


def test_stream_boilerplate_screen_folds_trigger_stats(spark, tmp_path):
    """Round-12: the boilerplate screen's streaming arm. Three
    SEQUENTIAL availableNow triggers (deterministic order) with
    compact_after=1: each trigger must screen against corpus + all
    EARLIER triggers' stats - a line crossing the frequency threshold
    only once trigger 0 lands is cut from trigger 1's documents while
    trigger 0's own output stays as screened at its arrival (the
    non-retroactive contract) - the union equals the per-stage replay
    through the batch incremental operator, and the delta tail stays
    bounded with folded dirs cleaned."""
    import os

    from ghcrawler_datalake_etl_spark.operators import text as TX
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_boilerplate_screen,
    )

    SCHEMA = "doc_id long, source string, text string"
    corpus_rows = [(0, "s", "HDR\na0"), (1, "s", "HDR\nb1")]
    trigger_rows = [
        [(10, "s", "HDR\nNEW\nu10")],   # NEW df=1 -> survives here
        [(20, "s", "NEW\nu20")],        # NEW df=2 now -> cut here
        [(30, "s", "HDR\nu30")],        # bootstrapped boilerplate cut
    ]
    corpus = spark.createDataFrame(corpus_rows, SCHEMA)
    lroot = str(tmp_path / "lstats")
    sroot_stats = str(tmp_path / "sstats")
    TX.boilerplate_line_stats(corpus).write.parquet(lroot)
    TX.source_doc_counts(corpus).write.parquet(sroot_stats)
    base_lines = spark.read.parquet(lroot)
    base_sources = spark.read.parquet(sroot_stats)

    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    out_path = str(tmp_path / "out")
    store = str(tmp_path / "store")
    for i, rows in enumerate(trigger_rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            os.path.join(sdir, f"day{i}")
        )
        stream_boilerplate_screen(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            base_lines, base_sources, out_path, store,
            str(tmp_path / "ck"), min_docs=2, min_frac=0.3,
            compact_after=1,
        ).awaitTermination()

    got = {
        r.doc_id: (r.n_lines, r.n_dropped, r.text_clean)
        for r in spark.read.parquet(out_path).collect()
    }
    # per-stage replay through the batch incremental operator
    seen = corpus
    want = {}
    for rows in trigger_rows:
        batch = spark.createDataFrame(rows, SCHEMA)
        inc = TX.remove_boilerplate_lines_incremental(
            batch,
            TX.boilerplate_line_stats(seen),
            TX.source_doc_counts(seen),
            min_docs=2, min_frac=0.3,
        )
        want.update({
            r.doc_id: (r.n_lines, r.n_dropped, r.text_clean)
            for r in inc.collect()
        })
        seen = seen.unionByName(batch)
    assert got == want
    # the non-retroactive cross-trigger effect, pinned explicitly
    assert got[10] == (3, 1, "NEW\nu10")   # NEW survives at trigger 0
    assert got[20] == (2, 1, "u20")        # ... and is cut at trigger 1
    assert got[30] == (2, 1, "u30")
    # tail bounded with compact_after=1; folded dirs cleaned
    with open(os.path.join(store, "_manifest.json")) as fh:
        man = json.load(fh)
    assert man["base"] is not None
    assert len(man["deltas"]) <= 2
    for sub in ("lines", "sources"):
        dirs = set(os.listdir(os.path.join(store, sub)))
        assert man["base"] in dirs
        open_deltas = {f"micro_batch={m}" for m in man["deltas"]}
        stale = {
            d for d in dirs
            if d.startswith("micro_batch=") and d not in open_deltas
        }
        assert not stale, f"folded delta dirs not cleaned in {sub}: {stale}"


def test_stream_semantic_dedup_drops_through_store(spark, tmp_path):
    """Round-12: streaming SemDeDup. Three sequential availableNow
    triggers with compact_after=1: a trigger-2 near-dup of a TRIGGER-0
    vector must drop through the delta-appended postings store (not
    just against the bootstrapped base), the union of all triggers'
    verdicts must equal the batch SemDeDup over the full corpus
    restricted to streamed ids (greedy-by-id is cumulative), executor
    storage must not grow per trigger (the released_scope contract),
    and the postings tail must compact."""
    import os

    from ghcrawler_datalake_etl_spark.operators import dedup as D

    cents = [[1.0, 0.0], [0.0, 1.0]]
    SCHEMA = "vec_id long, embedding array<double>"
    corpus_rows = [(0, [1.0, 0.05]), (1, [0.05, 1.0])]
    trigger_rows = [
        [(10, [0.6, 0.61])],            # novel direction, cluster 1
        [(20, [1.0, 0.06])],            # near-dup of CORPUS id 0
        [(30, [0.55, 0.62]),            # near-dup of TRIGGER-0 id 10
         (31, [0.0, 0.0])],             # zero-norm: NaN never drops
    ]
    corpus = spark.createDataFrame(corpus_rows, SCHEMA)
    ppath = str(tmp_path / "postings")
    D.semantic_postings(corpus, "vec_id", "embedding", cents).write.parquet(
        ppath
    )
    base = spark.read.parquet(ppath)

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_semantic_dedup,
    )

    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    out_path = str(tmp_path / "out")
    store = str(tmp_path / "store")
    sc = spark.sparkContext
    D.release_materialized()
    pinned_before = sc._jsc.getPersistentRDDs().size()
    for i, rows in enumerate(trigger_rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            os.path.join(sdir, f"day{i}")
        )
        stream_semantic_dedup(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            base, cents, out_path, store, str(tmp_path / "ck"),
            threshold=0.9, compact_after=1,
        ).awaitTermination()
    # per-trigger scope released every operator-internal persist
    assert sc._jsc.getPersistentRDDs().size() <= pinned_before

    got = {
        r.vec_id: r.keep for r in spark.read.parquet(out_path).collect()
    }
    streamed = [r for rows in trigger_rows for r in rows]
    want = {
        r.vec_id: r.keep
        for r in D.semantic_dedup(
            corpus.unionByName(spark.createDataFrame(streamed, SCHEMA)),
            "vec_id", "embedding", cents, threshold=0.9,
        ).collect()
        if r.vec_id >= 10
    }
    assert got == want
    assert got[10] == 1                 # novel survives
    assert got[20] == 0                 # dup of corpus drops via base
    assert got[30] == 0                 # dup of trigger 0 drops THROUGH
    assert got[31] == 1                 # the store; NaN never drops
    with open(os.path.join(store, "_manifest.json")) as fh:
        man = json.load(fh)
    assert man["base"] is not None and len(man["deltas"]) <= 2


def test_stream_boilerplate_replayed_trigger_never_double_counts(
    spark, tmp_path
):
    """Round-12 crash-replay proof: a trigger whose checkpoint COMMIT
    is lost (crash after processing, before commit) replays on
    restart; the replay must overwrite its own stats delta, not append
    a second copy. Detector: line L appears once in trigger 0 and once
    in trigger 1 with min_docs=3 - correct accounting leaves L at df=2
    (survives trigger 1); a double-counted trigger-0 delta reads df=3
    and wrongly cuts it."""
    import os

    from ghcrawler_datalake_etl_spark.operators import text as TX
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_boilerplate_screen,
    )

    SCHEMA = "doc_id long, source string, text string"
    corpus = spark.createDataFrame(
        [(0, "s", "base zero"), (1, "s", "base one")], SCHEMA
    )
    lroot = str(tmp_path / "lstats")
    sroot_stats = str(tmp_path / "sstats")
    TX.boilerplate_line_stats(corpus).write.parquet(lroot)
    TX.source_doc_counts(corpus).write.parquet(sroot_stats)
    base_lines = spark.read.parquet(lroot)
    base_sources = spark.read.parquet(sroot_stats)

    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    out_path = str(tmp_path / "out")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    def run():
        stream_boilerplate_screen(
            spark.readStream.schema(SCHEMA).option(
                "recursiveFileLookup", "true"
            ).parquet(sdir),
            base_lines, base_sources, out_path, store, ck,
            min_docs=3, min_frac=0.1,
        ).awaitTermination()

    spark.createDataFrame(
        [(10, "s", "L\nu10")], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day0"))
    run()
    # simulate crash after trigger 0 processed but before the commit
    # landed: drop the commit record, keep the offsets - restart
    # replays micro_batch 0 against the same input
    os.remove(os.path.join(ck, "commits", "0"))
    # the checksummed local FS keeps a .crc sidecar; a stale one fails
    # the replay's commit rename (read as a concurrent-query conflict)
    crc = os.path.join(ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()  # the replay
    spark.createDataFrame(
        [(20, "s", "L\nu20")], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(sdir, "day1"))
    run()
    got = {
        r.doc_id: (r.n_dropped, r.text_clean)
        for r in spark.read.parquet(out_path).collect()
    }
    # df(L)=2 < min_docs=3 everywhere: L must SURVIVE both documents;
    # a double-counted replay delta would read df=3 and cut it at 20
    assert got[10] == (0, "L\nu10"), got[10]
    assert got[20] == (0, "L\nu20"), got[20]
    # the store holds exactly one delta row for L per trigger
    import pyspark.sql.functions as SF

    lines_store = spark.read.parquet(os.path.join(store, "lines"))
    l_rows = lines_store.groupBy("src", "dig").agg(
        SF.sum("line_df").alias("df")
    ).collect()
    assert all(r.df <= 2 for r in l_rows), l_rows


def test_stream_apply_changes_feed_roundtrip(spark, tmp_path):
    """Round-11: streaming CDC maintenance with per-trigger changefeed
    emission - the final table equals the sequential batch apply, the
    CONCATENATED feeds replayed onto the pre-stream snapshot reproduce
    it (the roundtrip contract), and a replayed trigger re-emits the
    identical feed without minting a spurious version."""
    import os

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        _merge_and_emit_changes,
        stream_apply_changes_feed,
    )

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cat.merge_upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ),
        "T", ["k"], num_buckets=4,
    )
    t1 = [(3, "v3x", "U"), (100, "new", "I"), (7, None, "D")]
    t2 = [(100, "newer", "U"), (4, None, "D"), (200, "fresh", "I")]
    sdir = str(tmp_path / "in")
    for rows in (t1, t2):
        spark.createDataFrame(rows, "k long, v string, op string").coalesce(
            1
        ).write.mode("append").parquet(sdir)
    feed_root = str(tmp_path / "feed")
    q = stream_apply_changes_feed(
        spark.readStream.schema("k long, v string, op string")
        .option("maxFilesPerTrigger", 1).parquet(sdir),
        cat, "T", ["k"], feed_root, str(tmp_path / "ck"), num_buckets=4,
    )
    q.awaitTermination()

    # (a) final table == sequential batch apply on a twin
    twin = ParquetCatalog(spark, str(tmp_path / "wh2"))
    twin.merge_upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ),
        "T", ["k"], num_buckets=4,
    )
    for rows in (t1, t2):
        ivm.apply_changes(
            twin, spark.createDataFrame(rows, "k long, v string, op string"),
            "T", ["k"], num_buckets=4,
        )
    got = sorted((r.k, r.v) for r in cat.read("T").collect())
    assert got == sorted((r.k, r.v) for r in twin.read("T").collect())

    # (b) concatenated feeds replayed onto the PRE-stream snapshot
    # reproduce the final table (feeds are per-trigger; replay in
    # trigger order)
    replay = ParquetCatalog(spark, str(tmp_path / "wh3"))
    replay.merge_upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ),
        "T", ["k"], num_buckets=4,
    )
    feed_dirs = sorted(
        (int(d.split("=", 1)[1]), d)
        for d in os.listdir(feed_root)
        if d.startswith("micro_batch=")
    )
    assert len(feed_dirs) == 2
    for _, d in feed_dirs:
        ivm.apply_changes(
            replay, spark.read.parquet(os.path.join(feed_root, d)),
            "T", ["k"], num_buckets=4,
        )
    assert got == sorted((r.k, r.v) for r in replay.read("T").collect())

    # (c) replayed LAST trigger (the only one the checkpoint contract
    # can replay): same feed, no spurious version
    ver_before = cat.current_version("T")
    feed1 = os.path.join(feed_root, feed_dirs[1][1])
    before = sorted(
        (r.op, r.k, r.v) for r in spark.read.parquet(feed1).collect()
    )
    _merge_and_emit_changes(
        cat,
        spark.createDataFrame(t2, "k long, v string, op string"),
        feed_dirs[1][0], "T", ["k"], feed_root, "op", None, 4,
    )
    assert cat.current_version("T") == ver_before
    assert before == sorted(
        (r.op, r.k, r.v) for r in spark.read.parquet(feed1).collect()
    )
    # ... and a replay of an OLD trigger whose versions were vacuumed
    # keeps its existing feed dir untouched instead of erasing it
    feed0 = os.path.join(feed_root, feed_dirs[0][1])
    before0 = sorted(
        (r.op, r.k, r.v) for r in spark.read.parquet(feed0).collect()
    )
    _merge_and_emit_changes(
        cat,
        spark.createDataFrame(t1, "k long, v string, op string"),
        feed_dirs[0][0], "T", ["k"], feed_root, "op", None, 4,
    )
    assert cat.current_version("T") == ver_before
    assert before0 == sorted(
        (r.op, r.k, r.v) for r in spark.read.parquet(feed0).collect()
    )
    # the deleted key's feed row carries op 'D' with the old value
    assert ("D", 7, "v7") in before0


def test_stream_cluster_maintenance_rejects_object_store_uri(spark, tmp_path):
    """The manifest/compaction path is driver-local-FS by contract: an
    object-store URI must raise up front, not silently read an empty
    store (ADVICE r10)."""
    import pytest as _pytest

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_cluster_maintenance,
    )

    import os

    src = tmp_path / "empty_src"
    os.makedirs(str(src), exist_ok=True)
    with _pytest.raises(NotImplementedError, match="driver-local"):
        stream_cluster_maintenance(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src)),
            None, None, None, "labels",
            "s3://bucket/store", str(tmp_path / "ck"),
            "doc_id", "text",
        )
