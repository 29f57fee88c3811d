"""Physical-plan assertions (SURVEY.md section 5 item 5): the scale
properties are plan properties, so pin them - filters reach the parquet
scan, small dims broadcast, anti/semi joins stay first-class, parity
paths never leave the JVM, staging reads prune partitions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

from ghcrawler_datalake_etl_spark.sources import ivm

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(qe, mode)


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    p = plan(queries["p1_eq_filter"](spark, SF_DIR))
    assert "PushedFilters" in p
    assert "l_returnflag" in p.split("PushedFilters")[1][:400], (
        "equality predicate not pushed to the parquet scan"
    )


def test_column_pruning_reaches_scan(spark, queries):
    p = plan(queries["p2_like_filter"](spark, SF_DIR))
    read_schema = p.split("ReadSchema")[1][:400]
    assert "p_name" in read_schema
    # part has 9 columns; the query selects 3 - the scan must not read others
    assert "p_retailprice" not in read_schema, "unused column not pruned"


def test_small_dims_broadcast(spark, queries):
    p = plan(queries["j1_inner_join_agg"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, "dim joins must broadcast, not sort-merge"


def test_anti_and_semi_joins_first_class(spark, queries):
    p_anti = plan(queries["j2_anti_join"](spark, SF_DIR))
    p_semi = plan(queries["j4_semi_join"](spark, SF_DIR))
    assert "LeftAnti" in p_anti
    assert "LeftSemi" in p_semi


def test_whole_stage_codegen_covers_agg(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF_DIR)
    assert "WholeStageCodegen" in plan(df, "codegen")
    # map-side partial aggregation: the shuffle carries 6 groups, not rows
    simple = plan(df, "simple")
    assert "partial_sum" in simple


@pytest.mark.slow
def test_parity_paths_have_no_python(spark, queries):
    """Every reference-parity operator must stay JVM-side (SURVEY.md 2.8);
    Python is allowed only in the explicitly-pandas extension paths."""
    pandas_ok = {"sim_knn_pandas_gemm", "sim_knn_int8_dot",
                 "multimodal_features",
                 "multimodal_frames", "multimodal_audio_chunks",
                 "dedup_minhash_lsh",
                 "dedup_simhash_values", "dedup_embedding_cosine",
                 # round-3 pandas-backed extensions (cogroup/group GEMMs)
                 "sim_knn_graph", "dedup_semantic_prune",
                 "dedup_minhash_clusters",
                 # round-5 mapInPandas decoders: perceptual hash and
                 # PCM audio stats ride the same Arrow-batched shape
                 # as multimodal_features
                 "multimodal_phash_pairs", "multimodal_audio_stats",
                 # round-8 driver-oracled real-codec arms: payloads are
                 # BUILT (encode) and decoded in Arrow-batched
                 # mapInPandas stages by design
                 "multimodal_gif_frames", "multimodal_gif_resize",
                 "multimodal_wav_stats", "multimodal_image_features",
                 # round-9 incremental-index screens: batch-side minhash
                 # signatures ride the same Arrow-batched pandas_udf as
                 # dedup_minhash_lsh (the JVM-expression twin exists and
                 # is equivalence-pinned; pandas is the measured-faster
                 # default, see minhash_signature_pandas_udf)
                 "dedup_incremental_index", "stream_lsh_dedup",
                 # round-10 standing-cluster maintenance: its LSH pair
                 # generation is the same Arrow-batched signature
                 # pandas_udf as dedup_minhash_clusters; the fold
                 # itself (contract + propagate + relabel) is pure JVM
                 "dedup_incremental_clusters",
                 # round-11 composed daily flagship: its LSH-screen
                 # stage rides the same Arrow-batched signature
                 # pandas_udf as dedup_incremental_index; paragraph/
                 # span/pack stages are pure JVM (plan counted 0
                 # BatchEvalPython / 0 InPandas beyond the sig nodes)
                 "pipeline_daily_ingest",
                 # round-11 leakage-safe split: its cluster labels come
                 # from the same Arrow-batched signature pandas_udf as
                 # dedup_minhash_clusters; the split itself (join +
                 # md5-bucket projection) is pure JVM
                 "split_leakage_safe",
                 # round-12 incremental semantic screen: the per-cell
                 # batch-vs-store GEMM rides the same Arrow-batched
                 # applyInPandas shape as dedup_semantic_prune (its
                 # batch twin, whitelisted above); assignment and the
                 # cell prune are pure JVM
                 "dedup_semantic_incremental"}
    for name, fn in entrymod.queries().items():
        p = plan(fn(spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in p, f"{name}: row-at-a-time Python UDF"
        if name not in pandas_ok:
            # "InPandas" catches every Arrow-batched node shape:
            # MapInPandas, FlatMapGroupsInPandas, FlatMapCoGroupsInPandas
            # (the old "MapInPandas" substring silently missed the
            # grouped/cogrouped forms)
            assert "ArrowEvalPython" not in p and "InPandas" not in p, (
                f"{name}: unexpected Python stage"
            )


def test_salted_join_spreads_key(spark, queries):
    """The skew rewrite must actually join on (key, salt), not key."""
    p = plan(queries["j5_salted_skew_join"](spark, SF_DIR), "simple")
    assert "_salt" in p and "xxhash64" in p


def test_two_stage_distinct_count_is_expand_free(spark, queries):
    """The explicit rewrite hash-aggregates twice; no Expand node (the
    built-in count-distinct planning) and no sort anywhere."""
    p = plan(queries["a5_distinct_count_two_stage"](spark, SF_DIR), "simple")
    assert p.count("HashAggregate") >= 2
    assert "Expand" not in p and "Sort" not in p


def test_latest_by_maxby_strategy_is_sort_free(spark, queries):
    """The 100 TB dedup form must hash-aggregate, not window-sort."""
    p = plan(queries["w1_maxby_latest_event_per_user"](spark, SF_DIR), "simple")
    assert "Window" not in p
    p_window = plan(queries["w1_latest_event_per_user"](spark, SF_DIR), "simple")
    assert "Window" in p_window


def test_staging_read_prunes_partitions(spark, tmp_path):
    """The daily-batch idiom: reading one ingest_date must touch one
    partition directory (the reference's partition-swap contract,
    /root/reference/USQL/StageData.usql:24-36)."""
    import json

    from ghcrawler_datalake_etl_spark.sources.staging import (
        read_staging,
        stage_json,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    doc = {
        "_metadata": {
            "type": "repo",
            "fetchedAt": "2024-01-05T10:00:00Z",
            "processedAt": "2024-01-05T10:00:00Z",
            "links": {"self": {"href": "urn:repo:1"}},
        },
        "id": 1,
    }
    (raw / "d.json").write_text(json.dumps(doc) + "\n")
    staging = str(tmp_path / "staging")
    stage_json(spark, str(raw), staging, "2024-01-05")
    stage_json(spark, str(raw), staging, "2024-01-06")
    day = read_staging(spark, staging, "2024-01-05")
    p = plan(day)
    assert "PartitionFilters" in p
    pf = p.split("PartitionFilters")[1][:300]
    assert "ingest_date" in pf, "ingest_date filter not used for pruning"
    assert day.count() == 1


def test_topk_is_take_ordered_not_global_sort(spark, queries):
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # k then merge) - a global Sort before the limit would funnel every
    # row through one ordering at 100 TB
    p = plan(queries["q3_unshipped_topk"](spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p
    assert "GlobalLimit" not in p


def test_grouping_sets_single_shuffle(spark, queries):
    # rollup/cube = Expand + one aggregate exchange, not one job per set
    for name in ("agg_rollup_daily", "cube_status_priority"):
        p = plan(queries[name](spark, SF_DIR), "simple")
        assert "Expand" in p, name
        assert p.count("Exchange hashpartitioning") == 1, name


def test_pivot_declared_columns_single_job(spark, queries):
    # declared pivot values: one aggregate over user_id, no extra
    # distinct-scan of event_type anywhere in the plan
    p = plan(queries["pivot_user_event_matrix"](spark, SF_DIR), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_span_dedup_no_pairwise_join(spark, queries):
    # first-occurrence span dedup is index+join-back - any nested-loop /
    # cartesian product means the pairwise blow-up snuck back in
    for name in ("dedup_span_first_occurrence", "decontaminate_eval_overlap"):
        p = plan(queries[name](spark, SF_DIR), "simple")
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_pack_shards_no_global_single_partition_sort(spark):
    """pack_shards' cumulative sum must be two-level (bin-partitioned
    window + tiny offsets frame), never one Window.orderBy funnelling
    the dataset through a single task. The only SinglePartition exchange
    allowed is the one over the num_bins-row offsets aggregate."""
    from pyspark.sql import Window

    from ghcrawler_datalake_etl_spark.operators.sampling import pack_shards

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.length("text").alias("wt")
    )
    out = pack_shards(d, "doc_id", "wt", 50000, num_bins=8)
    p = plan(out)
    # the data-bearing window partitions by bin
    assert "windowspecdefinition(_bin" in p
    # numeric-key path: _bin is a deterministic expression of the key
    # (approxQuantile boundaries), so NO full-frame persist remains
    # (the round-2 verdict flagged the eager materialize as a real
    # 100 TB cost) and no spark_partition_id in the plan
    assert "InMemoryTableScan" not in p and "InMemoryRelation" not in p
    assert "SPARK_PARTITION_ID" not in p.upper()
    # exact same assignment as the reference single-window form
    ref = d.withColumn(
        "shard_id",
        F.floor(
            F.coalesce(
                F.sum(F.col("wt").cast("double")).over(
                    Window.orderBy("doc_id").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0.0),
            )
            / 50000.0
        ).cast("long"),
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_pack_shards_string_key_no_persist_no_partition_id(spark):
    """A STRING-keyed pack must take the same deterministic quantile
    path as numeric keys (via the monotone byte-prefix proxy), never
    the old repartitionByRange + spark_partition_id + eager persist
    fallback the round-3 verdict flagged as the last default-path
    scale-killer - and must still equal the single-window form."""
    from pyspark.sql import Window

    from ghcrawler_datalake_etl_spark.operators.sampling import pack_shards

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("k"),
        F.length("text").alias("wt"),
    )
    out = pack_shards(d, "k", "wt", 50000, num_bins=8)
    p = plan(out)
    assert "windowspecdefinition(_bin" in p
    assert "InMemoryTableScan" not in p and "InMemoryRelation" not in p
    assert "SPARK_PARTITION_ID" not in p.upper()
    ref = d.withColumn(
        "shard_id",
        F.floor(
            F.coalesce(
                F.sum(F.col("wt").cast("double")).over(
                    Window.orderBy("k").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0.0),
            )
            / 50000.0
        ).cast("long"),
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_bm25_plan_filters_before_shuffle_and_takes_ordered(spark, queries):
    # the query-term filter must sit below the tf aggregation (the only
    # data-sized shuffle carries matched terms, never the vocabulary)
    # and the final ranking must be a distributed top-k
    p = plan(queries["search_bm25_topk"](spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p
    agg_pos = p.find("HashAggregate")
    filt_pos = p.rfind("Filter")
    assert agg_pos != -1 and filt_pos != -1
    assert filt_pos > agg_pos, "term filter not below the tf aggregation"


def test_boilerplate_marking_broadcasts_no_sort_merge(spark, queries):
    # the boilerplate SET is threshold-bounded, so both the per-source
    # totals join and the marking join must be broadcast - a
    # SortMergeJoin would mean the corpus lines shuffled for marking;
    # the only corpus-wide shuffles are the frequency aggregation and
    # the doc_id reassembly
    for name in ("text_boilerplate_lines", "text_boilerplate_incremental"):
        p = plan(queries[name](spark, SF_DIR), "simple")
        assert "SortMergeJoin" not in p, f"{name}: marking join shuffled"
        assert p.count("BroadcastHashJoin") >= 2, f"{name}: {p}"
        assert "CartesianProduct" not in p, name


def test_hybrid_rrf_fuses_topk_lists_distributed(spark, queries):
    # both retriever lists end in a distributed top-k and the fused
    # ranking does too - no global sort anywhere in the fusion
    p = plan(queries["search_hybrid_rrf"](spark, SF_DIR), "simple")
    assert p.count("TakeOrderedAndProject") >= 2, p
    assert "CartesianProduct" not in p.replace(
        "BroadcastNestedLoopJoin", ""
    ), p


def test_semantic_incremental_probe_is_cell_pruned(spark, queries):
    # the standing-postings probe must be a broadcast SEMI join on the
    # batch's own cells (untouched cells never read) and the pair space
    # must never degrade to a cartesian; the only Python stage is the
    # per-cell GEMM (FlatMapGroupsInPandas), whitelisted below
    p = plan(queries["dedup_semantic_incremental"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p, p
    assert "LeftSemi" in p, f"postings probe not a semi join:\n{p}"
    assert "BroadcastHashJoin" in p, f"cell prune not broadcast:\n{p}"


def test_bm25_index_path_prunes_at_scan_and_matches_direct(spark, queries):
    # the persisted-index query's only data-sized touch is the postings
    # scan under the query-term predicate - it must reach the parquet
    # scan as a pushed filter, and the ranking must stay a distributed
    # top-k; results are bit-identical to the direct operator (shared
    # scoring tail)
    from ghcrawler_datalake_etl_spark.operators import search as SR

    out = queries["search_bm25_incremental"](spark, SF_DIR)
    p = plan(out, "formatted")
    assert "TakeOrderedAndProject" in p
    import re as _re

    assert _re.search(r"PushedFilters: \[.*[Ii]n\(term", p), (
        f"query-term predicate not pushed to the postings scan:\n{p[:2000]}"
    )
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    import ghcrawler_datalake_etl_spark.queries as Q

    direct = SR.bm25_topk(
        d, "doc_id", "text", list(Q._BM25_TERMS), top_k=10
    )
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_fold_stats_delta_never_shuffles_standing(spark):
    # the standing stats table is table-sized (every group ever seen);
    # the fold must prune it with a broadcast SEMI on the feed's groups
    # and broadcast the feed-sized survivors into the outer join - no
    # SortMergeJoin, no Exchange of the standing side at any scale
    from ghcrawler_datalake_etl_spark.sources.ivm import fold_stats_delta

    feed = spark.createDataFrame(
        [("I", 1, "a", 10)], "op string, k long, g string, cents long"
    )
    standing = spark.range(1000).selectExpr(
        "cast(id as string) g", "id n", "id n_vals", "id sum_v"
    )
    p = plan(fold_stats_delta(feed, standing, ["g"], "cents"), "simple")
    assert "SortMergeJoin" not in p, p
    assert "LeftSemi" in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_narrow_text_operators_have_no_exchange(spark, queries):
    # chunking, redaction, and repetition metrics are pure projections
    # (plus a generate for chunking): any Exchange would mean a shuffle
    # crept into a scan-scaling path. fan_out's RoundRobin repartition
    # on under-split local files is the one allowed exchange.
    for name in ("text_chunk_windows", "text_redact_pii",
                 "text_repetition_metrics", "text_gopher_filter"):
        p = plan(queries[name](spark, SF_DIR), "simple")
        stripped = p.replace("Exchange RoundRobinPartitioning", "")
        assert "Exchange" not in stripped, f"{name} shuffles:\n{p}"


def test_kmeans_assignment_is_narrow(spark):
    # the E-step must be a pure projection against literal centroids -
    # centroids ride in the plan, data never moves
    from ghcrawler_datalake_etl_spark.operators import clustering as C

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = C.assign_clusters(df, "vec_id", "embedding",
                            [[0.0] * 64, [0.1] * 64])
    p = plan(out, "simple")
    assert "Exchange" not in p, p


def test_fixed_n_and_vocab_are_distributed_topk(spark, queries):
    # exact-n carving and the Zipf head must both compile to
    # TakeOrderedAndProject (per-partition n, merge n) - never a global
    # sort of the losers
    from ghcrawler_datalake_etl_spark.operators.sampling import sample_fixed_n

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p1 = plan(sample_fixed_n(d, "doc_id", 40), "simple")
    assert "TakeOrderedAndProject" in p1 and "GlobalLimit" not in p1
    p2 = plan(queries["corpus_vocabulary_topk"](spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p2 and "GlobalLimit" not in p2


def test_kmeans_best_uses_nested_literal_at_large_k(spark):
    """_best must carry the centroid matrix as ONE nested-array literal
    (like similarity._nearest_cells), never k*d unrolled inline
    literals whose codegen compilation dominates at large k. At k=64,
    d=64 the unrolled form would put ~4096 literal nodes in the plan;
    the nested form stays a single constant."""
    from ghcrawler_datalake_etl_spark.operators import clustering as C

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [[float(i) / (j + 1) for j in range(64)] for i in range(64)]
    out = C.assign_clusters(df, "vec_id", "embedding", cents)
    p = plan(out, "simple")
    assert "Exchange" not in p, p
    # the unrolled form repeats zip_with once per centroid; the nested
    # form contains exactly one zip_with inside one transform
    assert p.lower().count("zip_with") <= 2, (
        f"{p.lower().count('zip_with')} zip_with nodes - centroid "
        "matrix appears unrolled per centroid"
    )
    # result sanity at k=64: every row assigned, cluster in range
    import pyspark.sql.functions as SF
    agg = out.agg(SF.min("cluster"), SF.max("cluster"), SF.count("*")).collect()[0]
    assert agg[2] > 0 and 0 <= agg[0] and agg[1] <= 63



def test_bpe_pairs_vocab_sized_shuffle_and_topk(spark, queries):
    # the word count must partial-aggregate map-side (the only
    # corpus-sized shuffle carries (word, partial count)); the pair
    # ranking must be a distributed top-k, never a global sort
    p = plan(queries["text_bpe_pair_stats"](spark, SF_DIR), "simple")
    assert "partial_count" in p or "partial_sum" in p, p
    assert "TakeOrderedAndProject" in p and "GlobalLimit" not in p



def test_bpe_driver_trained_vocab_is_local_relation(spark):
    # VERDICT r4 #1: the default (driver) trainer must leave the fitted
    # vocabulary as a driver-local relation - the plan proof that
    # training issued no per-merge distributed jobs (O(1) actions in
    # num_merges). The distributed twin keeps its scan-rooted lineage.
    import ghcrawler_datalake_etl_spark.operators.text as TX

    df = spark.createDataFrame(
        [(0, "low lower lowest newer newest wide widest")],
        "doc_id long, text string",
    )
    _, vocab = TX.bpe_train_merges(df, "text", num_merges=6)
    p = plan(vocab, "simple")
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p, p
    _, dvocab = TX.bpe_train_merges(
        df, "text", num_merges=2, strategy="distributed"
    )
    dp = plan(dvocab, "simple")
    assert "LocalTableScan" not in dp, dp


def test_tfidf_cosine_is_distributed_topk(spark, queries):
    # query-independent norms are corpus-wide by nature, but the final
    # ranking must still be a distributed top-k, and the word count
    # must partial-aggregate map-side
    p = plan(queries["search_tfidf_cosine"](spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p and "GlobalLimit" not in p
    assert "partial_count" in p or "partial_sum" in p



def test_knn_graph_blocked_group_no_cartesian(spark, queries):
    """The self-kNN graph must decompose into the grouped block-pair
    union (FlatMapGroupsInPandas over the side-tagged fan-out) - never
    a cartesian/broadcast-nested-loop self-join, which is the
    O(n^2)-shuffle shape it exists to avoid."""
    p = plan(queries["sim_knn_graph"](spark, SF_DIR), "simple")
    assert "FlatMapGroupsInPandas" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_edit_distance_join_is_hash_join_on_variant_key(spark, queries):
    """Round-8: the edit-distance joins (now both in the driver window
    and #2 in the bench) must get candidates from ONE equi-join on the
    xxhash64 deletion-variant key - a shuffled hash join, never a
    cartesian/broadcast-nested-loop product (the all-pairs collapse the
    deletion-neighborhood scheme exists to avoid), and never a
    levenshtein predicate INSIDE a join condition (which Spark would
    only be able to run as a nested-loop)."""
    for name in ("j7_edit_distance_join", "j8_edit_distance2_join"):
        p = plan(queries[name](spark, SF_DIR), "simple")
        assert "CartesianProduct" not in p, (name, p)
        assert "BroadcastNestedLoopJoin" not in p, (name, p)
        # candidates come from a HASH join on the variant key (at d=1
        # Catalyst folds the levenshtein verify into the hash join's
        # residual condition - evaluated only on key matches, which is
        # exactly right); d=2 verifies after the pair-dedup aggregate
        assert "HashJoin" in p or "SortMergeJoin" in p, (name, p)
        assert "levenshtein" in p, (name, p)


def test_prefix_jaccard_plan_shape(spark, queries):
    """Round-9: the prefix-filtered join must be pure JVM (no Python
    anywhere - it is Column-expression end to end), get candidates
    from an EQUI-join on the prefix tokens (no cartesian / nested
    loop), and keep its token-frequency count map-side combinable."""
    p = plan(queries["dedup_prefix_jaccard"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "InPandas" not in p, p
    assert "HashJoin" in p or "SortMergeJoin" in p, p
    assert "partial_count" in p, p  # token df count combines map-side


def test_incremental_index_dedup_plan_shape(spark, queries):
    """Round-9: the batch-vs-corpus screen must (a) get candidates
    from an EQUI-join on the (band_idx, band_hash) keys - never a
    cartesian/nested-loop product of batch x corpus - (b) cut the
    row_number-per-batch_id pick to a WindowGroupLimit (rank-limit
    pushdown: top-1 survives partial sort, the full per-key sort never
    materializes), and (c) never evaluate Python row-at-a-time (the
    signature UDF is Arrow-batched)."""
    p = plan(queries["dedup_incremental_index"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "HashJoin" in p or "SortMergeJoin" in p, p
    assert "WindowGroupLimit" in p, p
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" in p, p


def test_semantic_prune_scores_per_cluster_group(spark, queries):
    """SemDeDup's pair scoring must ride ONE shuffle keyed on the
    cluster id (FlatMapGroupsInPandas over groupby(cluster)); the only
    join is the broadcast left join of the dropped-id set back onto the
    assignment - no cartesian, no sort-merge self-join."""
    p = plan(queries["dedup_semantic_prune"](spark, SF_DIR), "simple")
    assert "FlatMapGroupsInPandas" in p, p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p, p


def test_target_mix_single_pass_no_join_no_global_sort(spark, queries):
    """The per-group quotas ride into the plan as one literal map (they
    were computed from a bounded driver pull), so the corpus pass is a
    single group-partitioned window - no join of any kind and no global
    (non-partitioned) sort."""
    p = plan(queries["sample_target_mix"](spark, SF_DIR))
    assert "Join" not in p, p
    assert "windowspecdefinition(lang" in p, p
    # global sorts print as `Sort [...], true, 0` in formatted plans
    assert ", true, 0" not in p, f"global sort crept in:\n{p}"


def test_top_share_single_window_shuffle(spark, queries):
    """Rank and group-count ride ONE group-partitioned exchange (the
    sort satisfies both window specs); no join, no global sort."""
    p = plan(queries["sample_top_share_quality"](spark, SF_DIR), "simple")
    stripped = p.replace("Exchange RoundRobinPartitioning", "")
    assert stripped.count("Exchange") == 1, p
    assert "Join" not in p, p


def test_bigram_lm_partial_agg_and_broadcast_consts(spark, queries):
    """The corpus-sized shuffles (bigram tf, model counts) must
    partial-aggregate map-side, and the one-row constants frame must
    ride a broadcast - never a shuffled join."""
    p = plan(queries["text_bigram_logprob"](spark, SF_DIR), "simple")
    assert "partial_count" in p or "partial_sum" in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_dsir_broadcast_model_and_distributed_topk(spark, queries):
    """The bucket model (<= num_buckets rows) must broadcast into the
    scoring join, and the global top-n must compile to
    TakeOrderedAndProject - never a full sort of the corpus."""
    p = plan(queries["sample_dsir_select"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "SortMergeJoin" not in p, p


def test_pq_adc_is_broadcast_table_lookup(spark, queries):
    """The ADC scoring plan must join the corpus code rows to a
    BROADCAST query-distance table and never fall back to a cartesian
    or sort-merge join; training happens before the plan (bounded
    pulls), so no fit machinery appears in it."""
    p = plan(queries["sim_pq_adc_topk"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p, p


def test_keep_best_broadcasts_cluster_frame(spark, queries):
    """Both the winner join and the singleton anti-join must broadcast
    the pair-bounded clusters frame - the corpus never shuffles for
    either."""
    p = plan(queries["dedup_keep_best_quality"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_keep_best_measured_broadcast_policy(spark):
    """VERDICT r4 #7: broadcast_clusters=None sizes the clusters frame
    against spark.sql.autoBroadcastJoinThreshold - small frames take
    the broadcast arm, an over-threshold (or broadcast-disabled)
    session takes shuffle joins, and both arms agree on results."""
    import ghcrawler_datalake_etl_spark.operators.dedup as DD

    scored = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(40)], "doc_id long, quality double"
    )
    clusters = spark.createDataFrame(
        [(i, i // 2) for i in range(20)], "node long, cluster_id long"
    )
    auto = DD.keep_best_per_cluster(scored, clusters)
    p = plan(auto, "simple")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = DD.keep_best_per_cluster(scored, clusters)
        p2 = plan(shuffled, "simple")
        assert "BroadcastHashJoin" not in p2, p2
        got = sorted(map(tuple, shuffled.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert got == sorted(map(tuple, auto.collect()))
    # a tiny positive threshold also routes to the shuffle arm
    assert DD._size_bytes("-1") == -1
    assert DD._size_bytes("10m") == 10 << 20
    assert DD._size_bytes("10485760b") == 10485760
    assert DD._size_bytes("1G") == 1 << 30


def test_random_projection_is_shuffle_free_projection(spark, queries):
    # a JL projection is one narrow Project over the scan: any Exchange
    # or Python evaluation node means the operator regressed
    p = plan(queries["embedding_random_projection"](spark, SF_DIR), "simple")
    assert "Exchange" not in p, p
    assert "Python" not in p and "BatchEvalPython" not in p, p


def test_temperature_mix_no_global_sort(spark, queries):
    # selection ranks within each group: the window must partition by
    # the group column; no global (empty-partition) sort anywhere
    p = plan(queries["sample_temperature_mix"](spark, SF_DIR), "simple")
    assert "windowspecdefinition(lang" in p, p
    assert "Exchange SinglePartition" not in p, p


def test_bpe_encode_ids_broadcasts_symbol_table(spark, queries):
    # the (chars + merges)-sized symbol-id table must broadcast into
    # the corpus-sized token stream join
    p = plan(queries["text_bpe_encode_ids"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p, p


def test_remove_substrings_plan_shape(spark, queries):
    """Round-10 (shape updated by the round-14 optimization): the
    Lee-et-al substring remover must be pure JVM (gram hashing is
    Column-side array algebra - no Python anywhere), take its
    first-occurrence from a whole-partition window min on the window
    hash (ONE exchange on the digest; the round-10 groupBy(min) +
    join-back computed the digest subtree twice - never a cartesian
    pair-up either way), and join coverage flags back by equi-join."""
    p = plan(queries["dedup_remove_substrings"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "InPandas" not in p, p
    assert "HashJoin" in p or "SortMergeJoin" in p, p
    # first-occurrence is a window min over the digest partition (one
    # digest computation), not an agg + self-join (two)
    assert "windowspecdefinition(gh" in p, p
    assert "partial_min" not in p, p


def test_incremental_substrings_plan_shape(spark, queries):
    """Round-11: the store-screen twin keeps the batch operator's
    contract - pure JVM, no cartesian/nested-loop pair-up, map-side
    first-occurrence - and the store probe is an equi-join on the
    digest (a hash or sort-merge join, never a broadcast nested
    loop)."""
    p = plan(queries["dedup_incremental_substrings"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "InPandas" not in p, p
    # round-14 optimization: first-occurrence is a window min on the
    # digest, not the round-11 agg + self-join (see the batch twin)
    assert "windowspecdefinition(gh" in p, p
    assert "partial_min" not in p, p
    assert "HashJoin" in p or "SortMergeJoin" in p, p


def test_table_changes_reads_only_changed_buckets(spark, tmp_path):
    """Round-11: changefeed emission's scan set is the CHANGED buckets
    only - a sparse one-key update against a 16-bucket table must
    plan a diff whose input files all live under one bucket dir per
    side, and the join is a key equi-join (no nested loop)."""
    from pyspark.sql import functions as F

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    cat.merge_upsert(base, "T", ["k"], num_buckets=16)
    cat.merge_upsert(
        spark.createDataFrame([(7, 1000)], "k long, v long"),
        "T", ["k"], num_buckets=16,
    )
    feed = ivm.table_changes(cat, "T", 0, 1)
    bucket = (
        spark.createDataFrame([(7,)], "k long")
        .select(F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"))
        .collect()[0][0]
    )
    files = feed.inputFiles()
    assert files, "diff read no files"
    assert all(f"_kb={bucket}/" in f for f in files), files
    p = feed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_drop_paragraphs_plan_shape(spark, queries):
    """Round-10: paragraph dedup is one md5-keyed window (paragraph
    text never shuffles as a key - only its digest) plus one groupBy
    reassembly: pure JVM, no join of any kind, no cartesian."""
    p = plan(queries["dedup_drop_paragraphs"](spark, SF_DIR), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "InPandas" not in p, p
    assert "Join" not in p, p
    assert "md5" in p, p  # the window partitions on the digest
